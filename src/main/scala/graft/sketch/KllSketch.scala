package graft.sketch

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

/** KLL quantile sketch (Karnin, Lang, Liberty 2016, "Optimal Quantile
  * Approximation in Streams"): a hierarchy of compactors where level h
  * holds items of weight 2^h; when a level overflows its capacity
  * ~ k * c^(H-1-h) (c = 2/3, floor 2), it sorts, keeps every other item
  * (random even/odd offset), and promotes the survivors one level up.
  *
  * Published bound: additive rank error eps*n with eps = O(1/k) with high
  * probability; for k=200 the constant-factor bound used by the tests is
  * eps ~= 1.65/k at ~99% confidence. Merge concatenates levels then
  * re-compacts — associative up to the sketch's own error bound (unlike
  * Bloom/HLL/CMS, byte-identity under re-ordering is not a KLL property;
  * the compaction coin-flips make two merge orders differ within eps).
  *
  * Coin flips come from a deterministic xorshift PRNG seeded from the
  * sketch config, so a given update sequence is fully reproducible.
  * Levels store primitive double arrays (DoubleBuf) — boxing here was the
  * dominant allocation source under 32-way parallelism.
  */
final class KllSketch private (
    val k: Int,
    private var nTotal: Long,
    private var levels: ArrayBuffer[DoubleBuf],
    private var rngState: Long) extends Mergeable[KllSketch] with Serializable {

  import KllSketch._

  def n: Long = nTotal

  /** Test hook: the merge-RNG state must never be zero (xorshift64* is
    * a fixed point at 0 — see the parenthesization note in merge). */
  private[sketch] def rngStateForTest: Long = rngState

  @inline private def nextBit(): Boolean = {
    // xorshift64*
    var x = rngState
    x ^= x >>> 12
    x ^= x << 25
    x ^= x >>> 27
    rngState = x
    (x * 0x2545f4914f6cdd1dL) < 0
  }

  private def capacity(level: Int): Int = {
    val depth = levels.length - 1 - level
    math.max(2, math.ceil(k * math.pow(C, depth.toDouble)).toInt)
  }

  // cached item count and total capacity: the update hot path must be
  // O(1) — recomputing these per row made updates O(levels^2) (found by
  // stack sampling; see BENCH.md history)
  @transient private var itemCnt: Int = -1
  @transient private var capTotal: Int = -1

  @inline private def refreshCounts(): Unit = {
    var total = 0
    var cap = 0
    var h = 0
    while (h < levels.length) {
      total += levels(h).length
      cap += capacity(h)
      h += 1
    }
    itemCnt = total
    capTotal = cap
  }

  def update(v: Double): Unit = {
    // capTotal >= 2 whenever counts are fresh; 0 covers the transient
    // default after plain-JVM deserialization, -1 the pre-init state
    if (capTotal <= 0) refreshCounts()
    levels.head.add(v)
    nTotal += 1
    itemCnt += 1
    if (itemCnt >= capTotal) compress()
  }

  private def compress(): Unit = {
    var h = 0
    while (h < levels.length) {
      if (levels(h).length >= capacity(h) && itemCnt >= capTotal) {
        compactLevel(h)
        refreshCounts() // levels may have grown; capacities shift with depth
      }
      h += 1
    }
  }

  private def compactLevel(h: Int): Unit = {
    val buf = levels(h)
    if (buf.length < 2) return
    if (h == levels.length - 1) levels += new DoubleBuf()
    val sorted = buf.sortedArray()
    // compact an even-length run; an odd straggler stays behind so total
    // weight is conserved exactly
    val evenLen = sorted.length & ~1
    val leftover = new DoubleBuf()
    if (sorted.length % 2 == 1) leftover.add(sorted(sorted.length - 1))
    val offset = if (nextBit()) 1 else 0
    val up = levels(h + 1)
    var i = offset
    while (i < evenLen) {
      up.add(sorted(i))
      i += 2
    }
    levels(h) = leftover
  }

  def merge(other: KllSketch): KllSketch = {
    require(k == other.k, s"Incompatible KLL sketches: k=$k vs k=${other.k}")
    while (levels.length < other.levels.length) levels += new DoubleBuf()
    var h = 0
    while (h < other.levels.length) {
      levels(h).addAll(other.levels(h))
      h += 1
    }
    nTotal += other.nTotal
    // parenthesization matters: `a ^= b | 1` zeroes the state whenever
    // both sides carry the same (deterministic, odd) fresh seed — the
    // COMMON case of merging two never-compacted partials — and
    // xorshift64* is a fixed point at 0, killing the random offset the
    // rank-error bound assumes. Mix first, then force non-zero.
    rngState = (rngState ^ other.rngState) | 1L
    refreshCounts()
    compress()
    this
  }

  /** Value at quantile q in [0,1] (weighted rank interpolation). */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    if (nTotal == 0) return Double.NaN
    val items = weightedItems()
    val targetRank = q * nTotal
    var cum = 0.0
    var i = 0
    while (i < items.length) {
      cum += items(i)._2
      if (cum >= targetRank) return items(i)._1
      i += 1
    }
    items.last._1
  }

  /** Approximate rank (count of items <= v). */
  def rank(v: Double): Long = {
    var r = 0.0
    var h = 0
    while (h < levels.length) {
      val w = 1L << h
      val buf = levels(h)
      var i = 0
      while (i < buf.length) {
        if (buf(i) <= v) r += w
        i += 1
      }
      h += 1
    }
    math.round(r)
  }

  /** Equal-width histogram over [min, max] from the O(k) summary alone:
    * `nBins` (lo, hi, cnt) triples whose counts partition n exactly
    * (rank differences, clamped monotone); a single-valued summary
    * collapses to one bin; empty summary yields no bins. Each count is
    * within the sketch's eps*n rank error of the true bin count. The
    * ONE implementation behind both the `kll_histogram` SQL expression
    * and ProfileJob — two copies of this arithmetic drifted once. */
  def histogram(nBins: Int): Seq[(Double, Double, Long)] = {
    require(nBins >= 1, s"histogram requires nBins >= 1, got $nBins")
    if (nTotal == 0L) return Seq.empty
    val lo = quantile(0.0)
    val hi = quantile(1.0)
    if (lo == hi) return Seq((lo, hi, nTotal))
    val width = (hi - lo) / nBins
    var prev = 0L
    (1 to nBins).map { b =>
      val binHi = if (b == nBins) hi else lo + width * b
      val r = if (b == nBins) nTotal else rank(binHi)
      val out = (lo + width * (b - 1), binHi, math.max(0L, r - prev))
      prev = math.max(prev, r)
      out
    }
  }

  private def weightedItems(): Array[(Double, Long)] = {
    val out = new ArrayBuffer[(Double, Long)]
    var h = 0
    while (h < levels.length) {
      val w = 1L << h
      levels(h).foreach(v => out += ((v, w)))
      h += 1
    }
    out.sortBy(_._1).toArray
  }

  def serialize(): Array[Byte] = {
    val nItems = levels.map(_.length).sum
    val buf = ByteBuffer.allocate(4 + 1 + 4 + 8 + 8 + 4 + levels.length * 4 + nItems * 8)
    buf.putInt(Magic)
    buf.put(Version)
    buf.putInt(k)
    buf.putLong(nTotal)
    buf.putLong(rngState)
    buf.putInt(levels.length)
    levels.foreach { l =>
      buf.putInt(l.length)
      l.foreach(buf.putDouble(_))
    }
    buf.array()
  }

  def copy(): KllSketch =
    new KllSketch(k, nTotal, levels.map(_.copy()), rngState)
}

object KllSketch extends SketchFormat[KllSketch] {
  val name = "kll"
  final val C = 2.0 / 3.0
  final val Magic = 0x4b4c4c31 // "KLL1"
  final val Version: Byte = 1

  def apply(k: Int = 200): KllSketch = {
    require(k >= 8, s"k must be >= 8, got $k")
    new KllSketch(k, 0L, ArrayBuffer(new DoubleBuf()), seedFor(k))
  }

  private def seedFor(k: Int): Long = 0x9e3779b97f4a7c13L * (k + 1)

  /** Published-bound constant used by the acceptance tests: eps ~= 1.65/k. */
  def epsilon(k: Int): Double = 1.65 / k

  def deserialize(bytes: Array[Byte]): KllSketch = {
    val r = new WireReader(bytes, "KllSketch")
    r.header(Magic, Version)
    val k = r.int("k")
    r.check(k >= 8, s"k=$k < 8")
    val nTotal = r.long("item count")
    val rngState = r.long("rng state")
    val nLevels = r.count("level count", 4)
    r.check(nLevels >= 1 && nLevels <= 63, s"level count $nLevels outside [1,63]")
    val levels = new ArrayBuffer[DoubleBuf](nLevels)
    // level h items weigh 2^h and compaction conserves weight exactly, so
    // the levels' total weight IS the item count
    var weight = 0L
    var h = 0
    while (h < nLevels) {
      val len = r.count(s"level $h length", 8)
      val l = new DoubleBuf(math.max(2, len))
      var i = 0
      while (i < len) { l.add(r.double("item")); i += 1 }
      levels += l
      weight += len.toLong << h
      h += 1
    }
    r.end()
    r.check(weight == nTotal, s"levels weigh $weight, item count is $nTotal")
    new KllSketch(k, nTotal, levels, rngState)
  }
}
