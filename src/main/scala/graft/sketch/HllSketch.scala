package graft.sketch

import java.nio.ByteBuffer

import graft.core.ByteOps
import graft.core.hash.{HashKernel64, HashKernels}

/** HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet, Meunier
  * 2007) over this engine's 64-bit hash kernels: m = 2^p byte registers,
  * register j = max rank (leading-zero count + 1) of hashed values whose
  * top p bits select j. Standard error sigma = 1.04 / sqrt(m).
  *
  * With a 64-bit hash the large-range collision correction of the 32-bit
  * original is unnecessary; the small-range regime uses linear counting.
  * Merge = element-wise register max — associative, commutative,
  * idempotent, so partial aggregates combine identically regardless of
  * partition order (the reference's `putAll` contract,
  * `BloomFilter.java:198-207`, generalized).
  *
  * SPARSE MODE (the HLL++ idea, Heule/Nunkesser/Hall 2013, applied to
  * storage only — the estimator is unchanged): a fresh sketch holds an
  * open-addressed (index -> rank) map and upgrades to the dense byte
  * array only past m/16 occupied registers. A high-cardinality groupBy
  * (millions of groups, most of them small) would otherwise pay the full
  * 2^p bytes per group on the map side — at p=14 that is 16 KB per group
  * for groups that often hold a handful of values. Serialization is
  * CANONICAL in the register state (sparse layout = registers sorted by
  * index, chosen purely by occupancy), so partial aggregates remain
  * byte-identical regardless of partition count or order.
  */
final class HllSketch private (
    val kernel: HashKernel64,
    val p: Int,
    private var dense: Array[Byte], // null while sparse
    private var keys: Array[Int], // sparse: register index + 1 (0 = empty slot)
    private var vals: Array[Byte], // sparse: rank
    private var sparseCount: Int) extends Mergeable[HllSketch] with Serializable {

  import HllSketch._

  val m: Int = 1 << p

  /** Registers occupied before the dense representation pays off. */
  private def upgradeThreshold: Int = math.max(4, m >>> 4)

  def isSparse: Boolean = dense == null

  def update(data: Array[Byte]): Unit = updateHash(kernel.hash64(data))
  def update(s: String): Unit = update(ByteOps.utf8(s))

  /** Register update from an already-computed 64-bit code.
    *
    * The code is passed through the standard Murmur3 fmix64 avalanche
    * first: the reference's Murmur2 variant (signed shifts, `seed ^ len`
    * init, `MurmurHash.java:145-171`) measurably biases its top bits on
    * short inputs (occupancy ~11% below uniform at p=12), which breaks
    * the 1.04/sqrt(m) bound HLL's analysis assumes of its hash. */
  def updateHash(code: Long): Unit = {
    val h = HllSketch.fmix64(code)
    val idx = (h >>> (64 - p)).toInt
    val w = h << p
    val rank = if (w == 0L) (64 - p + 1) else java.lang.Long.numberOfLeadingZeros(w) + 1
    setMax(idx, rank.toByte)
  }

  private def setMax(idx: Int, rank: Byte): Unit = {
    if (dense != null) {
      if (dense(idx) < rank) dense(idx) = rank
    } else {
      val cap = keys.length
      var slot = mixSlot(idx) & (cap - 1)
      while (true) {
        val k = keys(slot)
        if (k == 0) {
          keys(slot) = idx + 1
          vals(slot) = rank
          sparseCount += 1
          if (sparseCount >= upgradeThreshold) toDense()
          else if (sparseCount * 2 >= cap) growSparse()
          return
        } else if (k == idx + 1) {
          if (vals(slot) < rank) vals(slot) = rank
          return
        }
        slot = (slot + 1) & (cap - 1)
      }
    }
  }

  /** Cheap integer mix so consecutive indices spread across slots. */
  @inline private def mixSlot(idx: Int): Int = {
    val x = idx * 0x9e3775cd
    (x ^ (x >>> 16)) & Int.MaxValue
  }

  private def growSparse(): Unit = {
    val ok = keys
    val ov = vals
    keys = new Array[Int](ok.length << 1)
    vals = new Array[Byte](ov.length << 1)
    val saved = sparseCount
    sparseCount = 0
    var i = 0
    while (i < ok.length) {
      if (ok(i) != 0) setMax(ok(i) - 1, ov(i))
      i += 1
    }
    require(sparseCount == saved, "sparse rehash lost entries")
  }

  private def toDense(): Unit = {
    val d = new Array[Byte](m)
    var i = 0
    while (i < keys.length) {
      if (keys(i) != 0) {
        val idx = keys(i) - 1
        if (d(idx) < vals(i)) d(idx) = vals(i)
      }
      i += 1
    }
    dense = d
    keys = null
    vals = null
    sparseCount = 0
  }

  def estimate(): Double = {
    var z = 0.0
    var zeros = 0
    if (dense != null) {
      var i = 0
      while (i < m) {
        z += java.lang.Double.longBitsToDouble((1023L - dense(i)) << 52) // 2^-r
        if (dense(i) == 0) zeros += 1
        i += 1
      }
    } else {
      var i = 0
      var occupied = 0
      while (i < keys.length) {
        if (keys(i) != 0) {
          z += java.lang.Double.longBitsToDouble((1023L - vals(i)) << 52)
          occupied += 1
        }
        i += 1
      }
      zeros = m - occupied
      z += zeros.toDouble // 2^-0 per empty register
    }
    val raw = alpha(m) * m * m / z
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
    else raw
  }

  def merge(other: HllSketch): HllSketch = {
    require(p == other.p && kernel.name == other.kernel.name,
      s"Incompatible HLL sketches: ($p,${kernel.name}) vs (${other.p},${other.kernel.name})")
    if (other.dense != null) {
      if (dense == null) toDense()
      var i = 0
      while (i < m) {
        if (other.dense(i) > dense(i)) dense(i) = other.dense(i)
        i += 1
      }
    } else {
      var i = 0
      while (i < other.keys.length) {
        if (other.keys(i) != 0) setMax(other.keys(i) - 1, other.vals(i))
        i += 1
      }
    }
    this
  }

  /** Canonical bytes: layout chosen by occupancy alone (sparse entries
    * sorted by register index), so equal register states serialize
    * identically whatever the update/merge history. */
  def serialize(): Array[Byte] = {
    val nameBytes = ByteOps.utf8(kernel.name)
    val header = 4 + 1 + 4 + nameBytes.length + 4 + 1
    // invariant: sparse <=> occupancy < upgradeThreshold (setMax upgrades
    // the moment the threshold is reached), so representation alone picks
    // the canonical layout
    if (dense == null) {
      val packed = new Array[Int](sparseCount)
      var i = 0
      var n = 0
      while (i < keys.length) {
        if (keys(i) != 0) {
          packed(n) = ((keys(i) - 1) << 6) | (vals(i) & 0x3f)
          n += 1
        }
        i += 1
      }
      java.util.Arrays.sort(packed)
      val buf = ByteBuffer.allocate(header + 4 + 4 * packed.length)
      putHeader(buf, nameBytes, ModeSparse)
      buf.putInt(packed.length)
      packed.foreach(buf.putInt)
      buf.array()
    } else {
      val buf = ByteBuffer.allocate(header + m)
      putHeader(buf, nameBytes, ModeDense)
      buf.put(dense)
      buf.array()
    }
  }

  private def putHeader(buf: ByteBuffer, nameBytes: Array[Byte], mode: Byte): Unit = {
    buf.putInt(Magic)
    buf.put(Version)
    buf.putInt(nameBytes.length)
    buf.put(nameBytes)
    buf.putInt(p)
    buf.put(mode)
  }

  def copy(): HllSketch =
    if (dense != null) new HllSketch(kernel, p, dense.clone(), null, null, 0)
    else new HllSketch(kernel, p, null, keys.clone(), vals.clone(), sparseCount)
}

object HllSketch extends SketchFormat[HllSketch] {
  val name = "hll"
  final val Magic = 0x484c4c31 // "HLL1"
  final val Version: Byte = 2
  final val VersionDenseOnly: Byte = 1 // round-1 wire format, still readable
  final val ModeDense: Byte = 0
  final val ModeSparse: Byte = 1

  private final val InitialSparseSlots = 16

  def apply(p: Int, kernel: HashKernel64 = HashKernels.murmur): HllSketch = {
    require(p >= 4 && p <= 18, s"p must be in [4,18], got $p")
    new HllSketch(kernel, p, null,
      new Array[Int](InitialSparseSlots), new Array[Byte](InitialSparseSlots), 0)
  }

  /** Murmur3's 64-bit finalizer (public domain, Appleby): full avalanche. */
  @inline def fmix64(v: Long): Long = {
    var h = v
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  /** sigma = 1.04/sqrt(m), the published standard error. */
  def standardError(p: Int): Double = 1.04 / math.sqrt((1 << p).toDouble)

  def deserialize(bytes: Array[Byte]): HllSketch = {
    val r = new WireReader(bytes, "HllSketch")
    val version = r.header(Magic, Version, VersionDenseOnly)
    val kernel = r.kernel()
    val p = r.int("p")
    r.check(p >= 4 && p <= 18, s"p=$p outside [4,18]")
    val maxRank = 64 - p + 1
    val mode = if (version == VersionDenseOnly) ModeDense else r.byte("mode")
    if (mode == ModeDense) {
      val registers = r.bytes(1 << p, "registers")
      r.end()
      // re-canonicalize: a round-1 (v1) buffer may be dense below the
      // sparse threshold; rebuilding the canonical representation keeps
      // "equal register state => equal bytes" true across versions
      var occ = 0
      var i = 0
      while (i < registers.length) {
        if (registers(i) < 0 || registers(i) > maxRank)
          r.fail(s"register $i holds rank ${registers(i)} > $maxRank")
        if (registers(i) != 0) occ += 1
        i += 1
      }
      if (occ >= math.max(4, (1 << p) >>> 4)) {
        new HllSketch(kernel, p, registers, null, null, 0)
      } else {
        val sk = apply(p, kernel)
        var j = 0
        while (j < registers.length) {
          if (registers(j) != 0) sk.setMax(j, registers(j))
          j += 1
        }
        sk
      }
    } else {
      r.check(mode == ModeSparse, s"unknown mode $mode")
      val sk = apply(p, kernel)
      val n = r.count("sparse entry count", 4)
      var prev = -1
      var i = 0
      while (i < n) {
        // canonical layout: (index << 6 | rank) strictly ascending
        val packed = r.int("sparse entry")
        val rank = packed & 0x3f
        r.check(packed > prev && (packed >>> 6) < (1 << p) && rank >= 1 && rank <= maxRank,
          s"sparse entry $i (index ${packed >>> 6}, rank $rank) out of order or range")
        sk.setMax(packed >>> 6, rank.toByte)
        prev = packed
        i += 1
      }
      r.end()
      sk
    }
  }
}
