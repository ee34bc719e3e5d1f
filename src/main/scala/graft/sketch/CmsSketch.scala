package graft.sketch

import java.nio.ByteBuffer

import graft.core.ByteOps
import graft.core.hash.{HashKernel64, HashKernels}

/** Count-min sketch (Cormode & Muthukrishnan 2005): d rows of w counters;
  * row i indexes by the i-th code of the kernel's multi-hash vector —
  * the reference's seeded multi-hash scheme (`LongHash.getLongHashCodes`,
  * seed-by-index for Murmur) reused as the d independent hash functions.
  *
  * Published bound: estimate >= true count, and estimate <= true count +
  * eps*N with probability >= 1 - delta, where eps = e/w and delta = e^-d.
  * Merge = element-wise counter add — associative and commutative, so
  * partial aggregates combine identically regardless of partition order.
  *
  * SPARSE MODE (storage only; estimates and bounds unchanged): a fresh
  * sketch holds an open-addressed (cell -> count) map and densifies past
  * d*w/16 occupied cells. Grouped aggregations with many small groups
  * would otherwise pay the full d*w*8 bytes per group (650 KB at the 5 x
  * 2^14 default) on the map side, and shuffle the same per partial.
  * Serialization is CANONICAL in the counter state (sparse cells sorted
  * by index, layout chosen purely by occupancy), so partial aggregates
  * stay byte-identical across partitionings.
  */
final class CmsSketch private (
    val kernel: HashKernel64,
    val depth: Int,
    val width: Int,
    private var totalN: Long,
    private var dense: Array[Long], // null while sparse
    private var keys: Array[Int], // sparse: cell index + 1 (0 = empty slot)
    private var vals: Array[Long], // sparse: counter value
    private var sparseCount: Int) extends Mergeable[CmsSketch] with Serializable {

  import CmsSketch._

  def n: Long = totalN
  def isSparse: Boolean = dense == null

  private def cells: Int = depth * width
  private def upgradeThreshold: Int = math.max(8, cells >>> 4)

  @inline private def cell(row: Int, code: Long): Int = {
    val idx = (code % width).toInt
    row * width + (if (idx < 0) idx + width else idx)
  }

  // reused scratch: single-threaded buffer, removes per-row allocation
  @transient private lazy val scratch = new Array[Long](depth)

  def update(data: Array[Byte], count: Long = 1L): Unit = {
    // cash-register model only (matches cms_sketch_weighted's contract): a
    // zero count would insert a zero-valued sparse entry that dense state
    // never records, breaking canonical equal-state-equal-bytes; negative
    // counts break the one-sided error bound
    require(count > 0, s"count must be > 0, got $count")
    val codes = scratch
    kernel.hash64Into(data, depth, codes)
    var i = 0
    while (i < depth) {
      addTo(cell(i, codes(i)), count)
      i += 1
    }
    totalN += count
  }

  def update(s: String): Unit = update(ByteOps.utf8(s), 1L)

  private def addTo(idx: Int, count: Long): Unit = {
    if (dense != null) {
      dense(idx) += count
    } else {
      val cap = keys.length
      var slot = mixSlot(idx) & (cap - 1)
      while (true) {
        val k = keys(slot)
        if (k == 0) {
          keys(slot) = idx + 1
          vals(slot) = count
          sparseCount += 1
          if (sparseCount >= upgradeThreshold) toDense()
          else if (sparseCount * 2 >= cap) growSparse()
          return
        } else if (k == idx + 1) {
          vals(slot) += count
          return
        }
        slot = (slot + 1) & (cap - 1)
      }
    }
  }

  @inline private def mixSlot(idx: Int): Int = {
    val x = idx * 0x9e3775cd
    (x ^ (x >>> 16)) & Int.MaxValue
  }

  private def growSparse(): Unit = {
    val ok = keys
    val ov = vals
    keys = new Array[Int](ok.length << 1)
    vals = new Array[Long](ov.length << 1)
    val saved = sparseCount
    sparseCount = 0
    var i = 0
    while (i < ok.length) {
      if (ok(i) != 0) addTo(ok(i) - 1, ov(i))
      i += 1
    }
    require(sparseCount == saved, "sparse rehash lost entries")
  }

  private def toDense(): Unit = {
    val d = new Array[Long](cells)
    var i = 0
    while (i < keys.length) {
      if (keys(i) != 0) d(keys(i) - 1) += vals(i)
      i += 1
    }
    dense = d
    keys = null
    vals = null
    sparseCount = 0
  }

  private def counterAt(idx: Int): Long = {
    if (dense != null) dense(idx)
    else {
      val cap = keys.length
      var slot = mixSlot(idx) & (cap - 1)
      while (true) {
        val k = keys(slot)
        if (k == 0) return 0L
        if (k == idx + 1) return vals(slot)
        slot = (slot + 1) & (cap - 1)
      }
      0L // unreachable
    }
  }

  /** THREAD-SAFE on a dense (deserialized probe-side) sketch: reads only.
    * Sparse probing is also read-only. */
  def estimate(data: Array[Byte]): Long = {
    val codes = kernel.hash64K(data, depth)
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = counterAt(cell(i, codes(i)))
      if (c < min) min = c
      i += 1
    }
    min
  }

  def estimate(s: String): Long = estimate(ByteOps.utf8(s))

  def merge(other: CmsSketch): CmsSketch = {
    require(depth == other.depth && width == other.width &&
      kernel.name == other.kernel.name,
      s"Incompatible CMS sketches: ($depth,$width,${kernel.name})" +
        s" vs (${other.depth},${other.width},${other.kernel.name})")
    if (other.dense != null) {
      if (dense == null) toDense()
      var i = 0
      while (i < dense.length) { dense(i) += other.dense(i); i += 1 }
    } else {
      var i = 0
      while (i < other.keys.length) {
        if (other.keys(i) != 0) addTo(other.keys(i) - 1, other.vals(i))
        i += 1
      }
    }
    totalN += other.totalN
    this
  }

  /** Canonical bytes: layout chosen by occupancy alone (sparse cells
    * sorted by index). */
  def serialize(): Array[Byte] = {
    val nameBytes = ByteOps.utf8(kernel.name)
    val header = 4 + 1 + 4 + nameBytes.length + 4 + 4 + 8 + 1
    if (dense == null) {
      val idxs = new Array[Int](sparseCount)
      var i = 0
      var nn = 0
      while (i < keys.length) {
        if (keys(i) != 0) { idxs(nn) = keys(i) - 1; nn += 1 }
        i += 1
      }
      java.util.Arrays.sort(idxs)
      val buf = ByteBuffer.allocate(header + 4 + 12 * idxs.length)
      putHeader(buf, nameBytes, ModeSparse)
      buf.putInt(idxs.length)
      idxs.foreach { idx =>
        buf.putInt(idx)
        buf.putLong(counterAt(idx))
      }
      buf.array()
    } else {
      val buf = ByteBuffer.allocate(header + cells * 8)
      putHeader(buf, nameBytes, ModeDense)
      var i = 0
      while (i < dense.length) { buf.putLong(dense(i)); i += 1 }
      buf.array()
    }
  }

  private def putHeader(buf: ByteBuffer, nameBytes: Array[Byte], mode: Byte): Unit = {
    buf.putInt(Magic)
    buf.put(Version)
    buf.putInt(nameBytes.length)
    buf.put(nameBytes)
    buf.putInt(depth)
    buf.putInt(width)
    buf.putLong(totalN)
    buf.put(mode)
  }

  def copy(): CmsSketch =
    if (dense != null) new CmsSketch(kernel, depth, width, totalN, dense.clone(), null, null, 0)
    else new CmsSketch(kernel, depth, width, totalN, null, keys.clone(), vals.clone(), sparseCount)

  /** eps = e/w: additive error bound per the published analysis. */
  def epsilon: Double = math.E / width

  /** delta = e^-d: failure probability per the published analysis. */
  def delta: Double = math.exp(-depth.toDouble)
}

object CmsSketch extends SketchFormat[CmsSketch] {
  val name = "cms"
  final val Magic = 0x434d5331 // "CMS1"
  final val Version: Byte = 2
  final val VersionDenseOnly: Byte = 1 // round-1 wire format, still readable
  final val ModeDense: Byte = 0
  final val ModeSparse: Byte = 1

  private final val InitialSparseSlots = 32

  def apply(depth: Int, width: Int, kernel: HashKernel64 = HashKernels.murmur): CmsSketch = {
    require(depth >= 1 && width >= 1, s"invalid CMS dims ($depth,$width)")
    require(depth.toLong * width <= Int.MaxValue, s"CMS dims overflow ($depth x $width)")
    new CmsSketch(kernel, depth, width, 0L, null,
      new Array[Int](InitialSparseSlots), new Array[Long](InitialSparseSlots), 0)
  }

  def deserialize(bytes: Array[Byte]): CmsSketch = {
    val r = new WireReader(bytes, "CmsSketch")
    val version = r.header(Magic, Version, VersionDenseOnly)
    val kernel = r.kernel()
    val depth = r.int("depth")
    val width = r.int("width")
    r.check(depth >= 1 && width >= 1 && depth.toLong * width <= Int.MaxValue,
      s"dims ($depth x $width)")
    val totalN = r.long("total count")
    val mode = if (version == VersionDenseOnly) ModeDense else r.byte("mode")
    // every update adds its count to one cell of EACH row, so each row
    // sums to the total count: a flipped counter or total cannot pass
    val rowSums = new Array[Long](depth)
    def checkRows(): Unit = {
      var d = 0
      while (d < depth) {
        r.check(rowSums(d) == totalN, s"row $d sums to ${rowSums(d)}, total count is $totalN")
        d += 1
      }
    }
    if (mode == ModeDense) {
      val counters = r.longs(depth * width, "counters")
      r.end()
      var i = 0
      var d = 0
      while (d < depth) {
        var w = 0
        while (w < width) {
          if (counters(i) < 0) r.fail(s"counter $i is negative")
          rowSums(d) += counters(i)
          i += 1
          w += 1
        }
        d += 1
      }
      checkRows()
      // re-canonicalize: a round-1 (v1) buffer may be dense below the
      // sparse threshold; rebuild the canonical representation so equal
      // counter states serialize identically across versions
      var occ = 0
      var j = 0
      while (j < counters.length) { if (counters(j) != 0) occ += 1; j += 1 }
      if (occ >= math.max(8, counters.length >>> 4)) {
        new CmsSketch(kernel, depth, width, totalN, counters, null, null, 0)
      } else {
        val sk = apply(depth, width, kernel)
        var c = 0
        while (c < counters.length) {
          if (counters(c) != 0) sk.addTo(c, counters(c))
          c += 1
        }
        sk.totalN = totalN
        sk
      }
    } else {
      r.check(mode == ModeSparse, s"unknown mode $mode")
      val sk = apply(depth, width, kernel)
      val nEntries = r.count("sparse entry count", 12)
      var prev = -1
      var i = 0
      while (i < nEntries) {
        // canonical layout: non-zero cells by strictly ascending index
        val idx = r.int("sparse index")
        val count = r.long("sparse count")
        r.check(idx > prev && idx < depth * width && count > 0,
          s"sparse entry $i (cell $idx, count $count) out of order or range")
        rowSums(idx / width) += count
        sk.addTo(idx, count)
        prev = idx
        i += 1
      }
      r.end()
      checkRows()
      sk.totalN = totalN
      sk
    }
  }
}
