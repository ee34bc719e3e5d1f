package graft.sketch

import java.nio.ByteBuffer

import graft.core.ByteOps
import graft.core.hash.{HashKernel64, HashKernels}

/** Mergeable Bloom filter with the reference's exact bit semantics
  * (`bloom/BloomFilter.java` in sunnygleason/g414-hash), so the
  * deterministic false-positive goldens in FIXTURES.md §3 reproduce:
  *
  *  - k = ceil(0.7 * bitsPerItem) (`BloomFilter.java:41,75`);
  *  - 128 bit-sets, each of `maxSize*bitsPerItem/128` bits
  *    (`BloomFilter.java:30,78`);
  *  - per code: bit-set index = bits 24..30 of the code's low word
  *    (`FilterMethods.computeRadix`, mask 0x7F000000), bit position =
  *    `abs(code % bitSetLength)` (`FilterMethods.normalizeLong/Int`);
  *  - merge = per-bit-set OR after a (k, maxSize, hashName) compatibility
  *    check (`BloomFilter.java:198-207`) — associative, commutative,
  *    idempotent, so partial aggregation is partition-order independent.
  *
  * State is a flat Array[Long] (128 * wordsPerSet words) instead of
  * java.util.BitSet so serialization is a stable compact layout rather
  * than Java serialization of `FilterState`.
  *
  * KNOWN REFERENCE QUIRK (reproduced bit-for-bit, verified against the
  * compiled reference): with the murmur2 kernel, keys that are *short
  * decimal strings* suffer catastrophic false-positive rates (~50% at
  * bpi=16 where ~0% is expected). The seed-by-index scheme XORs seeds
  * 0..k-1 into the initial state (`MurmurHash.java:107-109`, `h = seed ^
  * len`), and for strings shorter than 8 bytes the leading digit's low
  * nibble lands in the same bit positions, so one key's k codes become a
  * permuted subset of a near neighbor's. Mitigations: hash integral keys
  * via their 8-byte binary form (the Spark layer's ValueBytes does this),
  * or use the jenkins kernel. Pinned by BloomSketchSpec.
  */
final class BloomSketch private (
    val kernel: HashKernel64,
    val maxSize: Long,
    val bitsPerItem: Int,
    val longHash: Boolean,
    private val words: Array[Long]) extends Mergeable[BloomSketch] with Serializable {

  import BloomSketch._

  val k: Int = math.ceil(KFactor * bitsPerItem).toInt
  val bitSetLength: Int = ((maxSize * bitsPerItem) / NumBitSets).toInt
  private val wordsPerSet: Int = (bitSetLength + 63) >>> 6

  @inline private def radixOf(code: Long): Int = ((code & RadixMask) >> 24).toInt & 0xff
  @inline private def posOfLong(code: Long): Int = math.abs((code % bitSetLength).toInt)
  @inline private def posOfInt(code: Int): Int = math.abs(code % bitSetLength)

  @inline private def getBit(radix: Int, pos: Int): Boolean =
    (words(radix * wordsPerSet + (pos >>> 6)) & (1L << pos)) != 0L

  @inline private def setBit(radix: Int, pos: Int): Unit =
    words(radix * wordsPerSet + (pos >>> 6)) |= (1L << pos)

  // reused per-instance scratch for the k-vector: sketch buffers are
  // single-threaded inside an aggregation, so this is safe and removes
  // the per-row array allocation from the hot path
  @transient private lazy val scratch64 = new Array[Long](k)
  @transient private lazy val scratch32 = new Array[Int](k)

  def put(data: Array[Byte]): Unit = putIfAbsent(data)
  def put(s: String): Unit = putIfAbsent(ByteOps.utf8(s))
  def putIfAbsent(s: String): Boolean = putIfAbsent(ByteOps.utf8(s))

  /** Returns true iff any bit was newly set (`BloomFilter.java:130-160`). */
  def putIfAbsent(data: Array[Byte]): Boolean = {
    var newlyInserted = false
    if (longHash) {
      val codes = scratch64
      kernel.hash64Into(data, k, codes)
      var i = 0
      while (i < k) {
        val code = codes(i)
        val radix = radixOf(code)
        val pos = posOfLong(code)
        if (!getBit(radix, pos)) { setBit(radix, pos); newlyInserted = true }
        i += 1
      }
    } else {
      val codes = scratch32
      kernel.hash32Into(data, k, codes)
      var i = 0
      while (i < k) {
        val code = codes(i)
        val radix = radixOf(code.toLong)
        val pos = posOfInt(code)
        if (!getBit(radix, pos)) { setBit(radix, pos); newlyInserted = true }
        i += 1
      }
    }
    newlyInserted
  }

  def contains(s: String): Boolean = contains(ByteOps.utf8(s))

  /** THREAD-SAFE (allocates its k-vector locally): probe-side sketches are
    * shared across executor task threads (broadcast banks, literal
    * sketches), unlike aggregation buffers which are single-threaded. */
  def contains(data: Array[Byte]): Boolean = {
    if (longHash) {
      val codes = kernel.hash64K(data, k)
      var i = 0
      while (i < k) {
        val code = codes(i)
        if (!getBit(radixOf(code), posOfLong(code))) return false
        i += 1
      }
    } else {
      val codes = kernel.hash32K(data, k)
      var i = 0
      while (i < k) {
        val code = codes(i)
        if (!getBit(radixOf(code.toLong), posOfInt(code))) return false
        i += 1
      }
    }
    true
  }

  /** In-place OR-merge; throws on incompatible config like the reference.
    * Deliberately STRICTER than the reference's (k, maxSize, hashName)
    * check (`BloomFilter.java:199-202`): k = ceil(0.7*bpi) collides for
    * bpi 9 vs 10, and merging those ORs mismatched bit-set geometries —
    * an accidental corruption path in the reference, not a contract
    * (SURVEY §4: accidental behaviors are not replicated). */
  def merge(other: BloomSketch): BloomSketch = {
    require(
      k == other.k && maxSize == other.maxSize &&
        bitsPerItem == other.bitsPerItem &&
        kernel.name == other.kernel.name && longHash == other.longHash,
      s"Incompatible Bloom sketches: ($k,$maxSize,$bitsPerItem,${kernel.name},$longHash)" +
        s" vs (${other.k},${other.maxSize},${other.bitsPerItem},${other.kernel.name},${other.longHash})")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    this
  }

  def serialize(): Array[Byte] = {
    val nameBytes = ByteOps.utf8(kernel.name)
    val buf = ByteBuffer.allocate(headerSize(nameBytes.length) + words.length * 8)
    buf.putInt(Magic)
    buf.put(Version)
    buf.putInt(nameBytes.length)
    buf.put(nameBytes)
    buf.putLong(maxSize)
    buf.putInt(bitsPerItem)
    buf.put(if (longHash) 1.toByte else 0.toByte)
    buf.putInt(words.length)
    var i = 0
    while (i < words.length) { buf.putLong(words(i)); i += 1 }
    buf.array()
  }

  def copy(): BloomSketch =
    new BloomSketch(kernel, maxSize, bitsPerItem, longHash, words.clone())

  /** Word image of one bit set (interop export; [[BloomInterop]]). */
  private[sketch] def wordsOfSet(radix: Int): Array[Long] = {
    val wps = wordsPerSet
    java.util.Arrays.copyOfRange(words, radix * wps, (radix + 1) * wps)
  }
}

object BloomSketch extends SketchFormat[BloomSketch] {
  val name = "bloom"
  final val NumBitSets = 128
  final val RadixMask = 0x7f000000L
  final val KFactor = 0.7
  final val Magic = 0x424c4d31 // "BLM1"
  final val Version: Byte = 1

  def apply(
      maxSize: Long,
      bitsPerItem: Int,
      kernel: HashKernel64 = HashKernels.murmur,
      longHash: Boolean = true): BloomSketch = {
    val totalBits = Math.multiplyExact(maxSize, bitsPerItem.toLong)
    val bitSetLengthLong = totalBits / NumBitSets
    require(bitSetLengthLong > 0, s"maxSize * bitsPerItem must be >= $NumBitSets")
    require(bitSetLengthLong <= Int.MaxValue,
      s"requested filter too large: maxSize=$maxSize x bpi=$bitsPerItem needs " +
        s"$bitSetLengthLong bits per bit-set (max ${Int.MaxValue}); shard it — " +
        s"e.g. the SketchBuildJob Bloom bank partitions capacity across parts")
    val bitSetLength = bitSetLengthLong.toInt
    val wordsPerSet = (bitSetLength + 63) >>> 6
    new BloomSketch(kernel, maxSize, bitsPerItem, longHash,
      new Array[Long](NumBitSets * wordsPerSet))
  }

  /** Interop factory ([[BloomInterop]]): build a sketch around
    * externally-supplied bit-set word images. `sets(radix)` is the
    * little-endian long[] of bit-set `radix` — `java.util.BitSet
    * .toLongArray` layout, which is exactly this class's word layout —
    * zero-extended when shorter than a full set (BitSet trims trailing
    * zero words). */
  private[sketch] def fromWords(kernel: HashKernel64, maxSize: Long,
      bitsPerItem: Int, longHash: Boolean, sets: Array[Array[Long]]): BloomSketch = {
    require(sets.length == NumBitSets,
      s"expected $NumBitSets bit sets, got ${sets.length}")
    val sk = apply(maxSize, bitsPerItem, kernel, longHash)
    val wps = (sk.bitSetLength + 63) >>> 6
    var r = 0
    while (r < NumBitSets) {
      val src = sets(r)
      require(src.length <= wps,
        s"bit set $r carries ${src.length} words; config allows $wps")
      System.arraycopy(src, 0, sk.words, r * wps, src.length)
      r += 1
    }
    sk
  }

  /** Bytes ahead of the words in [[BloomSketch#serialize]]'s layout. */
  private def headerSize(kernelNameLength: Int): Int = 4 + 1 + 4 + kernelNameLength + 8 + 4 + 1 + 4

  /** The length of [[BloomSketch#serialize]]'s bytes for a sketch of this
    * geometry and kernel, worked out without allocating the sketch: the
    * word count follows from `maxSize x bitsPerItem` as in `apply`. */
  def serializedSize(maxSize: Long, bitsPerItem: Int,
      kernel: HashKernel64 = HashKernels.murmur): Long = {
    val bitSetLength = Math.multiplyExact(maxSize, bitsPerItem.toLong) / NumBitSets
    headerSize(ByteOps.utf8(kernel.name).length) + NumBitSets * ((bitSetLength + 63) >>> 6) * 8
  }

  def deserialize(bytes: Array[Byte]): BloomSketch = {
    val r = new WireReader(bytes, "BloomSketch")
    r.header(Magic, Version)
    val kernel = r.kernel()
    val maxSize = r.long("max size")
    val bitsPerItem = r.int("bits per item")
    val longHash = r.byte("long-hash flag")
    r.check(longHash == 0 || longHash == 1, s"long-hash flag $longHash")
    val nWords = r.int("word count")
    // the word count is fixed by (maxSize, bitsPerItem) as in `apply`: a
    // flip in any of the three shows up as a mismatch
    val bitSetLength =
      if (maxSize <= 0 || bitsPerItem <= 0) -1L
      else try Math.multiplyExact(maxSize, bitsPerItem.toLong) / NumBitSets
      catch { case _: ArithmeticException => -1L }
    r.check(bitSetLength > 0 && bitSetLength <= Int.MaxValue &&
        nWords == NumBitSets * ((bitSetLength + 63) >>> 6),
      s"$nWords words do not fit maxSize=$maxSize x bpi=$bitsPerItem")
    val words = r.longs(nWords, "words")
    r.end()
    new BloomSketch(kernel, maxSize, bitsPerItem, longHash == 1, words)
  }
}
