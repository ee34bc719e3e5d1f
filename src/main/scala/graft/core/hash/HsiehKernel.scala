package graft.core.hash

import graft.core.ByteOps._

/** Paul Hsieh SuperFastHash (32-bit) plus the reference's "provisional"
  * 64-bit extension, preserved verbatim with all its quirks
  * (`HsiehSuperFastHash.java:147-239` in sunnygleason/g414-hash):
  *
  *  - both block loops use a *strict* `i < len - blockSize` bound, so a
  *    final whole block is skipped when the length is a multiple of the
  *    block size (`HsiehSuperFastHash.java:155,207`);
  *  - the tail shift widths come from lookup tables indexed by `len & 7`
  *    (64-bit) / the same tables for `len & 3` (32-bit)
  *    (`HsiehSuperFastHash.java:33-34`);
  *  - all avalanche shifts are arithmetic.
  *
  * Default seed is the input length; multi-hash is chained with
  * seed_0 = length (`HsiehSuperFastHash.java:91-113`).
  */
object HsiehKernel extends ChainedKernel {
  private val LeftShift = Array(0, 10, 11, 16, 43, 42, 43, 48)
  private val RightShift = Array(0, 1, 17, 11, 49, 33, 49, 43)

  override def name: String = "hsieh"

  override protected def seed64(data: Array[Byte]): Long = data.length.toLong
  override protected def seed32(data: Array[Byte]): Int = data.length

  override def hash64Seeded(data: Array[Byte], seed: Long): Long = {
    val len = data.length
    var h = seed
    var i = 0
    while (i < len - 8) {
      h += gatherIntLE(data, i)
      val tmp = (gatherIntLE(data, i + 4) << 27).toLong
      h = (h << 32) ^ tmp
      h += h >> 43
      i += 8
    }
    val rem = len & 7
    if (rem > 0) {
      val j = len - rem
      val t1 =
        if (rem >= 4) gatherIntLE(data, j)
        else gatherPartialIntLE(data, j, math.min(rem, 3))
      val t2 = if (rem > 4) gatherPartialIntLE(data, j + 4, rem - 4) else 0
      h += t1
      h ^= h << LeftShift(rem)
      h ^= t2
      h += h >> RightShift(rem)
    }
    h ^= h << 35
    h += h >> 37
    h ^= h << 36
    h += h >> 49
    h ^= h << 57
    h += h >> 38
    h ^= h << 3
    h += h >> 5
    h ^= h << 4
    h += h >> 17
    h ^= h << 25
    h += h >> 6
    h
  }

  override def hash32Seeded(data: Array[Byte], seed: Int): Int = {
    val len = data.length
    var h = seed
    val rem = len & 3
    var i = 0
    while (i < len - 4) {
      h += gatherPartialIntLE(data, i, 2)
      val tmp = gatherPartialIntLE(data, i + 2, 2) << 11
      h = (h << 16) ^ tmp
      h += h >> 11
      i += 4
    }
    if (rem > 0) {
      val j = len - rem
      val t1 = gatherPartialIntLE(data, j, math.min(rem, 2))
      val t2 = if (rem > 2) gatherPartialIntLE(data, j + 2, rem - 2) else 0
      h += t1
      h ^= h << LeftShift(rem)
      h ^= t2
      h += h >> RightShift(rem)
    }
    h ^= h << 3
    h += h >> 5
    h ^= h << 4
    h += h >> 17
    h ^= h << 25
    h += h >> 6
    h
  }
}
