package graft.core.hash

import graft.core.ByteOps._

/** MurmurHash 2 (Austin Appleby), in the exact variant the reference uses
  * (`MurmurHash.java:145-206` in sunnygleason/g414-hash): `h = seed ^ len`
  * initialization, *arithmetic* (signed) right shifts in the mixing steps,
  * and the tail gathered in one partial-long read then multiplied once —
  * all of which diverge from canonical Murmur2-64A but are contractual here
  * because Bloom/sketch bit positions derive from these exact code values.
  *
  * Multi-hash scheme: seed-by-index (`MurmurHash.java:96-136`), so
  * `hash64K(x,k)(i) == hash64Seeded(x, i)`.
  *
  * This is also the engine's canonical hash: the reference uses seed-0
  * Murmur64 as its file-format hash (`file/impl/Calculations.java:42-47`)
  * and its default Bloom hash (`cmd/mkblm.java:42`).
  */
object Murmur2Kernel extends SeedByIndexKernel {
  final val M64 = 0xc6a4a7935bd1e995L
  final val R64 = 47
  final val M32 = 0x5bd1e995
  final val R32 = 24
  final val R32F1 = 13
  final val R32F2 = 15

  override def name: String = "murmur2"

  override def hash64Seeded(data: Array[Byte], seed: Long): Long = {
    val len = data.length
    var h = seed ^ len
    var i = 0
    val end = len - 8
    while (i <= end) {
      var k = gatherLongLE(data, i)
      k *= M64
      k ^= k >> R64
      k *= M64
      h ^= k
      h *= M64
      i += 8
    }
    if (i < len) {
      h ^= gatherPartialLongLE(data, i, len - i)
      h *= M64
    }
    h ^= h >> R64
    h *= M64
    h ^= h >> R64
    h
  }

  override def hash32Seeded(data: Array[Byte], seed: Int): Int = {
    val len = data.length
    var h = seed ^ len
    var i = 0
    val end = len - 4
    while (i <= end) {
      var k = gatherIntLE(data, i)
      k *= M32
      k ^= k >> R32
      k *= M32
      h *= M32
      h ^= k
      i += 4
    }
    if (i < len) {
      h ^= gatherPartialIntLE(data, i, len - i)
      h *= M32
    }
    h ^= h >> R32F1
    h *= M32
    h ^= h >> R32F2
    h
  }
}
