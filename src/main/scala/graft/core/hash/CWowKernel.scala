package graft.core.hash

import graft.core.ByteOps._

/** CrapWow hash, matching the reference's Java port bit for bit
  * (`CWowHash.java:135-286` in sunnygleason/g414-hash). The 64-bit variant
  * emulates the 64x64->128-bit folding multiplies (`cwmixa`/`cwmixb`) with
  * 32-bit limb arithmetic; note the reference gathers the two 32-bit halves
  * of each word *separately* (so each half is used unsigned via the low-word
  * mask) and in the <8-byte tail splits a partial long with an *arithmetic*
  * shift — preserved exactly. 32-bit variant folds through 64-bit products.
  *
  * Multi-hash scheme: seed-by-index (`CWowHash.java:89-131`).
  */
object CWowKernel extends SeedByIndexKernel {
  final val M32 = 0x57559429
  final val N32 = 0x5052acdb
  final val M64 = 0x95b47aa3355ba1a1L
  final val N64 = 0x8a970be7488fda55L
  private final val M64Lo = M64 & LongLoMask
  private final val M64Hi = M64 >>> 32
  private final val N64Lo = N64 & LongLoMask
  private final val N64Hi = N64 >>> 32

  override def name: String = "cwow"

  override def hash64Seeded(data: Array[Byte], seed: Long): Long = {
    val length = data.length
    var h = seed
    var k = length + seed + N64
    var pos = 0
    var len = length

    // cwfold(a, b, lo, hi): p = a * b (128-bit); lo ^= lo64(p); hi ^= hi64(p)
    // computed with 32-bit limbs exactly like the reference.
    while (len >= 16) {
      // cwmixb: fold against N into (h, k)
      var aL = gatherIntLE(data, pos) & LongLoMask
      var aH = gatherIntLE(data, pos + 4) & LongLoMask
      var r1 = aL * N64Lo
      var rML = (r1 >>> 32) + ((aH * N64Lo) & LongLoMask) + ((aL * N64Hi) & LongLoMask)
      h ^= (r1 & LongLoMask) + ((rML & LongLoMask) << 32)
      k ^= aH * N64Hi + (rML >>> 32)
      // cwmixa: fold against M into (k, h)
      aL = gatherIntLE(data, pos + 8) & LongLoMask
      aH = gatherIntLE(data, pos + 12) & LongLoMask
      r1 = aL * M64Lo
      rML = (r1 >>> 32) + ((aH * M64Lo) & LongLoMask) + ((aL * M64Hi) & LongLoMask)
      k ^= (r1 & LongLoMask) + ((rML & LongLoMask) << 32)
      h ^= aH * M64Hi + (rML >>> 32)
      pos += 16
      len -= 16
    }

    if (len >= 8) {
      val aL = gatherIntLE(data, pos) & LongLoMask
      val aH = gatherIntLE(data, pos + 4) & LongLoMask
      val r1 = aL * N64Lo
      val rML = (r1 >>> 32) + ((aH * N64Lo) & LongLoMask) + ((aL * N64Hi) & LongLoMask)
      h ^= (r1 & LongLoMask) + ((rML & LongLoMask) << 32)
      k ^= aH * N64Hi + (rML >>> 32)
      pos += 8
      len -= 8
    }

    if (len > 0) {
      val partial = gatherPartialLongLE(data, pos, len)
      val aH = partial >> 32 // arithmetic shift, as in CWowHash.java:194
      val aL = partial & LongLoMask
      val r1 = aL * M64Lo
      val rML = (r1 >>> 32) + ((aH * M64Lo) & LongLoMask) + ((aL * M64Hi) & LongLoMask)
      k ^= (r1 & LongLoMask) + ((rML & LongLoMask) << 32)
      h ^= aH * M64Hi + (rML >>> 32)
    }

    // final cwmixb of (h ^ (k + N))
    val fin = h ^ (k + N64)
    val aH = fin >> 32
    val aL = fin & LongLoMask
    val r1 = aL * N64Lo
    val rML = (r1 >>> 32) + ((aH * N64Lo) & LongLoMask) + ((aL * N64Hi) & LongLoMask)
    h ^= (r1 & LongLoMask) + ((rML & LongLoMask) << 32)
    k ^= aH * N64Hi + (rML >>> 32)
    h ^ k
  }

  override def hash32Seeded(data: Array[Byte], seed: Int): Int = {
    val length = data.length
    var h = seed
    var k = length + seed + N32
    var pos = 0
    var len = length
    var p = 0L

    while (len >= 8) {
      p = gatherIntLE(data, pos) * N32.toLong
      k = (k ^ (p & LongLoMask)).toInt
      h = (h ^ (p >> 32)).toInt
      p = gatherIntLE(data, pos + 4) * M32.toLong
      h = (h ^ (p & LongLoMask)).toInt
      k = (k ^ (p >> 32)).toInt
      pos += 8
      len -= 8
    }

    if (len >= 4) {
      p = gatherIntLE(data, pos) * N32.toLong
      k = (k ^ (p & LongLoMask)).toInt
      h = (h ^ (p >> 32)).toInt
      pos += 4
      len -= 4
    }

    if (len > 0) {
      val i1 = gatherPartialIntLE(data, pos, len)
      p = (i1 & ((1 << (len * 8)) - 1)) * M32.toLong
      h = (h ^ (p & LongLoMask)).toInt
      k = (k ^ (p >> 32)).toInt
    }

    p = (h ^ (k + N32)) * N32.toLong
    k = (k ^ (p & LongLoMask)).toInt
    h = (h ^ (p >> 32)).toInt
    h ^ k
  }
}
