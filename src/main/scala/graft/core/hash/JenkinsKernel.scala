package graft.core.hash

import graft.core.ByteOps._

/** Bob Jenkins hashes in the reference's exact variants
  * (`JenkinsHash.java:140-300` in sunnygleason/g414-hash):
  *
  *  - 64-bit: lookup8 with a=b=level, c=golden-ratio, 24-byte blocks, the
  *    12-step mix64 using *arithmetic* right shifts, and an asymmetric
  *    tail where bytes 17..23 shift left 8 because c's LSB carries the
  *    length (`JenkinsHash.java:174-194`);
  *  - 32-bit: lookup3 `hashlittle` with `a=b=c = 0xdeadbeef + (len<<2) +
  *    level` and the reference's signed-shift pseudo-`rot`
  *    (`LongHashMethods.java:34-36`), which is NOT a true rotation — the
  *    divergence is contractual.
  *
  * Multi-hash scheme: seed-by-index (`JenkinsHash.java:55-77,97-114`).
  */
object JenkinsKernel extends SeedByIndexKernel {
  final val GoldenRatio = 0x9e3779b97f4a7c13L
  final val Init32 = 0xdeadbeef

  override def name: String = "jenkins"

  override def hash64Seeded(data: Array[Byte], level: Long): Long = {
    var a = level
    var b = level
    var c = GoldenRatio
    var len = data.length
    var i = 0
    while (len >= 24) {
      a += gatherLongLE(data, i)
      b += gatherLongLE(data, i + 8)
      c += gatherLongLE(data, i + 16)
      // 12-step lookup8 mix64, inlined (no tuple allocation in the hot loop)
      a -= b; a -= c; a ^= c >> 43
      b -= c; b -= a; b ^= a << 9
      c -= a; c -= b; c ^= b >> 8
      a -= b; a -= c; a ^= c >> 38
      b -= c; b -= a; b ^= a << 23
      c -= a; c -= b; c ^= b >> 5
      a -= b; a -= c; a ^= c >> 35
      b -= c; b -= a; b ^= a << 49
      c -= a; c -= b; c ^= b >> 11
      a -= b; a -= c; a ^= c >> 12
      b -= c; b -= a; b ^= a << 18
      c -= a; c -= b; c ^= b >> 22
      i += 24
      len -= 24
    }
    c += data.length
    if (len > 0) {
      if (len >= 8) {
        a += gatherLongLE(data, i)
        if (len >= 16) {
          b += gatherLongLE(data, i + 8)
          if (len > 16) c += gatherPartialLongLE(data, i + 16, len - 16) << 8
        } else if (len > 8) {
          b += gatherPartialLongLE(data, i + 8, len - 8)
        }
      } else {
        a += gatherPartialLongLE(data, i, len)
      }
    }
    a -= b; a -= c; a ^= c >> 43
    b -= c; b -= a; b ^= a << 9
    c -= a; c -= b; c ^= b >> 8
    a -= b; a -= c; a ^= c >> 38
    b -= c; b -= a; b ^= a << 23
    c -= a; c -= b; c ^= b >> 5
    a -= b; a -= c; a ^= c >> 35
    b -= c; b -= a; b ^= a << 49
    c -= a; c -= b; c ^= b >> 11
    a -= b; a -= c; a ^= c >> 12
    b -= c; b -= a; b ^= a << 18
    c -= a; c -= b; c ^= b >> 22
    c
  }

  override def hash32Seeded(data: Array[Byte], level: Int): Int = {
    var a = Init32 + (data.length << 2) + level
    var b = a
    var c = a
    var len = data.length
    var i = 0
    while (len >= 12) {
      a += gatherIntLE(data, i)
      b += gatherIntLE(data, i + 4)
      c += gatherIntLE(data, i + 8)
      // lookup3 mix() with the reference's signed-shift pseudo-rotate
      a -= c; a ^= rotateInt(c, 4); c += b
      b -= a; b ^= rotateInt(a, 6); a += c
      c -= b; c ^= rotateInt(b, 8); b += a
      a -= c; a ^= rotateInt(c, 16); c += b
      b -= a; b ^= rotateInt(a, 19); a += c
      c -= b; c ^= rotateInt(b, 4); b += a
      i += 12
      len -= 12
    }
    c += data.length
    if (len > 0) {
      if (len >= 4) {
        a += gatherIntLE(data, i)
        if (len >= 8) {
          b += gatherIntLE(data, i + 4)
          if (len > 8) c += gatherPartialIntLE(data, i + 8, len - 8) << 8
        } else if (len > 4) {
          b += gatherPartialIntLE(data, i + 4, len - 4)
        }
      } else {
        a += gatherPartialIntLE(data, i, len)
      }
    }
    // lookup3 final()
    c ^= b; c -= rotateInt(b, 14)
    a ^= c; a -= rotateInt(c, 11)
    b ^= a; b -= rotateInt(a, 25)
    c ^= b; c -= rotateInt(b, 16)
    a ^= c; a -= rotateInt(c, 4)
    b ^= a; b -= rotateInt(a, 14)
    c ^= b; c -= rotateInt(b, 24)
    c
  }
}
