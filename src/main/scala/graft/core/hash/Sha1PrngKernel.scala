package graft.core.hash

import java.security.{MessageDigest, SecureRandom}

import graft.core.ByteOps

/** SHA-1-based hash: the digest is condensed to a long/int by XOR-folding
  * bytes at a rotating position, and the multi-hash vector is [condensed
  * code, then k-1 draws from a `SecureRandom("SHA1PRNG")` seeded with it]
  * (`Sha1PrngHash.java:46-160` in sunnygleason/g414-hash).
  *
  * NOTE: the k>1 stream depends on the JVM's SHA1PRNG internals, so this
  * kernel is intentionally excluded from cross-language golden vectors
  * (structural parity only) and from performance paths. The reference's
  * 32-bit multi-hash quirk — element 0 is `hi32(seed) | lo32(seed)`, which
  * differs from the single `hash32` — is preserved (`Sha1PrngHash.java:125-127`).
  */
object Sha1PrngKernel extends HashKernel64 {
  override def name: String = "sha1prng"

  private def digest(data: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("sha1").digest(data)

  private def prng(seed: Long): SecureRandom = {
    val r = SecureRandom.getInstance("SHA1PRNG")
    r.setSeed(seed)
    r
  }

  override def hash64(data: Array[Byte]): Long =
    ByteOps.condenseBytesIntoLong(digest(data))

  override def hash32(data: Array[Byte]): Int =
    ByteOps.condenseBytesIntoInt(digest(data))

  override def hash64Into(data: Array[Byte], k: Int, out: Array[Long]): Unit =
    if (k > 0) {
      val seed = hash64(data)
      val r = prng(seed)
      out(0) = seed
      var i = 1
      while (i < k) { out(i) = r.nextLong(); i += 1 }
    }

  override def hash32Into(data: Array[Byte], k: Int, out: Array[Int]): Unit =
    if (k > 0) {
      val seed = hash64(data)
      val r = prng(seed)
      out(0) = ((seed >> 32).toInt) | seed.toInt
      var i = 1
      while (i < k) { out(i) = r.nextInt(); i += 1 }
    }
}
