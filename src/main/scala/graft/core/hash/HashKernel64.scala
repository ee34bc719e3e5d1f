package graft.core.hash

import graft.core.ByteOps

/** A 64/32-bit hash family with a *seeded multi-hash scheme*: `hash64K`
  * produces k correlated-but-distinct codes per input, and sketch bit
  * positions depend on the per-algorithm scheme. There are two seeded
  * schemes, each written once: seed-by-index ([[SeedByIndexKernel]]:
  * Murmur2, Jenkins, CWow) and chained ([[ChainedKernel]]: FNV-1, FNV-1a,
  * Hsieh). Sha1Prng's PRNG stream is its own, in [[Sha1PrngKernel]].
  *
  * A kernel writes one fill per width (`hash64Into`/`hash32Into`); the
  * allocating k-vectors are defined here, over the fills.
  *
  * Mirrors the reference SPI (`LongHash.java:24-48` in
  * sunnygleason/g414-hash) with the contract its tests pin
  * (`HashImplTestBase.java:40-46`): the String overloads hash UTF-8 bytes,
  * and `hash64K(x, k)(0) == hash64(x)`.
  */
trait HashKernel64 extends Serializable {

  /** Stable identifier used in sketch-state compatibility checks. */
  def name: String

  def hash64(data: Array[Byte]): Long
  def hash32(data: Array[Byte]): Int

  /** Fill `out(0 until k)` with the 64-bit k-vector without allocating —
    * the per-row hot path for sketch updates (buffers pass a reused
    * scratch array). The rest of `out` is left untouched. */
  def hash64Into(data: Array[Byte], k: Int, out: Array[Long]): Unit

  /** 32-bit variant of hash64Into. */
  def hash32Into(data: Array[Byte], k: Int, out: Array[Int]): Unit

  /** k-vector of 64-bit codes; scheme is algorithm-specific. */
  final def hash64K(data: Array[Byte], k: Int): Array[Long] = {
    requireK(k)
    val out = new Array[Long](k)
    hash64Into(data, k, out)
    out
  }

  /** k-vector of 32-bit codes; scheme is algorithm-specific. */
  final def hash32K(data: Array[Byte], k: Int): Array[Int] = {
    requireK(k)
    val out = new Array[Int](k)
    hash32Into(data, k, out)
    out
  }

  final def hash64(s: String): Long = hash64(ByteOps.utf8(s))
  final def hash32(s: String): Int = hash32(ByteOps.utf8(s))
  final def hash64K(s: String, k: Int): Array[Long] = hash64K(ByteOps.utf8(s), k)
  final def hash32K(s: String, k: Int): Array[Int] = hash32K(ByteOps.utf8(s), k)

  private def requireK(k: Int): Unit =
    require(k >= 1, s"k must be >= 1, got $k")
}

/** A kernel with an explicit-seed form, the one the seeded SQL
  * expressions call. */
trait SeededHashKernel extends HashKernel64 {
  def hash64Seeded(data: Array[Byte], seed: Long): Long
  def hash32Seeded(data: Array[Byte], seed: Int): Int
}

/** Seed-by-index: `hash64K(x, k)(i) == hash64Seeded(x, i)`, default seed 0
  * (`MurmurHash.java:96-136`, `JenkinsHash.java:55-77`,
  * `CWowHash.java:89-131`). */
abstract class SeedByIndexKernel extends SeededHashKernel {
  final override def hash64(data: Array[Byte]): Long = hash64Seeded(data, 0L)
  final override def hash32(data: Array[Byte]): Int = hash32Seeded(data, 0)

  final override def hash64Into(data: Array[Byte], k: Int, out: Array[Long]): Unit = {
    var i = 0
    while (i < k) { out(i) = hash64Seeded(data, i.toLong); i += 1 }
  }

  final override def hash32Into(data: Array[Byte], k: Int, out: Array[Int]): Unit = {
    var i = 0
    while (i < k) { out(i) = hash32Seeded(data, i); i += 1 }
  }
}

/** Chained: code 0 is the hash at the kernel's initial seed, and each code
  * seeds the next (`Fnv1Hash.java:117-165`,
  * `HsiehSuperFastHash.java:91-113`). The default hash is code 0. */
abstract class ChainedKernel extends SeededHashKernel {
  protected def seed64(data: Array[Byte]): Long
  protected def seed32(data: Array[Byte]): Int

  final override def hash64(data: Array[Byte]): Long = hash64Seeded(data, seed64(data))
  final override def hash32(data: Array[Byte]): Int = hash32Seeded(data, seed32(data))

  final override def hash64Into(data: Array[Byte], k: Int, out: Array[Long]): Unit = {
    var last = seed64(data)
    var i = 0
    while (i < k) { last = hash64Seeded(data, last); out(i) = last; i += 1 }
  }

  final override def hash32Into(data: Array[Byte], k: Int, out: Array[Int]): Unit = {
    var last = seed32(data)
    var i = 0
    while (i < k) { last = hash32Seeded(data, last); out(i) = last; i += 1 }
  }
}

/** Registry of all hash kernels by stable name, the analog of the
  * reference's reflective hash instantiation (`BloomFilter.java:96-104`)
  * without the reflection. */
object HashKernels {
  val murmur: Murmur2Kernel.type = Murmur2Kernel
  val jenkins: JenkinsKernel.type = JenkinsKernel
  val fnv1: Fnv1Kernel.type = Fnv1Kernel
  val fnv1a: Fnv1aKernel.type = Fnv1aKernel
  val hsieh: HsiehKernel.type = HsiehKernel
  val cwow: CWowKernel.type = CWowKernel
  val sha1prng: Sha1PrngKernel.type = Sha1PrngKernel

  val all: Seq[HashKernel64] =
    Seq(murmur, jenkins, fnv1, fnv1a, hsieh, cwow, sha1prng)

  private val byName: Map[String, HashKernel64] =
    all.map(h => h.name -> h).toMap

  def get(name: String): Option[HashKernel64] = byName.get(name)

  def apply(name: String): HashKernel64 =
    get(name).getOrElse(throw new IllegalArgumentException(s"unknown hash kernel: $name"))
}
