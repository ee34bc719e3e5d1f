package graft.core.hash

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Each kernel's multi-hash scheme over a seeded sweep: all seven kernels,
  * four charsets (ASCII, 2-byte UTF-8, 3-byte CJK, raw bytes), lengths
  * 0-82 and k in {1, 2, 8, 16}. The fills must equal the allocating
  * k-vectors and leave the rest of `out` alone; the seed-by-index and
  * chained identities must hold for the kernels that use them; and every
  * output of the six deterministic kernels folds into one pinned digest,
  * so a change to any code value (Bloom bits, CMS cells and the routing
  * hash all derive from them) fails here. Sha1Prng is left out of the
  * digest, as it is left out of the cross-language goldens (FIXTURES.md).
  */
class KernelSchemeSpec extends AnyFunSuite {

  private val Ks = Seq(1, 2, 8, 16)
  private val Seeds64 = Seq(0L, 1L, 42L, -1L, 0xDEADBEEFL, Long.MinValue)
  private val Seeds32 = Seq(0, 1, 42, -1, 0xDEADBEEF, Int.MinValue)

  private val seedByIndex: Seq[SeedByIndexKernel] = Seq(Murmur2Kernel, JenkinsKernel, CWowKernel)
  /** Each chained kernel with its initial 64- and 32-bit seeds. */
  private val chained: Seq[(ChainedKernel, Array[Byte] => Long, Array[Byte] => Int)] = Seq(
    (Fnv1Kernel, _ => Fnv1Kernel.Init64, _ => Fnv1Kernel.Init32),
    (Fnv1aKernel, _ => Fnv1aKernel.Init64, _ => Fnv1aKernel.Init32),
    (HsiehKernel, _.length.toLong, _.length))
  private val deterministic: Seq[SeededHashKernel] = seedByIndex ++ chained.map(_._1)

  /** The sweep's inputs, charset by charset, each at lengths 0-82 (chars
    * for the text charsets, bytes for raw). */
  private val inputs: Seq[Array[Byte]] = {
    val rnd = new Random(0x5EED11L)
    def text(lo: Int, hi: Int)(n: Int): Array[Byte] =
      new String(Array.fill(n)((lo + rnd.nextInt(hi - lo)).toChar)).getBytes("UTF-8")
    val charsets: Seq[Int => Array[Byte]] = Seq(
      text(0x20, 0x7f), text(0x80, 0x800), text(0x4e00, 0xa000),
      n => { val b = new Array[Byte](n); rnd.nextBytes(b); b })
    for (cs <- charsets; n <- 0 to 82) yield cs(n)
  }

  test("the sweep covers four charsets, lengths 0-82, and multi-byte UTF-8") {
    assert(inputs.length === 4 * 83)
    assert(inputs(83 + 82).length === 2 * 82)
    assert(inputs(2 * 83 + 82).length === 3 * 82)
  }

  test("hash64Into/hash32Into equal hash64K/hash32K and leave out(k until length) alone") {
    val Pad = 3
    for (kernel <- HashKernels.all; data <- inputs; k <- Ks) {
      val o64 = Array.fill(k + Pad)(0x5A5A5A5A5A5A5A5AL)
      kernel.hash64Into(data, k, o64)
      assert(o64.take(k).toSeq === kernel.hash64K(data, k).toSeq, s"${kernel.name} 64 k=$k")
      assert(o64.drop(k).forall(_ == 0x5A5A5A5A5A5A5A5AL), s"${kernel.name} 64 tail k=$k")
      val o32 = Array.fill(k + Pad)(0x5A5A5A5A)
      kernel.hash32Into(data, k, o32)
      assert(o32.take(k).toSeq === kernel.hash32K(data, k).toSeq, s"${kernel.name} 32 k=$k")
      assert(o32.drop(k).forall(_ == 0x5A5A5A5A), s"${kernel.name} 32 tail k=$k")
    }
  }

  test("murmur2, jenkins and cwow seed by index: code i is the hash at seed i") {
    for (kernel <- seedByIndex; data <- inputs) {
      val v64 = kernel.hash64K(data, 16)
      val v32 = kernel.hash32K(data, 16)
      (0 until 16).foreach { i =>
        assert(v64(i) === kernel.hash64Seeded(data, i.toLong), s"${kernel.name} 64 i=$i")
        assert(v32(i) === kernel.hash32Seeded(data, i), s"${kernel.name} 32 i=$i")
      }
      assert(kernel.hash64(data) === kernel.hash64Seeded(data, 0L))
      assert(kernel.hash32(data) === kernel.hash32Seeded(data, 0))
    }
  }

  test("fnv1, fnv1a and hsieh chain: code 0 at the kernel's seed, each code seeds the next") {
    for ((kernel, seed64, seed32) <- chained; data <- inputs) {
      val v64 = kernel.hash64K(data, 16)
      val v32 = kernel.hash32K(data, 16)
      assert(v64(0) === kernel.hash64Seeded(data, seed64(data)), s"${kernel.name} 64 head")
      assert(v32(0) === kernel.hash32Seeded(data, seed32(data)), s"${kernel.name} 32 head")
      (1 until 16).foreach { i =>
        assert(v64(i) === kernel.hash64Seeded(data, v64(i - 1)), s"${kernel.name} 64 i=$i")
        assert(v32(i) === kernel.hash32Seeded(data, v32(i - 1)), s"${kernel.name} 32 i=$i")
      }
      assert(kernel.hash64(data) === v64(0))
      assert(kernel.hash32(data) === v32(0))
    }
  }

  test("every output of the six deterministic kernels folds to the pinned digest") {
    var d = 0L
    def fold(v: Long): Unit = { d = (d ^ v) * 0x9E3779B97F4A7C15L; d ^= d >>> 29 }
    for (kernel <- deterministic; data <- inputs) {
      fold(kernel.hash64(data))
      fold(kernel.hash32(data).toLong)
      for (k <- Ks) {
        kernel.hash64K(data, k).foreach(fold)
        kernel.hash32K(data, k).foreach(v => fold(v.toLong))
      }
      Seeds64.foreach(seed => fold(kernel.hash64Seeded(data, seed)))
      Seeds32.foreach(seed => fold(kernel.hash32Seeded(data, seed).toLong))
    }
    // captured while each kernel still wrote its own k-vector methods,
    // before the two schemes moved to SeedByIndexKernel and ChainedKernel
    assert(d === 0x8e0eb2c4514995f7L, f"digest 0x$d%016xL")
  }
}
