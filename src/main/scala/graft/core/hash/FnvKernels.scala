package graft.core.hash

/** FNV (Fowler/Noll/Vo) hash kernels, variants "1" (multiply-then-xor) and
  * "1a" (xor-then-multiply), matching the reference bit for bit
  * (`Fnv1Hash.java:174-203`, `Fnv1aHash.java:174-203` in
  * sunnygleason/g414-hash). Note `hVal ^= data(i)` sign-extends bytes >=
  * 0x80 exactly like Java's signed byte — contractual.
  *
  * Multi-hash scheme: *chained* — hash_i seeds hash_{i+1}, seed_0 = INIT
  * (`Fnv1Hash.java:117-165`) — unlike the seed-by-index Murmur/Jenkins
  * scheme. The per-algorithm scheme must be preserved because sketch bit
  * positions depend on it.
  */
abstract class FnvKernelBase extends ChainedKernel {
  final val Prime32 = 0x01000193
  final val Init32 = 0x811c9dc5
  final val Prime64 = 0x100000001b3L
  final val Init64 = 0xcbf29ce484222325L

  override protected def seed64(data: Array[Byte]): Long = Init64
  override protected def seed32(data: Array[Byte]): Int = Init32
}

object Fnv1Kernel extends FnvKernelBase {
  override def name: String = "fnv1"

  override def hash64Seeded(data: Array[Byte], seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < data.length) {
      h *= Prime64
      h ^= data(i)
      i += 1
    }
    h
  }

  override def hash32Seeded(data: Array[Byte], seed: Int): Int = {
    var h = seed
    var i = 0
    while (i < data.length) {
      h *= Prime32
      h ^= data(i)
      i += 1
    }
    h
  }
}

object Fnv1aKernel extends FnvKernelBase {
  override def name: String = "fnv1a"

  override def hash64Seeded(data: Array[Byte], seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < data.length) {
      h ^= data(i)
      h *= Prime64
      i += 1
    }
    h
  }

  override def hash32Seeded(data: Array[Byte], seed: Int): Int = {
    var h = seed
    var i = 0
    while (i < data.length) {
      h ^= data(i)
      h *= Prime32
      i += 1
    }
    h
  }
}
