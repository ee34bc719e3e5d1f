package graft.sketch

import java.io.{InputStream, InvalidClassException, ObjectInputStream, ObjectStreamClass}

import graft.core.hash.{HashKernel64, HashKernels}

/** Migration reader for the reference CLI's `.blm` artifact — a
  * Java-serialized `com.g414.hash.bloom.FilterState`
  * (`bloom/FilterState.java:27-97`, written by `cmd/mkblm.java:74-77`,
  * loaded by `cmd/ckblm.java:38-45` in sunnygleason/g414-hash) — into a
  * [[BloomSketch]]. Bit semantics are already identical (the 20k-probe
  * differential in BloomSketchSpec pins that), so a converted filter
  * answers every membership probe exactly as the reference would; this
  * closes the one CLI step (`ckblm` over an existing reference file)
  * that had no analog.
  *
  * The stream is decoded WITHOUT the reference on the classpath: a
  * stand-in class with the reference's exact serial form (same
  * serialVersionUID 1000001 and field names/types,
  * `FilterState.java:29-47`) is substituted during class resolution.
  * Resolution is allowlist-only — `FilterState`, `java.util.BitSet`,
  * and their array/primitive carriers — so a hostile `.blm` cannot
  * smuggle gadget classes through the deserializer (the usual Java
  * serialization hazard for files from outside the trust boundary).
  *
  * `FilterState` does not record bitsPerElement, only derived values;
  * the constructor inputs are recovered by inverting the reference's
  * own formulas (`BloomFilter.java:41,75,78`: k = ceil(0.7·bpe),
  * bitSetLength = maxSize·bpe/128), which a file written by the
  * reference always satisfies.
  */
object BloomInterop {

  private val RefClassName = "com.g414.hash.bloom.FilterState"

  /** Serial-form stand-in for the reference's FilterState — never
    * instantiated directly, only reflectively by the deserializer. */
  @SerialVersionUID(1000001L)
  private[sketch] class RefFilterState extends Serializable {
    var hashName: String = _
    var state: Array[java.util.BitSet] = _
    var maxSize: Long = 0L
    var bitSetLength: Int = 0
    var k: Int = 0
    var longHash: Boolean = false
  }

  /** reference hashName (`BloomFilter.java:217` stores
    * `hash.getClass().getName()`) -> graft kernel */
  private val KernelByClass: Map[String, HashKernel64] = Map(
    "com.g414.hash.impl.MurmurHash" -> HashKernels.murmur,
    "com.g414.hash.impl.JenkinsHash" -> HashKernels.jenkins,
    "com.g414.hash.impl.Fnv1Hash" -> HashKernels.fnv1,
    "com.g414.hash.impl.Fnv1aHash" -> HashKernels.fnv1a,
    "com.g414.hash.impl.HsiehSuperFastHash" -> HashKernels.hsieh,
    "com.g414.hash.impl.CWowHash" -> HashKernels.cwow,
    "com.g414.hash.impl.Sha1PrngHash" -> HashKernels.sha1prng)

  private val AllowedClasses: Set[String] = Set(
    classOf[RefFilterState].getName,
    "java.util.BitSet", "[Ljava.util.BitSet;", "[J")

  /** Read one Java-serialized FilterState from `in` (does not close it).
    *
    * The rename happens at `readClassDescriptor` (swap the fully-read
    * stream descriptor for the local stand-in's — field names/types
    * match, so the canonically-sorted field layout matches) rather than
    * `resolveClass`: the JDK's `initNonProxy` rejects a resolved class
    * whose name differs from the stream descriptor's. */
  def readFilterState(in: InputStream): BloomSketch = {
    val ois = new ObjectInputStream(in) {
      override protected def readClassDescriptor(): ObjectStreamClass = {
        val desc = super.readClassDescriptor()
        if (desc.getName == RefClassName) ObjectStreamClass.lookup(classOf[RefFilterState])
        else desc
      }
      override protected def resolveClass(desc: ObjectStreamClass): Class[_] = {
        if (AllowedClasses.contains(desc.getName)) super.resolveClass(desc)
        else throw new InvalidClassException(
          desc.getName, "class not allowed in a .blm FilterState stream")
      }
    }
    fromState(ois.readObject().asInstanceOf[RefFilterState])
  }

  /** Write `sk` as a `.blm` the reference's `ckblm` loads directly
    * (`cmd/ckblm.java:38-45`) — the reverse migration. The stream is
    * produced by serializing the stand-in and splicing the reference's
    * class name over the stand-in's in the (single) class descriptor;
    * everything else — field layout, BitSet wire form, handles — is
    * identical by construction, and the round-trip test proves it by
    * byte-comparing against a file the COMPILED reference itself wrote
    * for the same filter content. */
  def writeFilterState(sk: BloomSketch, out: java.io.OutputStream): Unit = {
    val refName = KernelByClass.collectFirst {
      case (cls, k) if k.name == sk.kernel.name => cls
    }.getOrElse(throw new IllegalArgumentException(
      s"no reference hash class for kernel '${sk.kernel.name}'"))
    val fs = new RefFilterState
    fs.hashName = refName
    // size-constructed BitSets have a STICKY size: writeObject then
    // serializes the full allocation (trailing zero words included),
    // exactly like the reference's live `new BitSet(bitSetLength)`
    // instances — BitSet.valueOf would trim and diverge from the
    // reference's wire form
    fs.state = Array.tabulate(BloomSketch.NumBitSets) { r =>
      val bs = new java.util.BitSet(sk.bitSetLength)
      bs.or(java.util.BitSet.valueOf(sk.wordsOfSet(r)))
      bs
    }
    fs.maxSize = sk.maxSize
    fs.bitSetLength = sk.bitSetLength
    fs.k = sk.k
    fs.longHash = sk.longHash

    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(fs)
    oos.close()
    out.write(renameClass(bos.toByteArray,
      classOf[RefFilterState].getName, RefClassName))
  }

  /** Splice `to` over the single length-prefixed modified-UTF
    * occurrence of `from` (the TC_CLASSDESC class name — serialization
    * frames it with its own 2-byte length, and no enclosing length
    * field spans a class descriptor, so the splice is safe). */
  private def renameClass(stream: Array[Byte], from: String, to: String): Array[Byte] = {
    def utf(s: String): Array[Byte] = {
      val b = s.getBytes("UTF-8") // both names are ASCII: modified-UTF == UTF-8
      Array[Byte]((b.length >> 8).toByte, b.length.toByte) ++ b
    }
    val needle = utf(from)
    val idx = stream.indices.indexWhere(i =>
      i + needle.length <= stream.length &&
        java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(stream, i, i + needle.length), needle))
    require(idx >= 0, "stand-in class name not found in serialized stream")
    java.util.Arrays.copyOfRange(stream, 0, idx) ++ utf(to) ++
      java.util.Arrays.copyOfRange(stream, idx + needle.length, stream.length)
  }

  private def fromState(fs: RefFilterState): BloomSketch = {
    require(fs.hashName != null && fs.state != null, "corrupt FilterState stream")
    val kernel = KernelByClass.getOrElse(fs.hashName,
      throw new IllegalArgumentException(
        s"no graft kernel for reference hash '${fs.hashName}'"))
    val bpi = recoverBitsPerElement(fs.maxSize, fs.bitSetLength, fs.k)
    val sets = fs.state.map(bs =>
      if (bs == null) Array.emptyLongArray else bs.toLongArray)
    BloomSketch.fromWords(kernel, fs.maxSize, bpi, fs.longHash, sets)
  }

  /** Invert k = ceil(0.7·bpe) and bitSetLength = maxSize·bpe/128; every
    * reference-written file has a consistent preimage. */
  private def recoverBitsPerElement(maxSize: Long, bitSetLength: Int, k: Int): Int = {
    var bpe = 1
    while (bpe <= 4096) {
      if (math.ceil(BloomSketch.KFactor * bpe).toInt == k &&
          (maxSize * bpe) / BloomSketch.NumBitSets == bitSetLength.toLong) return bpe
      bpe += 1
    }
    throw new IllegalArgumentException(
      s"FilterState (maxSize=$maxSize, bitSetLength=$bitSetLength, k=$k) " +
        "has no consistent bitsPerElement — not a reference-written filter")
  }
}
