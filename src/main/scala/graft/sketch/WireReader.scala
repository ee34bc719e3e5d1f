package graft.sketch

import java.nio.ByteBuffer

import graft.core.hash.{HashKernel64, HashKernels}

/** Bounds-checked reader for the sketches' wire formats.
  *
  * Buffers come back from earlier runs (checkpointed parts, resumed
  * rollups), so a deserializer must treat them as untrusted input. Every
  * read checks what remains first, and every length or count field is
  * bounded by the bytes left before anything is allocated from it. A
  * truncated, bit-flipped or foreign buffer therefore fails with an
  * `IllegalArgumentException` that names the sketch — never a
  * `BufferUnderflowException`, an index exception, an allocation sized by
  * a corrupt field, or a silently different sketch.
  */
private[sketch] final class WireReader(bytes: Array[Byte], sketch: String) {
  private val buf = ByteBuffer.wrap(bytes)

  def fail(what: String): Nothing =
    throw new IllegalArgumentException(s"corrupt $sketch buffer: $what")

  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  // hot per-item reads: a plain branch, no by-name message closure
  private def need(n: Long, what: String): Unit =
    if (n > buf.remaining) fail(s"$what needs $n bytes, ${buf.remaining} remain")

  /** Magic word and version byte; returns the version, one of `versions`. */
  def header(magic: Int, versions: Byte*): Byte = {
    need(4, "magic")
    val m = buf.getInt()
    if (m != magic) throw new IllegalArgumentException(f"not a $sketch buffer (magic 0x$m%08x)")
    need(1, "version")
    val v = buf.get()
    if (!versions.contains(v))
      throw new IllegalArgumentException(s"unsupported $sketch version $v")
    v
  }

  def byte(what: String): Byte = { need(1, what); buf.get() }
  def int(what: String): Int = { need(4, what); buf.getInt() }
  def long(what: String): Long = { need(8, what); buf.getLong() }
  def double(what: String): Double = { need(8, what); buf.getDouble() }

  /** A count field: `n` items of at least `itemBytes` each must fit in
    * what remains. */
  def count(what: String, itemBytes: Int): Int = {
    val n = int(what)
    check(n >= 0, s"$what=$n is negative")
    need(n.toLong * itemBytes, s"$what=$n")
    n
  }

  def bytes(n: Int, what: String): Array[Byte] = {
    check(n >= 0, s"$what length $n is negative")
    need(n, what)
    val out = new Array[Byte](n)
    buf.get(out)
    out
  }

  /** `n` longs in one bulk read. */
  def longs(n: Int, what: String): Array[Long] = {
    check(n >= 0, s"$what count $n is negative")
    need(n.toLong * 8, what)
    val out = new Array[Long](n)
    buf.asLongBuffer().get(out)
    buf.position(buf.position() + n * 8)
    out
  }

  /** A length-prefixed hash-kernel name, resolved. */
  def kernel(): HashKernel64 = {
    val name = new String(bytes(int("kernel name length"), "kernel name"), "UTF-8")
    try HashKernels(name)
    catch { case e: IllegalArgumentException => fail(e.getMessage) }
  }

  /** The buffer must be consumed exactly: a length or count field that
    * claims fewer items than were written leaves bytes behind. */
  def end(): Unit = check(!buf.hasRemaining, s"${buf.remaining} trailing bytes")
}
