package graft.sketch

import org.scalatest.funsuite.AnyFunSuite

/** Sketch buffers written by earlier runs are read back by resumed
  * rollups and probes, so every wire format must reject damage loudly:
  * a truncated buffer, a bit flip in a length or count field, and a wrong
  * magic or version each fail with an IllegalArgumentException naming the
  * sketch — never a BufferUnderflowException, an index exception, a huge
  * allocation, or a sketch that silently answers differently. */
class CorruptBufferSpec extends AnyFunSuite {

  /** A serialized sketch and the byte ranges of its length/count fields. */
  private case class Wire(name: String, bytes: Array[Byte], read: Array[Byte] => AnyRef,
      fields: Seq[(String, Int, Int)])

  private val items = (0 until 3000).map(i => s"item-${i % 700}")

  private def hll(p: Int, n: Int) = {
    val s = HllSketch(p); items.take(n).foreach(s.update); s.serialize()
  }
  private def cms(n: Int) = {
    val s = CmsSketch(3, 64); items.take(n).foreach(s.update); s.serialize()
  }

  // header offsets: magic 4, version 1, then the per-format fields
  private val wires = Seq(
    Wire("HllSketch", hll(10, 20), HllSketch.deserialize,
      Seq(("kernel name length", 5, 4), ("sparse entry count", 21, 4))),
    Wire("HllSketch", hll(10, 3000), HllSketch.deserialize,
      Seq(("kernel name length", 5, 4), ("p", 16, 4))),
    // dims size the dense counter array, so they are length fields there;
    // a sparse layout's entries only have to fall inside them
    Wire("CmsSketch", cms(2), CmsSketch.deserialize,
      Seq(("kernel name length", 5, 4), ("total count", 24, 8), ("sparse entry count", 33, 4))),
    Wire("CmsSketch", cms(3000), CmsSketch.deserialize,
      Seq(("depth", 16, 4), ("width", 20, 4), ("total count", 24, 8))),
    Wire("KllSketch", {
      val s = KllSketch(16); (0 until 2000).foreach(i => s.update((i * 7919 % 2000).toDouble))
      s.serialize()
    }, KllSketch.deserialize,
      Seq(("item count", 9, 8), ("level count", 25, 4), ("level 0 length", 29, 4))),
    Wire("HeavyHittersSketch", {
      val a = HeavyHittersSketch(8); items.take(1500).foreach(a.update(_))
      val b = HeavyHittersSketch(8); items.drop(1500).foreach(b.update(_))
      a.merge(b).serialize()
    }, HeavyHittersSketch.deserialize,
      Seq(("counter count", 17, 4), ("first key length", 21, 4))),
    Wire("BloomSketch", {
      val s = BloomSketch(200, 16); items.take(200).foreach(s.put); s.serialize()
    }, BloomSketch.deserialize,
      Seq(("kernel name length", 5, 4), ("word count", 29, 4))),
    Wire("TDigestSketch", {
      val s = TDigestSketch(20); (0 until 2000).foreach(i => s.update(math.sin(i.toDouble)))
      s.serialize()
    }, TDigestSketch.deserialize,
      Seq(("centroid count", 37, 4))))

  private def rejects(w: Wire, bytes: Array[Byte], what: String): Unit = {
    val outcome = try { w.read(bytes); None } catch { case t: Throwable => Some(t) }
    outcome match {
      case Some(e: IllegalArgumentException) =>
        assert(e.getMessage.contains(w.name), s"${w.name}, $what: message '${e.getMessage}'")
      case Some(t) => fail(s"${w.name}, $what: ${t.getClass.getName}: ${t.getMessage}")
      case None => fail(s"${w.name}, $what: the corrupt buffer was accepted")
    }
  }

  test("intact buffers round-trip byte for byte") {
    wires.foreach { w =>
      val back = w.read(w.bytes)
      val again = back match {
        case s: HllSketch => s.serialize()
        case s: CmsSketch => s.serialize()
        case s: KllSketch => s.serialize()
        case s: HeavyHittersSketch => s.serialize()
        case s: BloomSketch => s.serialize()
        case s: TDigestSketch => s.serialize()
      }
      assert(java.util.Arrays.equals(again, w.bytes), w.name)
    }
  }

  test("a buffer truncated at any offset is rejected") {
    wires.foreach { w =>
      (0 until w.bytes.length).foreach { n =>
        rejects(w, java.util.Arrays.copyOf(w.bytes, n), s"truncated to $n of ${w.bytes.length}")
      }
    }
  }

  test("a bit flip in any length or count field is rejected") {
    wires.foreach { w =>
      for ((field, at, width) <- w.fields; bit <- 0 until width * 8) {
        val b = w.bytes.clone()
        b(at + bit / 8) = (b(at + bit / 8) ^ (1 << (bit % 8))).toByte
        rejects(w, b, s"$field bit $bit flipped")
      }
    }
  }

  test("a wrong magic or version is rejected") {
    wires.foreach { w =>
      val magic = w.bytes.clone()
      magic(0) = (magic(0) ^ 0x20).toByte
      rejects(w, magic, "magic")
      val version = w.bytes.clone()
      version(4) = 99
      rejects(w, version, "version")
    }
    // another format's buffer is a wrong magic too
    rejects(wires.find(_.name == "KllSketch").get, wires.head.bytes, "an HllSketch buffer")
  }
}
