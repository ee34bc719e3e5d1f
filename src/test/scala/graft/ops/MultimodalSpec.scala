package graft.ops

import graft.spark.SparkTestBase

/** Multimodal tests: the JDK-codec image/audio decode, resize and GIF
  * frame sampling over the in-repo generated corpora, and the one rule
  * every decoder keeps: an asset no installed codec reads yields no row. */
class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("decode/resize pipeline: deterministic fingerprints, schema, partition-count independent") {
    // ids 0..3 decode (real png); ids 100.. are bytes no installed
    // codec reads, one per kind plus a truncated png
    val png = Multimodal.generatePngAssets(spark, 4, distinctPixels = 4)
      .collect().sortBy(_.asset_id)
    val junk = Array.tabulate[Byte](2048)(i => (i * 37 + 11).toByte)
    val undecodable = Seq(
      Multimodal.Asset(100L, "image", junk, 64, 32, 0, "webp"),
      Multimodal.Asset(101L, "image", png(0).content.take(40), 16, 16, 0, "png"),
      Multimodal.Asset(102L, "audio", junk, 0, 0, 1500, "mp3"),
      Multimodal.Asset(103L, "video", junk, 64, 32, 1500, "mp4"))
    val assets = spark.createDataset(png.toSeq ++ undecodable)
    val decodedIds = Seq(0L, 1L, 2L, 3L)

    val decoded = Multimodal.decodeImages(assets).collect()
    assert(decoded.map(_.asset_id).sorted.toSeq === decodedIds)
    val resized = Multimodal.resizeImageAssets(assets, 224, 224)
    assert(resized.schema.fieldNames.toSeq === Seq("asset_id", "src_width",
      "src_height", "width", "height", "argb00", "pixels_fingerprint"))
    val r1 = resized.collect().sortBy(_.asset_id)
    assert(r1.map(_.asset_id).toSeq === decodedIds)
    assert(r1.forall(d => d.width == 224 && d.height == 224))
    // determinism across partitionings
    val r2 = Multimodal.resizeImageAssets(assets.repartition(13), 224, 224)
      .collect().sortBy(_.asset_id)
    assert(r1.map(_.pixels_fingerprint).toSeq === r2.map(_.pixels_fingerprint).toSeq)
    // no decoder makes up a row for bytes no codec reads
    assert(Multimodal.decodeAudioAssets(assets).count() === 0)
    assert(Multimodal.sampleFramesDetailed(assets, everyMs = 200).count() === 0)
  }

  test("real JDK-native resize: scaled dims, exact solid color, up- and down-scale") {
    val solid = Multimodal.generateSolidPngAssets(spark, 16)
    // target 20x18 straddles the source dims (w 16..23, h 16..19)
    val out = Multimodal.resizeImageAssets(solid, 20, 18)
      .collect().sortBy(_.asset_id)
    assert(out.length === 16)
    out.foreach { r =>
      val i = r.asset_id
      assert(r.src_width === 16 + (i % 8).toInt && r.src_height === 16 + (i % 4).toInt)
      assert(r.width === 20 && r.height === 18)
      val v = ((i * 31) % 16).toInt
      val expected = 0xff000000L |
        (17 * v << 16) | (17 * ((v + 5) % 16) << 8) | (17 * ((v + 11) % 16))
      assert(r.argb00 === (expected & 0xffffffffL),
        s"asset $i scaled top-left ${r.argb00} != $expected")
    }
    // both up- and down-scaling happened (sources on both sides of 20x18)
    assert(out.exists(r => r.src_width < 20) && out.exists(r => r.src_width > 20))
    // a non-solid REAL image resizes deterministically and its scaled
    // fingerprint differs from the unscaled one (the pixels moved)
    val textured = Multimodal.generatePngAssets(spark, 4, distinctPixels = 4)
    val dec = Multimodal.decodeImages(textured).collect().sortBy(_.asset_id)
    val res = Multimodal.resizeImageAssets(textured, 20, 18).collect().sortBy(_.asset_id)
    val res2 = Multimodal.resizeImageAssets(textured.repartition(3), 20, 18)
      .collect().sortBy(_.asset_id)
    assert(res.map(_.pixels_fingerprint).toSeq === res2.map(_.pixels_fingerprint).toSeq)
    assert(res.zip(dec).forall { case (r, d) => r.pixels_fingerprint != d.pixels_fingerprint })
  }

  test("real PNG/JPEG decode via javax.imageio: dims, channels, pixel fingerprint") {
    // deterministic synthetic image, written through the JDK's own codecs
    def makePng(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, ((x * 31 + y * 17) * 2654435761L).toInt & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val png = makePng(40, 25)
    val Some((w, h, ch, fp)) = Multimodal.decodeImage(png)
    assert(w === 40 && h === 25 && ch === 3)
    // fingerprint is a function of the decoded PIXELS: a jpeg... would be
    // lossy, but a second png encoding of the same pixels matches exactly
    assert(Multimodal.decodeImage(makePng(40, 25)).get._4 === fp)
    assert(Multimodal.decodeImage(makePng(40, 26)).get._4 !== fp)

    // through the Spark pipeline: a real png asset decodes with REAL
    // dimensions (ignoring the recorded metadata); bytes no codec reads
    // yield no row
    val rows = Seq(
      Multimodal.Asset(1L, "image", png, 999, 999, 0, "png"),
      Multimodal.Asset(2L, "image", Array.fill[Byte](2048)(7), 64, 32, 0, "webp"))
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[Multimodal.Asset])
    val out = Multimodal.decodeImages(ds).collect().sortBy(_.asset_id)
    assert(out.toSeq === Seq(Multimodal.DecodedImage(1L, 40, 25, 3, fp)))
  }

  test("synthesized real-PNG corpus: codec round-trip; pixel dedup finds cross-container twins") {
    val n = 24L
    val dp = 16L
    val a = Multimodal.generatePngAssets(spark, n, dp).collect().sortBy(_.asset_id)
    val b = Multimodal.generatePngAssets(spark, n, dp).collect().sortBy(_.asset_id)
    a.zip(b).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(x.content, y.content), "regeneration byte-identical")
    }
    val ds = Multimodal.generatePngAssets(spark, n, dp)
    val dec = Multimodal.decodeImages(ds).collect().sortBy(_.asset_id)
    val byId = dec.map(d => d.asset_id -> d).toMap
    // decoded dims/channels round-trip the encoder's
    a.foreach { x =>
      val d = byId(x.asset_id)
      assert(d.width === x.width && d.height === x.height, s"dims of ${x.asset_id}")
      assert(d.channels === 3, s"RGB channels of ${x.asset_id}")
    }
    // twins: byte-UNidentical (png vs bmp container) yet pixel-identical —
    // fingerprint equality across containers proves the REAL codec ran
    // (the encoded-bytes fallback could never match)
    (dp until n).foreach { i =>
      val twin = byId(i % dp)
      assert(byId(i).pixels_fingerprint === twin.pixels_fingerprint, s"twin fp of $i")
      assert(!java.util.Arrays.equals(a(i.toInt).content, a((i % dp).toInt).content),
        s"containers of $i and ${i % dp} must differ")
    }
    // distinct pixel grids -> distinct fingerprints
    assert(dec.map(_.pixels_fingerprint).toSet.size === dp)
    // a dedup keyed on the encoded bytes cannot merge the twins; one
    // keyed on the decoded pixels does
    assert(ds.select(graft.spark.functions.murmur64($"content")).distinct().count() === n)
  }

  test("synthesized real-WAV corpus: javax.sound codec round-trip is exact") {
    val assets = Multimodal.generateWavAssets(spark, 24)
    val dec = Multimodal.decodeAudioAssets(assets).collect().sortBy(_.asset_id)
    assert(dec.length === 24)
    dec.foreach { d =>
      val i = d.asset_id
      assert(d.sample_rate === (8000 << (i % 3).toInt), s"asset $i rate")
      assert(d.channels === 1 + (i % 2).toInt, s"asset $i channels")
      assert(d.n_frames === 400 + 100 * (i % 5), s"asset $i frames")
    }
    // the fingerprint is of the DECODED PCM: recompute locally by parsing
    // the same container through the same JDK codec
    val local = assets.collect().sortBy(_.asset_id).map { a =>
      Multimodal.decodeAudio(a.content).get._4
    }
    assert(dec.map(_.pcm_fingerprint).toSeq === local.toSeq)
    // regeneration is byte-identical (pure function of the id)
    val again = Multimodal.generateWavAssets(spark, 24).collect().sortBy(_.asset_id)
    assert(again.zip(assets.collect().sortBy(_.asset_id))
      .forall { case (x, y) => java.util.Arrays.equals(x.content, y.content) })
    // a container no installed codec reads decodes to nothing
    assert(Multimodal.decodeAudio(Array[Byte](1, 2, 3, 4)).isEmpty)
  }

  test("synthesized real-GIF corpus: frame decode, delay metadata, exact palette round-trip") {
    val assets = Multimodal.generateGifAssets(spark, 12).collect().sortBy(_.asset_id)
    assert(assets.length === 12)
    assets.foreach { a =>
      val i = a.asset_id
      val frames = Multimodal.decodeFrames(a.content)
        .getOrElse(fail(s"asset $i: GIF did not decode"))
      assert(frames.length === 2 + (i % 4).toInt, s"asset $i frame count")
      frames.zipWithIndex.foreach { case (fr, f) =>
        assert(fr.delay_ms === Multimodal.GifFrameDelayMs, s"asset $i frame $f delay")
        assert(fr.width === 16 + (i % 8).toInt && fr.height === 16 + (i % 4).toInt)
        val v = ((i * 31 + f * 7) % 16).toInt
        val expect = 0xff000000L | (17L * v << 16) |
          (17L * ((v + 5) % 16) << 8) | (17L * ((v + 11) % 16))
        assert(fr.argb00 === (expect & 0xffffffffL), s"asset $i frame $f pixel")
      }
    }
    // regeneration is byte-identical (pure function of the id)
    val again = Multimodal.generateGifAssets(spark, 12).collect().sortBy(_.asset_id)
    assert(again.zip(assets).forall { case (x, y) =>
      java.util.Arrays.equals(x.content, y.content) })
  }

  test("sampleFramesDetailed: GIF frame schedule, decoded dims and pixel") {
    val gifs = Multimodal.generateGifAssets(spark, 6)
    val sampled = Multimodal.sampleFramesDetailed(gifs, everyMs = 200)
      .collect().sortBy(f => (f.asset_id, f.ts_ms))
    // asset i has nf = 2 + i%4 frames of 100ms: samples at 0,200,.. < nf*100
    val expectCount = (0 until 6).map(i => (2 + i % 4) * 100)
      .map(d => (d + 199) / 200).sum
    assert(sampled.length === expectCount)
    // dims and top-left pixel are the DECODED frame's: recompute via
    // decodeFrames
    val byId = gifs.collect().map(a => a.asset_id ->
      Multimodal.decodeFrames(a.content).get).toMap
    sampled.foreach { fr =>
      assert(fr.ts_ms === fr.sample_idx * 200)
      assert(fr.frame_idx === math.min(byId(fr.asset_id).length - 1, fr.ts_ms / 100))
      val dec = byId(fr.asset_id)(fr.frame_idx)
      assert(fr.width === dec.width && fr.height === dec.height)
      assert(fr.argb00 === dec.argb00)
    }
  }

  test("sampleSchedule handles irregular delays and boundary instants") {
    // frames: [0,50) [50,350) [350,400): samples at 0,100,200,300 ->
    // frames 0,1,1,1; t=400 is not < 400
    assert(Multimodal.sampleSchedule(Array(50, 300, 50), 100) ===
      Seq((0, 0), (1, 1), (2, 1), (3, 1)))
    // exact boundary: t=100 lands on frame 1's start
    assert(Multimodal.sampleSchedule(Array(100, 100), 100) === Seq((0, 0), (1, 1)))
    // zero-duration stream degrades to one sample of frame 0
    assert(Multimodal.sampleSchedule(Array(0, 0), 100) === Seq((0, 0)))
  }
}
