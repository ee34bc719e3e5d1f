package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.hash.Murmur2Kernel

/** Multimodal (image/audio/video) columns for training-data pipelines:
  * opaque binary content + typed metadata. IMAGE decode and resize use
  * the JDK-native codecs (png/jpeg/gif/bmp via `javax.imageio`), AUDIO
  * decode the JDK-native containers (WAV/AIFF/AU PCM via
  * `javax.sound.sampled`), and FRAME SAMPLING the JDK-native
  * multi-frame container (animated GIF: frames + per-frame delay
  * metadata via the `ImageIO` frame reader) — all present on every
  * executor with no extra jars.
  *
  * One rule for every decoder: an asset that no installed codec reads
  * (webp, mp3, flac, ogg, mp4, webm, corrupt bytes) yields no row, never
  * a made-up answer. A deployment that needs those formats adds the
  * codec to the classpath (`ImageIO`/`AudioSystem` find it through
  * their service loaders) and keeps every signature unchanged.
  */
object Multimodal {

  /** One media asset row: the contractual multimodal schema. */
  case class Asset(
      asset_id: Long,
      kind: String, // image | audio | video
      content: Array[Byte], // opaque encoded bytes
      width: Int, // images/video
      height: Int,
      duration_ms: Int, // audio/video
      format: String)

  case class DecodedImage(
      asset_id: Long,
      width: Int,
      height: Int,
      channels: Int,
      pixels_fingerprint: Long)

  /** Deterministic REAL-PNG corpus: seeded murmur pixels -> BufferedImage
    * -> `ImageIO.write(png)` on the executors — genuine encoded image
    * bytes with zero external data, so the decode path
    * (`decodeImages`/`decodeImage`) runs the real `javax.imageio` codec
    * end to end. Pixel content is keyed by `asset_id % distinctPixels`:
    * ids beyond `distinctPixels` are pixel-identical duplicates of their
    * `id % distinctPixels` twin (for dedup tests, the canonical id of
    * asset i is exactly i % distinctPixels). Twins are encoded in a
    * DIFFERENT container (bmp vs png) — byte-UNidentical, pixel-identical
    * — so a dedup keyed on DECODED pixels finds them and one keyed on
    * encoded bytes provably cannot. Encoding a fixed pixel grid is a pure
    * function, so regeneration is byte-identical. */
  def generatePngAssets(spark: SparkSession, n: Long, distinctPixels: Long,
      seed: Long = 42L): Dataset[Asset] = {
    require(distinctPixels > 0, "distinctPixels must be > 0")
    import spark.implicits._
    spark.range(n).map { i =>
      val pix = i % distinctPixels
      val w = 16 + (pix % 16).toInt
      val h = 16 + (pix % 8).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = Murmur2Kernel.hash64Seeded(
            graft.core.ByteOps.utf8(s"png:$pix:$x:$y"), seed)
          img.setRGB(x, y, (v & 0xffffffL).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      val fmt = if (i == pix) "png" else "bmp" // twins: other container
      javax.imageio.ImageIO.write(img, fmt, bos)
      Asset(i, "image", bos.toByteArray, w, h, 0, fmt)
    }
  }

  /** Deterministic SOLID-COLOR PNG corpus for the resize oracle: dims
    * (16 + i%8) x (16 + i%4) straddle a ~20x18 target (both up- and
    * down-scaling exercised), color v = (i*31) % 16 with channels
    * (17v, 17·((v+5)%16), 17·((v+11)%16)) — the generateGifAssets
    * palette arithmetic, so a SQL oracle can state the SCALED top-left
    * pixel exactly (every interpolation of a constant field is the
    * constant). PNG is lossless; the round-trip preserves the color
    * bit-for-bit. */
  def generateSolidPngAssets(spark: SparkSession, n: Long): Dataset[Asset] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val w = 16 + (i % 8).toInt
      val h = 16 + (i % 4).toInt
      val v = ((i * 31) % 16).toInt
      val rgb = (17 * v << 16) | (17 * ((v + 5) % 16) << 8) | (17 * ((v + 11) % 16))
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = img.createGraphics()
      g2.setColor(new java.awt.Color(rgb))
      g2.fillRect(0, 0, w, h)
      g2.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      Asset(i, "image", bos.toByteArray, w, h, 0, "png")
    }
  }

  /** Deterministic REAL-WAV corpus: seeded 16-bit PCM frames wrapped in
    * a hand-built RIFF/WAVE header — genuine encoded audio bytes with
    * zero external data, so [[decodeAudio]] runs the real
    * `javax.sound.sampled` codec end to end (WAV/AIFF/AU PCM ship with
    * the JDK; mp3/flac/ogg do not, and [[decodeAudioAssets]] drops them).
    * Parameters are arithmetic in the asset id — sampleRate 8000<<(i%3),
    * channels 1+(i%2), frames 400+100·(i%5) — so a SQL oracle can check
    * the decoded metadata exactly. */
  def generateWavAssets(spark: SparkSession, n: Long, seed: Long = 42L): Dataset[Asset] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val sampleRate = 8000 << (i % 3).toInt
      val channels = 1 + (i % 2).toInt
      val frames = 400 + 100 * (i % 5).toInt
      val dataLen = frames * channels * 2
      val pcm = new Array[Byte](dataLen)
      var off = 0
      var ctr = 0L
      while (off < dataLen) {
        val h = Murmur2Kernel.hash64Seeded(
          graft.core.ByteOps.utf8(s"wav:$i:$ctr"), seed)
        var b = 0
        while (b < 8 && off < dataLen) {
          pcm(off) = (h >>> (b * 8)).toByte
          off += 1
          b += 1
        }
        ctr += 1
      }
      Asset(i, "audio", wavBytes(sampleRate, channels, pcm), 0, 0,
        (frames * 1000L / sampleRate).toInt, "wav")
    }
  }

  /** Canonical 44-byte PCM RIFF/WAVE container around raw 16-bit LE
    * frames — a pure function of (rate, channels, pcm). */
  private def wavBytes(sampleRate: Int, channels: Int, pcm: Array[Byte]): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val bb = java.nio.ByteBuffer.allocate(44 + pcm.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(ascii)).putInt(36 + pcm.length)
      .put("WAVE".getBytes(ascii)).put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort) // block align
      .putShort(16) // bits per sample
      .put("data".getBytes(ascii)).putInt(pcm.length)
      .put(pcm)
    bb.array()
  }

  /** Per-frame GIF delay used by [[generateGifAssets]] (10 ms units on
    * the wire: the GIF GraphicControlExtension stores centiseconds). */
  final val GifFrameDelayMs = 100

  /** Deterministic REAL-GIF corpus: multi-frame animated GIFs written by
    * the JDK's own `ImageIO` GIF writer (write-sequence API with a real
    * GraphicControlExtension carrying delayTime per frame) — genuine
    * multi-frame video-like assets with zero external data, so the frame
    * sampler runs the real frame decode + metadata parse end to end.
    * Every parameter is arithmetic in the asset id (the WAV-corpus
    * pattern): nFrames = 2 + i%4, dims (16 + i%8) x (16 + i%4), and
    * frame f is a SOLID color v = (i·31 + f·7) % 16 with channels
    * (17v, 17·((v+5)%16), 17·((v+11)%16)) — at most 16 exact palette
    * colors, so the GIF round-trip is lossless and a SQL oracle can
    * check the DECODED pixel value exactly. */
  def generateGifAssets(spark: SparkSession, n: Long): Dataset[Asset] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val nFrames = 2 + (i % 4).toInt
      val w = 16 + (i % 8).toInt
      val h = 16 + (i % 4).toInt
      val bos = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val v = ((i * 31 + f * 7) % 16).toInt
        val rgb = (17 * v << 16) | (17 * ((v + 5) % 16) << 8) | (17 * ((v + 11) % 16))
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g2 = img.createGraphics()
        g2.setColor(new java.awt.Color(rgb))
        g2.fillRect(0, 0, w, h)
        g2.dispose()
        val meta = writer.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img), writer.getDefaultWriteParam)
        val fmtName = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmtName)
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        val gce = new javax.imageio.metadata.IIOMetadataNode("GraphicControlExtension")
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", (GifFrameDelayMs / 10).toString)
        gce.setAttribute("transparentColorIndex", "0")
        root.appendChild(gce)
        meta.setFromTree(fmtName, root)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
        f += 1
      }
      writer.endWriteSequence()
      writer.dispose()
      ios.close()
      Asset(i, "video", bos.toByteArray, w, h, nFrames * GifFrameDelayMs, "gif")
    }
  }

  final case class DecodedAudio(asset_id: Long, sample_rate: Int,
      channels: Int, n_frames: Long, pcm_fingerprint: Long)

  /** Decode one audio asset with the JDK-native codec chain
    * (`javax.sound.sampled`). Returns (sampleRate, channels, frames,
    * fingerprint of the DECODED PCM bytes) or None when no installed
    * codec recognizes the container. */
  def decodeAudio(content: Array[Byte]): Option[(Int, Int, Long, Long)] = {
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(content)))
      try {
        val fmt = in.getFormat
        val pcm = in.readAllBytes()
        val frames =
          if (fmt.getFrameSize > 0) pcm.length.toLong / fmt.getFrameSize else 0L
        Some((fmt.getSampleRate.toInt, fmt.getChannels, frames,
          Murmur2Kernel.hash64(pcm)))
      } finally in.close()
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Decode the audio assets with [[decodeAudio]]; an asset no
    * installed codec reads (mp3/flac/ogg) yields no row. Iterator-shaped
    * mapPartitions — the scale contract for binary columns. */
  def decodeAudioAssets(assets: Dataset[Asset]): Dataset[DecodedAudio] = {
    import assets.sparkSession.implicits._
    assets.filter(_.kind == "audio").mapPartitions { it =>
      it.flatMap { a =>
        decodeAudio(a.content).map { case (rate, ch, frames, fp) =>
          DecodedAudio(a.asset_id, rate, ch, frames, fp)
        }
      }
    }
  }

  /** Decode one encoded image with the JDK-native codecs (`javax.imageio`:
    * png/jpeg/gif/bmp ship with the JRE — no external library). Returns
    * (width, height, channels, pixelsFingerprint) or None when no
    * installed codec recognizes the bytes. The fingerprint chains a
    * seeded murmur over row-major ARGB rows, so it is a deterministic
    * function of the DECODED PIXELS (two different encodings of the same
    * image fingerprint identically) with O(width) scratch memory. */
  def decodeImage(content: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      if (img == null) None
      else Some((img.getWidth, img.getHeight,
        img.getColorModel.getNumComponents, pixelFingerprint(img)))
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Seeded murmur chain over row-major ARGB rows — a deterministic
    * function of the DECODED pixels with O(width) scratch. */
  private def pixelFingerprint(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val rowInts = new Array[Int](w)
    val rowBytes = new Array[Byte](w * 4)
    var fp = 0L
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, rowInts, 0, w)
      var x = 0
      while (x < w) {
        val p = rowInts(x)
        rowBytes(x * 4) = (p >>> 24).toByte
        rowBytes(x * 4 + 1) = (p >>> 16).toByte
        rowBytes(x * 4 + 2) = (p >>> 8).toByte
        rowBytes(x * 4 + 3) = p.toByte
        x += 1
      }
      fp = Murmur2Kernel.hash64Seeded(rowBytes, fp)
      y += 1
    }
    fp
  }

  /** Decode the image assets with [[decodeImage]]; an asset no
    * installed codec reads (webp, corrupt bytes) yields no row. Batch
    * shape (mapPartitions over an iterator, never materializing a
    * partition in memory) is the scale contract. */
  def decodeImages(assets: Dataset[Asset]): Dataset[DecodedImage] = {
    import assets.sparkSession.implicits._
    assets.filter(_.kind == "image").mapPartitions { it =>
      it.flatMap { a =>
        decodeImage(a.content).map { case (w, h, ch, fp) =>
          DecodedImage(a.asset_id, w, h, ch, fp)
        }
      }
    }
  }

  /** One resized image: source dims, target dims, the top-left pixel of
    * the SCALED raster as unsigned ARGB (the SQL-checkable witness — for
    * a constant-color source every interpolation reproduces the color
    * exactly), and the full scaled-pixels fingerprint. */
  final case class ResizedImage(
      asset_id: Long,
      src_width: Int,
      src_height: Int,
      width: Int,
      height: Int,
      argb00: Long,
      pixels_fingerprint: Long)

  /** Resize the image assets: decode with `javax.imageio` (png/jpeg/gif/
    * bmp ship with the JRE), scale to (w, h) with `Graphics2D.drawImage`
    * under the NEAREST_NEIGHBOR interpolation hint into an INT_RGB
    * raster, and fingerprint the SCALED pixels. An asset no installed
    * codec reads yields no row. Same mapPartitions iterator shape as
    * [[decodeImages]] — one raster in flight per task, never a
    * materialized partition. */
  def resizeImageAssets(assets: Dataset[Asset], w: Int, h: Int): Dataset[ResizedImage] = {
    require(w > 0 && h > 0, s"target dims must be positive: ${w}x$h")
    import assets.sparkSession.implicits._
    assets.filter(_.kind == "image").mapPartitions { it =>
      it.flatMap { a =>
        val dec =
          try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(a.content)))
          catch { case scala.util.control.NonFatal(_) => None }
        dec.map { img =>
          val out = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g2 = out.createGraphics()
          g2.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_NEAREST_NEIGHBOR)
          g2.drawImage(img, 0, 0, w, h, null)
          g2.dispose()
          ResizedImage(a.asset_id, img.getWidth, img.getHeight, w, h,
            out.getRGB(0, 0).toLong & 0xffffffffL, pixelFingerprint(out))
        }
      }
    }
  }

  /** One decoded frame of a multi-frame container: its display delay
    * (from the GIF GraphicControlExtension; [[GifFrameDelayMs]] when the
    * stream carries none), dims, the top-left pixel as unsigned ARGB
    * (the SQL-checkable decode witness), and the full pixel
    * fingerprint. */
  final case class DecodedFrame(delay_ms: Int, width: Int, height: Int,
      argb00: Long, pixels_fingerprint: Long)

  /** Decode every frame of a multi-frame container with the JDK-native
    * `ImageIO` frame reader (animated GIF ships with the JRE). None when
    * no installed codec recognizes the bytes. */
  def decodeFrames(content: Array[Byte]): Option[Array[DecodedFrame]] = {
    var iis: javax.imageio.stream.ImageInputStream = null
    var reader: javax.imageio.ImageReader = null
    try {
      iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return None
      reader = readers.next()
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      if (n <= 0) return None
      val out = new Array[DecodedFrame](n)
      var f = 0
      while (f < n) {
        val img = reader.read(f)
        out(f) = DecodedFrame(frameDelayMs(reader.getImageMetadata(f)),
          img.getWidth, img.getHeight,
          img.getRGB(0, 0).toLong & 0xffffffffL, pixelFingerprint(img))
        f += 1
      }
      Some(out)
    } catch {
      case scala.util.control.NonFatal(_) => None
    } finally {
      // dispose on EVERY path: a truncated container that fails mid-read
      // must not strand reader decode buffers across millions of assets
      if (reader != null) reader.dispose()
      if (iis != null) iis.close()
    }
  }

  /** delayTime (centiseconds) from the frame's GraphicControlExtension;
    * [[GifFrameDelayMs]] for streams that carry none. */
  private def frameDelayMs(meta: javax.imageio.metadata.IIOMetadata): Int = {
    try {
      val kids = meta.getAsTree("javax_imageio_gif_image_1.0").getChildNodes
      var i = 0
      while (i < kids.getLength) {
        val nd = kids.item(i)
        if (nd.getNodeName == "GraphicControlExtension") {
          val v = nd.getAttributes.getNamedItem("delayTime")
          if (v != null) {
            val ms = v.getNodeValue.toInt * 10
            return if (ms > 0) ms else GifFrameDelayMs
          }
        }
        i += 1
      }
      GifFrameDelayMs
    } catch { case scala.util.control.NonFatal(_) => GifFrameDelayMs }
  }

  /** Which source frame is on display at each sample instant k·everyMs
    * (k·everyMs < total duration): (sampleIdx, frameIdx) pairs. One
    * forward walk — frame starts are the prefix sums of the delays. */
  private[ops] def sampleSchedule(delaysMs: Array[Int], everyMs: Int): Seq[(Int, Int)] = {
    require(everyMs > 0, "everyMs must be > 0")
    val starts = delaysMs.scanLeft(0)(_ + _)
    val total = starts.last
    if (total <= 0) return Seq((0, 0)) // degenerate zero-duration stream
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var k = 0
    var f = 0
    while (k.toLong * everyMs < total) {
      val t = k * everyMs
      while (f + 1 < delaysMs.length && starts(f + 1) <= t) f += 1
      out += ((k, f))
      k += 1
    }
    out.toSeq
  }

  /** One sampled frame of a video asset with its decode witnesses. */
  final case class SampledFrame(asset_id: Long, sample_idx: Int, frame_idx: Int,
      ts_ms: Int, width: Int, height: Int, argb00: Long)

  /** Sample the video assets every `everyMs`: decode every frame with
    * [[decodeFrames]] and emit, at each instant k·everyMs inside the
    * duration, the frame on display ([[sampleSchedule]]). An asset no
    * installed codec reads (mp4, webm) yields no row. */
  def sampleFramesDetailed(assets: Dataset[Asset], everyMs: Int): Dataset[SampledFrame] = {
    import assets.sparkSession.implicits._
    assets.filter(_.kind == "video").flatMap { a =>
      decodeFrames(a.content) match {
        case Some(frames) =>
          sampleSchedule(frames.map(_.delay_ms), everyMs).iterator.map { case (k, f) =>
            val fr = frames(f)
            SampledFrame(a.asset_id, k, f, k * everyMs, fr.width, fr.height, fr.argb00)
          }
        case None => Iterator.empty
      }
    }
  }

}
