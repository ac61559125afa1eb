package graft.operators

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) columns for training-data pipelines.
  *
  * Design: media payloads are opaque `binary` columns with a typed
  * metadata struct alongside — the table layout a 100 TB multimodal
  * corpus uses (payload bytes never parsed by Catalyst; metadata
  * prunable/filterable without touching payloads). Decode /
  * feature-extract run batch-wise per partition (`mapPartitions`) so
  * codec state amortizes across a partition's rows — the same batch
  * shape `mapInPandas` gives Python pipelines.
  *
  * The codecs are REAL JVM codecs: PNG via `javax.imageio` for
  * images, RIFF/WAV via `javax.sound.sampled` for audio, and
  * multi-frame GIF (LZW) via `javax.imageio` for video. The demo
  * fixture generator encodes deterministic content (document bytes
  * cycled through the pixel/sample grid, all three formats lossless),
  * which is what lets a SQL oracle predict the decoded features
  * without itself decoding.
  */
object Multimodal {

  /** Typed metadata carried next to the payload, never inside it. */
  final case class MediaMeta(
      mime: String, width: Int, height: Int,
      sampleRate: Int, durationMs: Long)

  final case class MediaAsset(
      asset_id: Long, kind: String, payload: Array[Byte],
      meta: MediaMeta)

  /** Decoded-content features, one row per asset.
    *  - image: width×height of the decoded raster, frames = 1;
    *  - audio: frames = PCM sample frames, width = height = 0;
    *  - video: frames = decoded frame count, width×height per frame.
    * `content_bytes` counts DECODED samples (what drives downstream
    * memory), not the compressed payload size — payload size is plain
    * `length(payload)` and needs no decode (see mm01). `entropy` is
    * the byte-histogram entropy of the decoded content.
    */
  final case class MediaFeatures(
      asset_id: Long, kind: String, width: Int, height: Int,
      channels: Int, frames: Int, content_bytes: Long, entropy: Double)

  // 8-bit identity-gray palette: decoded palette indices == the bytes
  // that were drawn, which keeps GIF (and indexed PNG) lossless in the
  // byte domain
  private def grayPalette(): IndexColorModel = {
    val g = Array.tabulate[Byte](256)(_.toByte)
    new IndexColorModel(8, 256, g, g, g)
  }

  private def grayImage(w: Int, h: Int, body: Array[Byte],
                        offset: Long): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < w * h) {
      raster.setSample(i % w, i / w, 0,
        body(((offset + i) % body.length).toInt) & 0xff)
      i += 1
    }
    img
  }

  /** Encode a w×h grayscale PNG whose pixels are `body` cycled. */
  def encodePng(w: Int, h: Int, body: Array[Byte]): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    ImageIO.write(grayImage(w, h, body, 0), "png", baos)
    baos.toByteArray
  }

  /** Encode a PCM 8-bit unsigned mono WAV whose samples are `body`. */
  def encodeWav(sampleRate: Int, body: Array[Byte]): Array[Byte] = {
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED,
      sampleRate.toFloat, 8, 1, 1, sampleRate.toFloat, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(body),
      fmt, body.length.toLong)
    val baos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Encode an n-frame w×h grayscale GIF; pixels are `body` cycled
    * continuously across frames (frame f starts at offset f·w·h).
    */
  def encodeGif(w: Int, h: Int, frames: Int,
                body: Array[Byte]): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    // the JDK GIF writer interlaces by default; write sequential rows
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    val cm = grayPalette()
    var f = 0
    while (f < frames) {
      // draw through the identity palette so indices == bytes
      val gray = grayImage(w, h, body, f.toLong * w * h)
      val idx = new BufferedImage(w, h,
        BufferedImage.TYPE_BYTE_INDEXED, cm)
      idx.getRaster.setDataElements(0, 0, w, h,
        gray.getRaster.getDataElements(0, 0, w, h, null))
      writer.writeToSequence(
        new javax.imageio.IIOImage(idx, null, null), param)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    baos.toByteArray
  }

  /** Build a deterministic demo media table from any (id, text) frame:
    * real PNG / WAV / GIF payloads whose decoded content is the UTF-8
    * bytes of the text cycled through the pixel/sample grid, metadata
    * derived from the content length. Kinds round-robin by id as
    * before: image / audio / video for id % 3 = 0 / 1 / 2.
    */
  def demoAssets(docs: DataFrame, idCol: String,
                 textCol: String): Dataset[MediaAsset] = {
    implicit val enc = Encoders.product[MediaAsset]
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .map { case (id, text) =>
        // The mm02 oracle predicts decoded bytes by indexing the text
        // per CHARACTER position (`text[i % len + 1]`), which is only
        // byte-accurate for non-empty pure-ASCII content. Reject the
        // rest here so a fixture violation fails loudly on BOTH sides
        // instead of silently diverging (ADVICE r5).
        require(text.nonEmpty && text.forall(_ < 128),
          s"demoAssets: doc $id must be non-empty pure-ASCII " +
            "(oracle indexes by char position)")
        val body = text.getBytes("UTF-8")
        val len = body.length
        // deterministic "dimensions" from content, so decode is testable
        val w = 16 + (len % 64)
        val h = 16 + ((len / 3) % 64)
        (id % 3) match {
          case 0 =>
            MediaAsset(id, "image", encodePng(w, h, body),
              MediaMeta("image/png", w, h, 0, 0L))
          case 1 =>
            MediaAsset(id, "audio", encodeWav(16000, body),
              MediaMeta("audio/wav", 0, 0, 16000, 0L))
          case _ =>
            val frames = 1 + (len % 4)
            MediaAsset(id, "video", encodeGif(w, h, frames, body),
              MediaMeta("video/gif", w, h, 0, len.toLong * 10))
        }
      }
  }

  // shared by decode paths: histogram → Shannon entropy in bits
  private def entropyOf(hist: Array[Long], n: Long): Double = {
    var e = 0.0
    var i = 0
    while (i < 256) {
      if (hist(i) > 0) {
        val p = hist(i).toDouble / n
        e -= p * (math.log(p) / math.log(2))
      }
      i += 1
    }
    e
  }

  private def histRaster(img: BufferedImage,
                         hist: Array[Long]): Long = {
    val raster = img.getRaster
    val (w, h, bands) =
      (img.getWidth, img.getHeight, raster.getNumBands)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var b = 0
        while (b < bands) {
          hist(raster.getSample(x, y, b) & 0xff) += 1
          b += 1
        }
        x += 1
      }
      y += 1
    }
    w.toLong * h * bands
  }

  /** Batch decode: real codec per kind (`javax.imageio` PNG reader,
    * `javax.sound.sampled` WAV parser, `javax.imageio` GIF sequence
    * reader), then byte-histogram features over the decoded content.
    * Runs per-partition so the histogram scratch (and any heavier
    * codec context) amortizes across the partition's rows.
    */
  def decode(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    assets.mapPartitions { it =>
      val hist = new Array[Long](256)
      it.map { a =>
        java.util.Arrays.fill(hist, 0L)
        a.kind match {
          case "audio" =>
            val ais = AudioSystem.getAudioInputStream(
              new ByteArrayInputStream(a.payload))
            try {
              val fmt = ais.getFormat
              require(fmt.getSampleSizeInBits == 8,
                s"asset ${a.asset_id}: expected 8-bit PCM")
              val frames = ais.getFrameLength.toInt
              val channels = fmt.getChannels
              val buf = new Array[Byte](8192)
              var n = 0L
              var read = ais.read(buf)
              while (read > 0) {
                var i = 0
                while (i < read) { hist(buf(i) & 0xff) += 1; i += 1 }
                n += read
                read = ais.read(buf)
              }
              MediaFeatures(a.asset_id, a.kind, 0, 0, channels,
                frames, n, entropyOf(hist, n))
            } finally ais.close()
          case "video" =>
            val reader =
              ImageIO.getImageReadersByFormatName("gif").next()
            val iis = new MemoryCacheImageInputStream(
              new ByteArrayInputStream(a.payload))
            try {
              reader.setInput(iis)
              val frames = reader.getNumImages(true)
              var n = 0L
              var w = 0
              var h = 0
              var f = 0
              while (f < frames) {
                val img = reader.read(f)
                w = img.getWidth; h = img.getHeight
                n += histRaster(img, hist)
                f += 1
              }
              MediaFeatures(a.asset_id, a.kind, w, h, 1, frames,
                n, entropyOf(hist, n))
            } finally { reader.dispose(); iis.close() }
          case _ =>
            val img = ImageIO.read(new ByteArrayInputStream(a.payload))
            require(img != null,
              s"asset ${a.asset_id}: undecodable image payload")
            val n = histRaster(img, hist)
            MediaFeatures(a.asset_id, a.kind, img.getWidth,
              img.getHeight, img.getRaster.getNumBands, 1, n,
              entropyOf(hist, n))
        }
      }
    }
  }

  /** 64-bit average-hash of an image asset, one row per asset. */
  final case class ImageHash(asset_id: Long, h_hi: Long, h_lo: Long)

  /** Perceptual average-hash (aHash) over decoded image rasters —
    * the image analogue of content fingerprinting for near-dup
    * screening: the w×h grayscale grid is block-averaged into an
    * 8×8 cell grid (cell of pixel (x,y) = ((y·8)/h, (x·8)/w), floor
    * division — cells differ by ≤1 row/col in size), and bit c is
    * set iff cell c's mean EXCEEDS the whole-image mean. The bit
    * rule is evaluated in INTEGER arithmetic —
    * `cell_sum·(w·h) > total_sum·cell_count` — so the hash is exact,
    * engine-portable, and DuckDB-mirrorable with no floating-point
    * tie risk (every product ≤ 255·80²·80² ≪ 2⁶³ at the fixture
    * dims; requires w·h·255·w·h < 2⁶³ in general, i.e. dims ≲ 10⁴).
    * Output: the 64 bits as two non-negative 32-bit halves riding
    * BIGINTs (h_hi = bits 32–63, h_lo = bits 0–31) — split so the
    * oracle never builds a sign-overflowing 2⁶³ term. Near-identical
    * images (small pixel perturbations, re-encodes) land within a
    * few Hamming bits.
    *
    * Decode is the same real-codec batch shape as [[decode]]
    * (per-partition `mapPartitions`, `javax.imageio`); non-image
    * assets are filtered out, dims must be ≥ 8.
    */
  def aHash(assets: Dataset[MediaAsset]): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    assets.filter(_.kind == "image").mapPartitions { it =>
      it.map { a =>
        val img = ImageIO.read(new ByteArrayInputStream(a.payload))
        require(img != null,
          s"asset ${a.asset_id}: undecodable image payload")
        val raster = img.getRaster
        val w = img.getWidth
        val h = img.getHeight
        require(w >= 8 && h >= 8,
          s"asset ${a.asset_id}: aHash needs dims >= 8, got ${w}x$h")
        // integer bit rule computes cell_sum·(w·h) with cell_sum up
        // to 255·w·h — overflows Long once 255·(w·h)² ≥ 2⁶³, i.e.
        // w·h ≥ ~1.9e8 (a ~13800² image). Fail loud, not wrong-hash.
        require(w.toLong * h < 190000000L,
          s"asset ${a.asset_id}: aHash integer bit rule overflows " +
            s"Long at ${w}x$h (w*h must be < 1.9e8)")
        val cs = new Array[Long](64)
        val cn = new Array[Long](64)
        var ts = 0L
        var y = 0
        while (y < h) {
          val cy = y * 8 / h
          var x = 0
          while (x < w) {
            val c = cy * 8 + x * 8 / w
            val v = raster.getSample(x, y, 0) & 0xff
            cs(c) += v
            cn(c) += 1
            ts += v
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        var hi = 0L
        var lo = 0L
        var c = 0
        while (c < 64) {
          if (cs(c) * n > ts * cn(c)) {
            if (c >= 32) hi |= 1L << (c - 32) else lo |= 1L << c
          }
          c += 1
        }
        ImageHash(a.asset_id, hi, lo)
      }
    }
  }

  /** Frame sampling for video assets: one row per sampled timestamp —
    * pure Catalyst (`sequence` + `explode`), no payload decode; the
    * per-frame decode would hang off [[decode]]'s batch shape.
    */
  def frameSample(assets: DataFrame, everyMs: Long): DataFrame =
    assets.filter(col("kind") === "video")
      .filter(col("meta.durationMs") >= 0)
      .select(col("asset_id"), col("meta.durationMs").as("dur"),
        explode(sequence(lit(0L), col("meta.durationMs"),
          lit(everyMs))).as("ts_ms"))
      .withColumn("frame_idx",
        (col("ts_ms") / everyMs).cast("int"))
      .select(col("asset_id"), col("frame_idx"), col("ts_ms"))
}
