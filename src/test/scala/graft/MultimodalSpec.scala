package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

/** Multimodal codec plumbing: byte-exact round-trips through the real
  * JVM codecs (PNG / WAV / GIF), batch decode features, real image
  * resize, frame sampling arithmetic, and entropy on known byte
  * distributions.
  */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def demoDocs = {
    import spark.implicits._
    Seq((0L, "aaaabbbb"), (1L, "hello world, this is a longer text"),
      (2L, "x"), (3L, "zzzz"))
      .toDF("doc_id", "text")
  }

  // the lossless-content contract everything else rests on: decoded
  // samples must equal the body bytes cycled through the grid
  test("PNG round-trip is byte-exact") {
    val body = "aaaabbbbcc".getBytes("UTF-8")
    val png = Multimodal.encodePng(5, 4, body)
    assert(png.take(4).sameElements(
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)))
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 5 && img.getHeight == 4)
    assert(img.getRaster.getNumBands == 1)
    for (i <- 0 until 20)
      assert(img.getRaster.getSample(i % 5, i / 5, 0) ==
        (body(i % body.length) & 0xff), s"pixel $i")
  }

  test("WAV round-trip is byte-exact") {
    val body = Array.tabulate[Byte](300)(i => (i * 7 % 251).toByte)
    val wav = Multimodal.encodeWav(16000, body)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(ais.getFormat.getSampleRate == 16000f)
    assert(ais.getFrameLength == 300L)
    val back = ais.readAllBytes()
    assert(back.sameElements(body))
  }

  test("GIF round-trip is byte-exact across frames") {
    val body = "abcdefg".getBytes("UTF-8")
    val gif = Multimodal.encodeGif(4, 3, 2, body)
    assert(new String(gif.take(3), "US-ASCII") == "GIF")
    val reader = javax.imageio.ImageIO
      .getImageReadersByFormatName("gif").next()
    reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(gif)))
    assert(reader.getNumImages(true) == 2)
    for (f <- 0 until 2) {
      val img = reader.read(f)
      for (i <- 0 until 12)
        assert(img.getRaster.getSample(i % 4, i / 4, 0) ==
          (body((f * 12 + i) % body.length) & 0xff), s"frame $f px $i")
    }
  }

  test("decode recovers dimensions and entropy through real codecs") {
    val assets = Multimodal.demoAssets(demoDocs, "doc_id", "text")
    val feats = Multimodal.decode(assets).collect()
      .map(f => f.asset_id -> f).toMap
    // id 0 → image, len 8: w = 16+8 = 24, h = 16+2 = 18, one frame
    assert(feats(0L).kind == "image")
    assert(feats(0L).width === 24 && feats(0L).height === 18)
    assert(feats(0L).channels === 1 && feats(0L).frames === 1)
    assert(feats(0L).content_bytes === 24L * 18)
    // 432 pixels = 54 exact cycles of "aaaabbbb" → still exactly 1 bit
    assert(math.abs(feats(0L).entropy - 1.0) < 1e-12)
    // id 1 → audio, len 34: samples = body bytes exactly
    assert(feats(1L).kind == "audio")
    assert(feats(1L).width === 0 && feats(1L).frames === 34)
    assert(feats(1L).content_bytes === 34L)
    // id 2 → video, len 1: 2 frames of 17×16, single symbol → 0 bits
    assert(feats(2L).kind == "video")
    assert(feats(2L).width === 17 && feats(2L).height === 16)
    assert(feats(2L).frames === 2)
    assert(feats(2L).content_bytes === 2L * 17 * 16)
    assert(feats(2L).entropy === 0.0)
    // id 3 → image, "zzzz": single symbol → 0 bits
    assert(feats(3L).kind == "image")
    assert(feats(3L).entropy === 0.0)
  }

  test("demoAssets rejects empty and non-ASCII text loudly") {
    import spark.implicits._
    val empty = Seq((0L, "")).toDF("doc_id", "text")
    val e1 = intercept[org.apache.spark.SparkException](
      Multimodal.demoAssets(empty, "doc_id", "text").collect())
    assert(e1.getMessage.contains("pure-ASCII") ||
      Option(e1.getCause).exists(_.getMessage.contains("pure-ASCII")))
    val nonAscii = Seq((1L, "café")).toDF("doc_id", "text")
    val e2 = intercept[org.apache.spark.SparkException](
      Multimodal.demoAssets(nonAscii, "doc_id", "text").collect())
    assert(e2.getMessage.contains("pure-ASCII") ||
      Option(e2.getCause).exists(_.getMessage.contains("pure-ASCII")))
  }

  test("frameSample: one row per everyMs step, inclusive of 0") {
    val assets = Multimodal.demoAssets(demoDocs, "doc_id", "text").toDF()
    val frames = Multimodal.frameSample(assets, everyMs = 100L)
    // only video assets (id % 3 == 2): ids 2 (body 1B → 10ms) and
    // doc 2 text "x" → duration 10ms → frames at ts 0 only.
    val byId = frames.collect().groupBy(_.getLong(0))
    assert(byId.keySet === Set(2L))
    assert(byId(2L).map(_.getLong(2)).toSeq.sorted == Seq(0L))
  }

  test("aHash near-dup pairing: a lightly perturbed re-encode pairs " +
      "with its original; unrelated images do not") {
    import spark.implicits._
    val meta = Multimodal.MediaMeta("image/png", 32, 24, 0, 0L)
    def img(id: Long, body: Array[Byte]) =
      Multimodal.MediaAsset(id, "image",
        Multimodal.encodePng(32, 24, body), meta)
    // base: a strong light/dark block structure (aHash's home turf)
    val base = Array.tabulate[Byte](32 * 24) { i =>
      val x = i % 32
      (if (x < 16) 230 else 20).toByte
    }
    // near-dup: a handful of pixels nudged — block means barely move
    val near = base.clone()
    for (i <- Seq(5, 100, 200, 500)) near(i) = (near(i) + 25).toByte
    // far: the inverse structure — every bit flips
    val far = base.map(b => (250 - (b & 0xff)).toByte)
    val hashes = Multimodal.aHash(
      Seq(img(1L, base), img(2L, near), img(3L, far)).toDS()).toDF()
    val pairs = SpecSupport.phashNearDup(hashes, maxHamming = 3)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    // exact self-agreement: identical payloads pair at hamming 0
    val dup = SpecSupport.phashNearDup(Multimodal.aHash(
        Seq(img(7L, base), img(8L, base)).toDS()).toDF(), 0)
      .as[(Long, Long, Int)].collect().toSeq
    assert(dup.map(t => (t._1, t._2)) == Seq((7L, 8L)) &&
      dup.head._3 == 0)
    // non-image assets are filtered, tiny dims refuse loudly
    val wav = Multimodal.MediaAsset(9L, "audio",
      Multimodal.encodeWav(8000, Array.tabulate[Byte](64)(_.toByte)),
      Multimodal.MediaMeta("audio/wav", 0, 0, 8000, 0L))
    assert(Multimodal.aHash(Seq(wav).toDS()).count() == 0L)
    val tiny = Multimodal.MediaAsset(10L, "image",
      Multimodal.encodePng(4, 4, Array.tabulate[Byte](16)(_.toByte)),
      meta)
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.aHash(Seq(tiny).toDS()).collect()
    }
    assert(e.getMessage.contains("dims >= 8") ||
      Option(e.getCause).exists(_.getMessage.contains("dims >= 8")))
    intercept[IllegalArgumentException] {
      SpecSupport.phashNearDup(hashes, maxHamming = 4)
    }
  }
}
