package graft.llm

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  test("media table: payload bytes round-trip the source text") {
    val m = Multimodal.mediaTable(spark, sf001).head()
    assert(m.mime == "text/plain")
    assert(m.width >= 0 && m.width < 1920 && m.height >= 0 && m.height < 1080)
    assert(new String(m.payload, "UTF-8").nonEmpty)
  }

  test("decode stub: nFrames features per doc, offsets monotone, values in [0,1]") {
    val media = Multimodal.mediaTable(spark, sf001)
    val frames = Multimodal.decode(media, nFrames = 4).collect()
    assert(frames.length == media.count() * 4)
    frames.groupBy(_.doc_id).foreach { case (_, fs) =>
      val sorted = fs.sortBy(_.frame)
      assert(sorted.map(_.frame).toSeq == Seq(0, 1, 2, 3))
      assert(sorted.map(_.offset).toSeq == sorted.map(_.offset).sorted.toSeq)
      assert(fs.forall(f => f.feature >= 0.0 && f.feature <= 1.0))
    }
  }

  test("resize stub: constant output size, deterministic, dims clamped") {
    val media = Multimodal.mediaTable(spark, sf001)
    val resized = Multimodal.resize(media, maxDim = 32).collect()
    assert(resized.nonEmpty)
    resized.foreach { m =>
      assert(m.payload.length <= 32)
      assert(m.width <= 32 && m.height <= 32)
    }
    val again = Multimodal.resize(media, maxDim = 32).collect()
      .map(m => (m.doc_id, m.payload.toSeq)).sortBy(_._1).toSeq
    assert(again == resized.map(m => (m.doc_id, m.payload.toSeq)).sortBy(_._1).toSeq)
  }

  test("real PNG decode: known 2x2 pixels produce exact luminance features") {
    import spark.implicits._
    // 2x2 PNG: top row white+white, bottom row black+black
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xffffff); img.setRGB(1, 0, 0xffffff)
    img.setRGB(0, 1, 0x000000); img.setRGB(1, 1, 0x000000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(Multimodal.Media(7L, bos.toByteArray, "image/png", 2, 2)).toDS()
    val frames = Multimodal.decode(media, nFrames = 2).collect().sortBy(_.frame)
    assert(frames.length == 2)
    // white band -> luma 255/255 = 1.0; black band -> 0.0 (PNG is lossless)
    assert(frames(0) == Multimodal.FrameFeature(7L, 0, 0L, 1.0))
    assert(frames(1) == Multimodal.FrameFeature(7L, 1, 1L, 0.0))
  }

  test("real image resize: aspect-preserving bilinear downscale, mean preserved") {
    import spark.implicits._
    // 32x16 horizontal gradient: mean luma is scale-invariant
    val img = new java.awt.image.BufferedImage(32, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 32) {
      val v = (x * 255) / 31
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(Multimodal.Media(9L, bos.toByteArray, "image/png", 32, 16)).toDS()
    val out = Multimodal.resize(media, maxDim = 8).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.width == 8 && r.height == 4, s"${r.width}x${r.height}")
    assert(r.mime == "image/png")
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.payload))
    assert(back.getWidth == 8 && back.getHeight == 4)
    def meanLuma(i: java.awt.image.BufferedImage): Double = {
      val vs = for (y <- 0 until i.getHeight; x <- 0 until i.getWidth) yield {
        val rgb = i.getRGB(x, y)
        0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
      }
      vs.sum / vs.length / 255.0
    }
    assert(math.abs(meanLuma(back) - meanLuma(img)) < 0.05,
      s"resize shifted mean luma: ${meanLuma(back)} vs ${meanLuma(img)}")
    // a small image is never upscaled; corrupt image payloads drop
    val small = Seq(Multimodal.Media(10L, bos.toByteArray, "image/png", 32, 16)).toDS()
    val kept = Multimodal.resize(small, maxDim = 100).collect()(0)
    assert(kept.width == 32 && kept.height == 16)
    val corrupt = Seq(Multimodal.Media(11L, Array[Byte](1, 2, 3), "image/png", 1, 1),
      Multimodal.Media(12L, "plain bytes".getBytes, "text/plain", 11, 1)).toDS()
    val survivors = Multimodal.resize(corrupt, maxDim = 8).collect()
    assert(survivors.map(_.doc_id).toSeq == Seq(12L), "corrupt drops, text strides")
  }

  test("real JPEG decode round-trips through javax.imageio") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0x808080)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val media = Seq(Multimodal.Media(8L, bos.toByteArray, "image/jpeg", 4, 4)).toDS()
    val frames = Multimodal.decode(media, nFrames = 4).collect()
    assert(frames.length == 4)
    // JPEG is lossy: a uniform mid-gray should decode to ~0.5 everywhere
    frames.foreach(f => assert(math.abs(f.feature - 128.0 / 255.0) < 0.05, f.toString))
  }

  test("real WAV decode: loud half then silent half produce exact RMS features") {
    import spark.implicits._
    import javax.sound.sampled._
    // 1000 samples 16-bit mono: first 500 at constant +0.5, rest 0
    val samples = Array.tabulate[Short](1000)(i =>
      if (i < 500) (0.5 * 32768).toShort else 0)
    val bytes = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      bytes(2 * i) = (s & 0xff).toByte; bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(bytes), fmt, samples.length),
      AudioFileFormat.Type.WAVE, bos)
    val media = Seq(Multimodal.Media(9L, bos.toByteArray, "audio/wav", 0, 0)).toDS()
    val frames = Multimodal.decode(media, nFrames = 2).collect().sortBy(_.frame)
    assert(frames.length == 2)
    assert(frames(0).offset == 0L && frames(1).offset == 500L)
    assert(math.abs(frames(0).feature - 0.5) < 1e-3, s"loud half RMS: ${frames(0)}")
    assert(frames(1).feature == 0.0, s"silent half RMS: ${frames(1)}")
  }

  /** A real (minimal) MJPEG AVI: RIFF framing with an hdrl list and
    * a movi list of 00dc chunks, each chunk one JPEG frame.
    */
  private def mjpegAvi(frames: Seq[Array[Byte]]): Array[Byte] = {
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(cc: String, data: Array[Byte]): Array[Byte] =
      cc.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(kind: String, contents: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes("US-ASCII") ++ contents)
    val hdrl = list("hdrl", chunk("avih", new Array[Byte](56)))
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  private def grayJpeg(level: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 12,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (level << 16) | (level << 8) | level
    for (y <- 0 until 12; x <- 0 until 16) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  test("real MJPEG/AVI video decode: sampled frames carry their gray levels") {
    import spark.implicits._
    // 8 frames at gray levels 16, 48, ..., 240: brightness encodes
    // the frame index, so sampling is verifiable
    val levels = (0 until 8).map(f => 16 + 28 * f)
    val avi = mjpegAvi(levels.map(grayJpeg))
    val media = Seq(Multimodal.Media(11L, avi, "video/x-msvideo", 16, 12)).toDS()
    val frames = Multimodal.decode(media, nFrames = 4).collect().sortBy(_.frame)
    assert(frames.length == 4)
    // nFrames=4 over 8 frames samples indices 0, 2, 4, 6
    frames.zipWithIndex.foreach { case (f, i) =>
      assert(f.offset == 2L * i, s"sampled wrong frame: $f")
      val want = levels(2 * i) / 255.0
      assert(math.abs(f.feature - want) < 0.05,
        s"frame $i: luma ${f.feature}, want ~$want")
    }
  }

  test("bare concatenated-JPEG payload decodes as M-JPEG; corrupt video drops") {
    import spark.implicits._
    val cat = grayJpeg(32) ++ grayJpeg(224)
    val media = Seq(
      Multimodal.Media(12L, cat, "video/mjpeg", 16, 12),
      Multimodal.Media(13L, Array[Byte](0, 1, 2, 3), "video/mp4", 0, 0))
      .toDS()
    val frames = Multimodal.decode(media, nFrames = 2).collect()
    val mine = frames.filter(_.doc_id == 12L).sortBy(_.frame)
    assert(mine.length == 2)
    assert(math.abs(mine(0).feature - 32 / 255.0) < 0.05)
    assert(math.abs(mine(1).feature - 224 / 255.0) < 0.05)
    assert(!frames.exists(_.doc_id == 13L), "undecodable video must yield zero rows")
  }

  test("corrupt image payloads are dropped, non-image mimes use the fake path") {
    import spark.implicits._
    val media = Seq(
      Multimodal.Media(1L, Array[Byte](1, 2, 3), "image/png", 0, 0),  // corrupt
      Multimodal.Media(2L, "hello world".getBytes("UTF-8"), "text/plain", 0, 0),
      Multimodal.Media(3L, Array[Byte](9, 9, 9), "audio/wav", 0, 0))  // corrupt
      .toDS()
    val frames = Multimodal.decode(media, nFrames = 2).collect()
    assert(!frames.exists(_.doc_id == 1L), "corrupt image must yield zero rows")
    assert(frames.count(_.doc_id == 2L) == 2, "non-media mime must use fake frames")
    assert(!frames.exists(_.doc_id == 3L), "corrupt audio must yield zero rows")
  }

  test("decode stub is deterministic") {
    val media = Multimodal.mediaTable(spark, sf001)
    val a = Multimodal.decode(media).collect().sortBy(f => (f.doc_id, f.frame)).toSeq
    val b = Multimodal.decode(media).collect().sortBy(f => (f.doc_id, f.frame)).toSeq
    assert(a == b)
  }
}
