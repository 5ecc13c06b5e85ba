package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.PortableHash._

/** Multimodal-column plumbing for training-data pipelines.
  *
  * Media payloads are opaque `binary` columns + typed metadata — the
  * layout a 100 TB image/audio corpus uses in parquet. [[decode]]
  * dispatches on mime: image payloads get a REAL pixel decode via
  * `javax.imageio` (PNG/JPEG/BMP/GIF), audio payloads a REAL PCM
  * decode via `javax.sound.sampled` (WAV/AIFF/AU), video payloads a
  * REAL Motion-JPEG decode ([[decodeVideo]]: RIFF/AVI chunk walk or
  * concatenated-JPEG split, frames through imageio) — all pure JVM,
  * no external codec libs; other codecs' video (H.264 etc.) has no
  * JVM decoder in this container and correctly yields zero rows.
  * Non-media mimes fall back to a deterministic fake
  * ([[fakeFrames]]). Everything Spark-side — schema, batch shape,
  * partition-parallel decode via `mapPartitions`, feature schema —
  * is real and tested on every path (MultimodalSpec decodes
  * generated PNG/JPEG/WAV/AVI fixtures to known luminance/RMS
  * features).
  *
  * The test corpus has no binary table, so payloads derive from
  * `documents.text` bytes (UTF-8) — the plumbing is byte-faithful
  * either way.
  */
object Multimodal {

  /** A media record as a typed Dataset row. */
  case class Media(doc_id: Long, payload: Array[Byte], mime: String,
      width: Int, height: Int)

  /** Fake frame-features: one row per sampled "frame". */
  case class FrameFeature(doc_id: Long, frame: Int, offset: Long,
      feature: Double)

  /** Media records synthesized from documents: payload = UTF-8 bytes,
    * pseudo width/height derived from the portable content hash.
    */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[Media] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        lit("text/plain").as("mime"),
        (h60(col("text")) % 1920).cast("int").as("width"),
        (h60(col("text")) % 1080).cast("int").as("height"))
      .as[Media]
  }

  /** Mime-dispatching decoder: real pixels for image mimes (via
    * [[decodeImage]]), real PCM samples for audio mimes (via
    * [[decodeAudio]] — `javax.sound.sampled` reads WAV/AIFF/AU
    * without external codec libraries), real Motion-JPEG frames for
    * video mimes (via [[decodeVideo]]), deterministic fake for
    * non-media mimes. One decode path per partition, streaming
    * iterator, no driver collect — the batch shape a codec UDF
    * needs at scale.
    */
  def decode(media: Dataset[Media], nFrames: Int = 4): Dataset[FrameFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        if (m.mime.startsWith("image/")) decodeImage(m, nFrames)
        else if (m.mime.startsWith("audio/")) decodeAudio(m, nFrames)
        else if (m.mime.startsWith("video/")) decodeVideo(m, nFrames)
        else fakeFrames(m, nFrames)
      }
    }
  }

  /** REAL video decode for the one family pure JVM can do — Motion
    * JPEG: an AVI container is RIFF framing and its MJPEG frames are
    * plain JPEGs inside 'movi' `##dc`/`##db` chunks, so a RIFF walk
    * plus `javax.imageio` decodes it with no native codec; bare
    * payloads are tried as (concatenated) JPEG, the M-JPEG-over-HTTP
    * layout. `nFrames` frames are sampled evenly across the clip and
    * ONLY the sampled frames are pixel-decoded (frame extraction is
    * byte slicing); feature = whole-frame mean Rec.601 luma in [0,1],
    * offset = the sampled frame's index in the clip. Unparseable
    * payloads (or other codecs' AVIs, whose chunks won't start with
    * a JPEG SOI) yield zero rows — same corrupt-drops contract as
    * image/audio.
    */
  private[llm] def decodeVideo(m: Media, nFrames: Int): Iterator[FrameFeature] = {
    val frames = mjpegFrames(m.payload)
    val n = frames.length
    if (n == 0) Iterator.empty
    else (0 until math.min(nFrames, n)).iterator.flatMap { f =>
      val idx = (n.toLong * f / nFrames).toInt
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(frames(idx)))
        catch { case _: java.io.IOException => null }
      if (img == null) Iterator.empty
      else Iterator.single(
        FrameFeature(m.doc_id, f, idx.toLong, bandLuma(img, 0, img.getHeight)))
    }
  }

  /** JPEG frame byte-ranges of an MJPEG payload: the 'movi' `##dc`/
    * `##db` chunks of a RIFF AVI, or FFD8…FFD9 spans of a bare
    * concatenated-JPEG stream. Pure byte slicing — no pixel work.
    * Malformed framing stops the walk at the last well-formed chunk
    * (partial media decodes partially, the corpus-scale contract).
    */
  private def mjpegFrames(p: Array[Byte]): Vector[Array[Byte]] = {
    def cc(off: Int): String =
      if (off + 4 > p.length) "" else new String(p, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def u32(off: Int): Long =
      (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
        ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
    def isJpeg(off: Int): Boolean =
      off + 2 <= p.length && (p(off) & 0xff) == 0xff && (p(off + 1) & 0xff) == 0xd8
    val out = Vector.newBuilder[Array[Byte]]
    if (cc(0) == "RIFF" && cc(8) == "AVI ") {
      def walk(start: Long, end: Long): Unit = {
        var off = start
        while (off + 8 <= end) {
          val id = cc(off.toInt)
          val size = u32(off.toInt + 4)
          val dataStart = off + 8
          if (size < 0 || dataStart + size > end) return // malformed: stop
          if (id == "LIST" || id == "RIFF") walk(dataStart + 4, dataStart + size)
          else if (id.length == 4 && (id.endsWith("dc") || id.endsWith("db"))
              && isJpeg(dataStart.toInt))
            out += java.util.Arrays.copyOfRange(p, dataStart.toInt, (dataStart + size).toInt)
          off = dataStart + size + (size & 1) // chunks are word-aligned
        }
      }
      walk(12, p.length.toLong)
    } else if (isJpeg(0)) {
      // bare (concatenated) JPEG: split after each EOI marker — FFD9
      // cannot appear raw inside entropy data (FF bytes are stuffed)
      var start = 0
      var i = 0
      while (i + 1 < p.length) {
        if ((p(i) & 0xff) == 0xff && (p(i + 1) & 0xff) == 0xd9) {
          out += java.util.Arrays.copyOfRange(p, start, i + 2)
          start = i + 2
          i += 2
        } else i += 1
      }
    }
    out.result()
  }

  /** REAL audio decode: `javax.sound.sampled` parses the container
    * and yields signed 16-bit PCM; the sample stream is split into
    * `nFrames` windows and each frame's feature is the window's RMS
    * amplitude normalized to [0,1]. `offset` is the window's first
    * sample index. Unparseable payloads yield zero rows (corrupt
    * media drops, not fatal), matching [[decodeImage]].
    */
  private[llm] def decodeAudio(m: Media, nFrames: Int): Iterator[FrameFeature] = {
    val samples =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(m.payload))
        val fmt = new javax.sound.sampled.AudioFormat(
          in.getFormat.getSampleRate, 16, in.getFormat.getChannels, true, false)
        val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(fmt, in)
        val bytes = pcm.readAllBytes()
        val n = bytes.length / 2
        val out = new Array[Double](n)
        var i = 0
        while (i < n) {
          out(i) = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)) / 32768.0
          i += 1
        }
        out
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => null
        case _: java.io.IOException => null
        // getAudioInputStream(fmt, in) throws this for VALID audio the
        // JVM can't convert to 16-bit signed PCM (e.g. PCM_FLOAT) —
        // same contract as unparseable: drop, don't kill the task
        case _: IllegalArgumentException => null
      }
    if (samples == null || samples.length == 0) Iterator.empty
    else {
      val n = samples.length
      (0 until math.min(nFrames, n)).iterator.map { f =>
        val s0 = (n.toLong * f / nFrames).toInt
        val s1 = math.max(s0 + 1, (n.toLong * (f + 1) / nFrames).toInt)
        var sumSq = 0.0
        var i = s0
        while (i < s1) { sumSq += samples(i) * samples(i); i += 1 }
        FrameFeature(m.doc_id, f, s0.toLong, math.sqrt(sumSq / (s1 - s0)))
      }
    }
  }

  /** REAL image decode: `javax.imageio` reads the payload bytes into
    * a BufferedImage; the image is split into `nFrames` horizontal
    * bands ("frames"), and each frame's feature is the band's mean
    * Rec.601 luma normalized to [0,1]. `offset` is the band's first
    * pixel row. Unparseable payloads yield zero rows (the at-scale
    * contract: corrupt media is dropped, not fatal).
    */
  private[llm] def decodeImage(m: Media, nFrames: Int): Iterator[FrameFeature] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
      catch { case _: java.io.IOException => null }
    if (img == null) Iterator.empty
    else {
      val h = img.getHeight
      (0 until math.min(nFrames, h)).iterator.map { f =>
        val y0 = (h.toLong * f / nFrames).toInt
        val y1 = math.max(y0 + 1, (h.toLong * (f + 1) / nFrames).toInt)
        FrameFeature(m.doc_id, f, y0.toLong, bandLuma(img, y0, y1))
      }
    }
  }

  /** Mean Rec.601 luma of pixel rows [y0, y1), normalized to [0,1]. */
  private def bandLuma(img: java.awt.image.BufferedImage, y0: Int, y1: Int): Double = {
    val w = img.getWidth
    var sum = 0.0
    var n = 0
    var y = y0
    while (y < y1) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sum += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000.0
        n += 1
        x += 1
      }
      y += 1
    }
    sum / n / 255.0
  }

  /** Deterministic fake frames for non-media mimes (the `decode`
    * fallback): `nFrames` evenly-spaced byte offsets, feature = byte
    * at offset scaled to [0,1).
    */
  private def fakeFrames(m: Media, nFrames: Int): Iterator[FrameFeature] = {
    val len = m.payload.length
    if (len == 0) Iterator.empty
    else (0 until nFrames).iterator.map { f =>
      val off = (len.toLong * f) / nFrames
      FrameFeature(m.doc_id, f, off, (m.payload(off.toInt) & 0xff) / 255.0)
    }
  }

  /** REAL image resize for image mimes: `javax.imageio` decode →
    * bilinear `Graphics2D` rescale into a `maxDim`-bounded box
    * (aspect preserved, never upscaled) → PNG re-encode, with the
    * output `Media` carrying the true new dimensions. Undecodable
    * image payloads drop (corrupt-drops contract). Non-image mimes
    * keep the deterministic stride downsample so the transform is
    * total over a mixed corpus. Binary-in/binary-out per row over
    * `mapPartitions` — the batch shape a resampler needs at corpus
    * scale (no driver collect, one codec context per partition).
    */
  def resize(media: Dataset[Media], maxDim: Int = 64): Dataset[Media] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        if (m.mime.startsWith("image/")) resizeImage(m, maxDim)
        else Iterator.single(resizeStride(m, maxDim))
      }
    }
  }

  private[llm] def resizeImage(m: Media, maxDim: Int): Iterator[Media] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
      catch { case _: java.io.IOException => null }
    if (img == null) Iterator.empty
    else {
      val (w0, h0) = (img.getWidth, img.getHeight)
      val scale = math.min(1.0, maxDim.toDouble / math.max(w0, h0))
      val (w, h) = (math.max(1, math.round(w0 * scale).toInt),
        math.max(1, math.round(h0 * scale).toInt))
      val out = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
      g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      Iterator.single(m.copy(payload = bos.toByteArray,
        mime = "image/png", width = w, height = h))
    }
  }

  /** The non-image fallback: downsample the payload to `targetBytes`
    * by striding, clamping the pseudo dimensions.
    */
  private def resizeStride(m: Media, targetBytes: Int): Media = {
    val len = m.payload.length
    val out =
      if (len == 0) Array.empty[Byte]
      else Array.tabulate(math.min(targetBytes, len)) { i =>
        m.payload(((i.toLong * len) / math.min(targetBytes, len)).toInt)
      }
    m.copy(payload = out,
      width = math.min(m.width, targetBytes),
      height = math.min(m.height, targetBytes))
  }

  /** Oracle-checkable feature extraction over the binary payload —
    * the non-stub subset (byte length, hex head, content digest,
    * pseudo-dimensions, normalized first-byte feature).
    */
  def features(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        upper(substring(hex(col("text").cast("binary")), 1, 16)).as("head_hex"),
        md5(col("text")).as("content_md5"),
        (h60(col("text")) % 1920).cast("int").as("width"),
        (h60(col("text")) % 1080).cast("int").as("height"),
        ((octet_length(col("text")) % 256) / lit(255.0)).as("fake_feature"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_features" -> features _,
  )

  val oracles: Map[String, String] = Map(
    "q_multimodal_features" ->
      s"""SELECT doc_id,
         |  octet_length(encode(text)) AS n_bytes,
         |  upper(substr(hex(encode(text)), 1, 16)) AS head_hex,
         |  md5(text) AS content_md5,
         |  CAST(${sqlH60("text")} % 1920 AS INT) AS width,
         |  CAST(${sqlH60("text")} % 1080 AS INT) AS height,
         |  (octet_length(encode(text)) % 256) / 255.0 AS fake_feature
         |FROM documents""".stripMargin,
  )
}
