package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing with REAL codecs: image/audio/video as opaque
  * `binary` columns with typed metadata, decoded / feature-extracted per
  * partition inside typed `mapPartitions` (the Scala analog of
  * `mapInPandas`: one decoder instance per partition, batch-shaped access).
  *
  * Codecs are JDK-native (zero external deps, present on any executor):
  *  - image: PNG via `javax.imageio` (decode, dimensions, luminance
  *    histogram feature, `thumbnail` resize via Graphics2D)
  *  - audio: WAV/RIFF via `javax.sound.sampled` (sample rate, frame count,
  *    amplitude histogram over PCM samples)
  *  - video, two containers behind one dispatch: a REAL standard RIFF
  *    AVI with Motion-JPEG frames (the layout ffmpeg's `-c:v mjpeg`
  *    emits — header fps/dims + `movi` frame chunks, each a JDK-decodable
  *    JPEG) and an MJPNG-style container (concatenated PNG frames, exact
  *    chunk-structure walk); `sampleFrames` explodes every-nth-frame
  *    rows. An mp4/H.264 path would swap in an ffmpeg-backed decoder
  *    behind the same `decodeOne` signature (H.264 does not ship in the
  *    JDK and no ffmpeg binary exists in this container).
  *
  * The synthetic generator emits REAL encoded bytes whose parameters are
  * exact functions of doc_id, so the DuckDB oracle predicts what the
  * decoder must recover from the actual payloads — the oracle gates the
  * decode round-trip, not just the plumbing.
  */
object Multimodal {

  // ImageIO defaults to a temp-FILE cache per encode/decode — pure in-memory
  // streams are ~30× faster and executor-safe (no /tmp churn per row)
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])
  final case class MediaMeta(doc_id: Long, kind: String, n_bytes: Int,
      width: Int, height: Int, sample_rate: Int, n_frames: Int,
      feature: Array[Float])

  // ---------------------------------------------------------------------
  // Deterministic synthetic payloads — REAL encodings, parameters = f(id)
  // ---------------------------------------------------------------------

  /** PNG, width 8·(1+id%16) × height 5·(1+id%16), deterministic pixels. */
  def synthImage(id: Long): Array[Byte] = {
    val w = 8 * (1 + (id % 16).toInt)
    val h = 5 * (1 + (id % 16).toInt)
    encode(renderFrame(id, 0, w, h), "png")
  }

  /** 16-bit mono PCM WAV @16 kHz, 160·(1+id%20) frames, deterministic sine. */
  def synthAudio(id: Long): Array[Byte] = {
    val nFrames = 160 * (1 + (id % 20).toInt)
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val v = (math.sin(i * 0.05 * ((id % 8) + 1)) * 12000).toInt
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** MJPNG container: 1+id%10 concatenated 16×9 PNG frames. */
  def synthVideo(id: Long): Array[Byte] = {
    val n = 1 + (id % 10).toInt
    val bos = new ByteArrayOutputStream()
    (0 until n).foreach(f => bos.write(encode(renderFrame(id, f, 16, 9), "png")))
    bos.toByteArray
  }

  /** REAL standard video container: RIFF AVI with Motion-JPEG ('MJPG')
    * frames — the same layout ffmpeg's `-c:v mjpeg` produces (RIFF/AVI
    * spec: `hdrl`(avih + strl(strh/strf)) + `movi`('00dc' chunks)). JPEG
    * decode ships in the JDK, so this is a fully decodable industry
    * format with zero external deps; 1+id%10 16×9 frames @ 12 fps. */
  def synthVideoAvi(id: Long): Array[Byte] = {
    val n = 1 + (id % 10).toInt
    val fps = 12
    val w = 16; val h = 9
    val frames = (0 until n).map(f => encode(renderFrame(id, f, w, h), "jpg"))

    def u32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def u16(v: Int): Array[Byte] = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id4: String, data: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      bos.write(fcc(id4)); bos.write(u32(data.length)); bos.write(data)
      if (data.length % 2 == 1) bos.write(0) // RIFF chunks pad to even
      bos.toByteArray
    }
    def list(subtype: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", fcc(subtype) ++ payload)

    val avih = chunk("avih",
      u32(1000000L / fps) ++ u32(0) ++ u32(0) ++ u32(0) ++
        u32(n) ++ u32(0) ++ u32(1) ++ u32(0) ++ u32(w) ++ u32(h) ++
        u32(0) ++ u32(0) ++ u32(0) ++ u32(0))
    val strh = chunk("strh",
      fcc("vids") ++ fcc("MJPG") ++ u32(0) ++ u16(0) ++ u16(0) ++ u32(0) ++
        u32(1) /*dwScale*/ ++ u32(fps) /*dwRate*/ ++ u32(0) ++ u32(n) ++
        u32(0) ++ u32(0xFFFFFFFFL) /*dwQuality: default*/ ++ u32(0) ++
        u16(0) ++ u16(0) ++ u16(w) ++ u16(h))
    val strf = chunk("strf",
      u32(40) ++ u32(w) ++ u32(h) ++ u16(1) ++ u16(24) ++ fcc("MJPG") ++
        u32(w.toLong * h * 3) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val body = fcc("AVI ") ++ hdrl ++ movi
    val bos = new ByteArrayOutputStream()
    bos.write(fcc("RIFF")); bos.write(u32(body.length)); bos.write(body)
    bos.toByteArray
  }

  private def renderFrame(id: Long, frame: Int, w: Int, h: Int)
      : java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((id * 31 + frame * 131 + x * 7 + y * 13) & 0xFFFFFF).toInt)
        x += 1
      }
      y += 1
    }
    img
  }

  /** `img` encoded in an ImageIO format (`"png"`, `"jpg"`). */
  private def encode(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** The decoded image, or null where the bytes do not decode: ImageIO
    * returns null for a format it does not recognize and throws an
    * `IIOException` for a truncated or corrupt one. */
  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    catch { case _: java.io.IOException => null }

  /** Synthetic media column over the documents table (stand-in for a real
    * binary column); kind cycles image/audio/video by doc_id. Video ids
    * alternate container: id % 6 == 5 → standard AVI/MJPEG, id % 6 == 2 →
    * MJPNG — both video paths stay exercised. */
  def synthesize(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      (id % 3) match {
        case 0 => MediaRow(id, "image", synthImage(id))
        case 1 => MediaRow(id, "audio", synthAudio(id))
        case _ =>
          MediaRow(id, "video",
            if (id % 6 == 5) synthVideoAvi(id) else synthVideo(id))
      }
    }
  }

  // ---------------------------------------------------------------------
  // Real decoders
  // ---------------------------------------------------------------------

  private val PngSig = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)

  /** Exact MJPNG frame count: walk each PNG's chunk structure
    * ([len][type][data][crc] until IEND) so signature bytes occurring
    * inside compressed IDAT data are never miscounted as frame starts.
    * Stops at the first malformed frame (robust to truncation). */
  private[ops] def countPngFrames(bytes: Array[Byte]): Int = {
    def u32(i: Int): Long =
      ((bytes(i) & 0xFFL) << 24) | ((bytes(i + 1) & 0xFFL) << 16) |
        ((bytes(i + 2) & 0xFFL) << 8) | (bytes(i + 3) & 0xFFL)
    var n = 0
    var i = 0
    var ok = true
    while (ok && i + PngSig.length <= bytes.length) {
      var j = 0
      while (j < PngSig.length && bytes(i + j) == PngSig(j)) j += 1
      if (j != PngSig.length) ok = false
      else {
        i += PngSig.length
        var atEnd = false
        while (ok && !atEnd) {
          if (i + 8 > bytes.length) ok = false
          else {
            val len = u32(i)
            val isEnd = bytes(i + 4) == 'I' && bytes(i + 5) == 'E' &&
              bytes(i + 6) == 'N' && bytes(i + 7) == 'D'
            val next = i + 8 + len + 4 // len + type + data + crc
            if (next > bytes.length || len > Int.MaxValue - 16) ok = false
            else { i = next.toInt; if (isEnd) atEnd = true }
          }
        }
        if (ok) n += 1
      }
    }
    n
  }

  /** 8-bin luminance histogram over the image's pixels. Bulk getRGB into
    * one int row buffer instead of a per-pixel getRGB call — the
    * per-pixel path pays a color-model dispatch per call on the decoded
    * image's raster; the bulk path converts a row at a time. Same ARGB
    * conversion, identical bin counts. */
  private[ops] def lumaHistogram(img: java.awt.image.BufferedImage): Array[Float] = {
    val feat = new Array[Float](8)
    val w = img.getWidth
    val row = new Array[Int](w)
    var y = 0
    while (y < img.getHeight) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val rgb = row(x)
        val luma = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
          (rgb & 0xFF) * 114) / 1000
        feat(luma * 8 / 256) += 1.0f
        x += 1
      }
      y += 1
    }
    feat
  }

  /** Decode one media row with the JDK codecs (see class doc). Malformed
    * payloads (an image or frame that does not decode, audio AudioSystem
    * rejects, a truncated AVI) degrade to a zeroed row instead of killing
    * the task — at 10^12 rows, corrupt payloads are a certainty, not an
    * edge. */
  def decodeOne(r: MediaRow): MediaMeta = r.kind match {
    case "image" => frameMeta(r, 0)
    case "audio" =>
      try {
        val in = new ByteArrayInputStream(r.payload)
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(in)
        val fmt = ais.getFormat
        val nFrames = ais.getFrameLength.toInt
        val pcm = ais.readAllBytes()
        // 8-bin absolute-amplitude histogram over 16-bit little-endian samples
        val feat = new Array[Float](8)
        var i = 0
        while (i + 1 < pcm.length) {
          val v = ((pcm(i) & 0xFF) | (pcm(i + 1) << 8)).toShort
          feat(math.min(math.abs(v.toInt) * 8 / 32768, 7)) += 1.0f
          i += 2
        }
        MediaMeta(r.doc_id, r.kind, r.payload.length, 0, 0,
          fmt.getSampleRate.toInt, nFrames, feat)
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException |
             _: java.io.IOException => zeroed(r)
      }
    case _ if isRiffAvi(r.payload) => // video: standard AVI/MJPEG container
      decodeAvi(r.payload) match {
        case Some((w, h, fps, nFrames, firstJpeg)) =>
          val feat = frameMeta(r.copy(payload = firstJpeg), nFrames).feature
          // sample_rate carries fps for video (frames per second — the
          // temporal sampling rate), mirroring the audio column's meaning
          MediaMeta(r.doc_id, r.kind, r.payload.length, w, h, fps, nFrames, feat)
        case None => zeroed(r)
      }
    case _ => frameMeta(r, countPngFrames(r.payload)) // video: MJPNG
  }

  /** The row a payload that does not decode degrades to: dimensions,
    * sample rate and feature zero, `nFrames` kept. */
  private def zeroed(r: MediaRow, nFrames: Int = 0): MediaMeta =
    MediaMeta(r.doc_id, r.kind, r.payload.length, 0, 0, 0, nFrames, new Array[Float](8))

  /** The row of a payload whose first bytes are one encoded frame (an
    * image, or an MJPNG's first frame): its dimensions and luma
    * histogram, or [[zeroed]] with `nFrames` kept when it does not decode. */
  private def frameMeta(r: MediaRow, nFrames: Int): MediaMeta =
    readImage(r.payload) match {
      case null => zeroed(r, nFrames)
      case img => MediaMeta(r.doc_id, r.kind, r.payload.length, img.getWidth,
        img.getHeight, 0, nFrames, lumaHistogram(img))
    }

  private[ops] def isRiffAvi(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '

  /** Minimal-but-real RIFF/AVI walk: `strh` gives fps (dwRate/dwScale) and
    * the stream frame rect, `strf`'s BITMAPINFOHEADER gives dimensions,
    * `movi`'s `??dc`/`??db` chunks are the frames (first one returned for
    * JPEG decode). Truncated/malformed containers → None (zeroed row, same
    * degradation contract as the other codecs). */
  private[ops] def decodeAvi(b: Array[Byte])
      : Option[(Int, Int, Int, Int, Array[Byte])] = {
    def u32(i: Int): Long =
      (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
        ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
    def fcc(i: Int): String =
      if (i + 4 > b.length) "" else new String(b, i, 4, "US-ASCII")
    try {
      var w = 0; var h = 0; var fps = 0
      var nFrames = 0
      var firstFrame: Array[Byte] = null

      def walk(from: Int, to: Int, inMovi: Boolean): Unit = {
        var i = from
        while (i + 8 <= to) {
          val id = fcc(i)
          val size = u32(i + 4)
          val dataStart = i + 8
          val dataEnd = dataStart + size.toInt
          if (size < 0 || dataEnd > to) throw new IllegalArgumentException("truncated")
          id match {
            case "LIST" =>
              val sub = fcc(dataStart)
              walk(dataStart + 4, dataEnd, inMovi = sub == "movi")
            case "strh" =>
              if (fcc(dataStart) == "vids") {
                val scale = u32(dataStart + 20)
                val rate = u32(dataStart + 24)
                if (scale > 0) fps = (rate / scale).toInt
              }
            case "strf" =>
              if (size >= 40 && u32(dataStart) >= 40) {
                w = u32(dataStart + 4).toInt
                h = u32(dataStart + 8).toInt
              }
            case vid if inMovi && vid.length == 4 &&
                (vid.endsWith("dc") || vid.endsWith("db")) =>
              nFrames += 1
              if (firstFrame == null)
                firstFrame = java.util.Arrays.copyOfRange(b, dataStart, dataEnd)
            case _ => ()
          }
          i = dataEnd + (size.toInt & 1) // chunks pad to even
        }
      }
      val total = math.min(b.length, 8 + u32(4).toInt)
      walk(12, total, inMovi = false)
      if (firstFrame == null) None else Some((w, h, fps, nFrames, firstFrame))
    } catch { case _: Exception => None }
  }

  /** Decode/feature-extract pass: typed mapPartitions — decoder state is
    * per-partition, payloads stream through in batch shape. */
  def decode(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(decodeOne))
  }

  /** Real resize (Graphics2D bilinear) — returns PNG bytes of a w×h
    * thumbnail of an image payload. */
  def thumbnail(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val src = readImage(payload)
    val dst = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(src, 0, 0, w, h, null)
    g.dispose()
    encode(dst, "png")
  }

  /** Frame-sampling: explode video rows into every-nth-frame index rows
    * (plumbing for per-frame feature jobs). */
  def sampleFrames(meta: Dataset[MediaMeta], everyNth: Int = 24): DataFrame = {
    meta.toDF()
      .filter(col("kind") === "video" && col("n_frames") > 0)
      .select(col("doc_id"), explode(sequence(lit(0), col("n_frames") - 1,
        lit(everyNth))).as("frame_idx"))
  }
}
