package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
import graft.util.Rng

/** Multimodal columns: image/audio/video ride as opaque `binary` columns
  * with typed metadata. The Spark-side plumbing — schema, batching,
  * partitioning, operator signatures — is real throughout.
  *
  * Codec layer:
  *  - IMAGES are REAL: JDK `javax.imageio` (headless-safe) decodes
  *    PNG/JPEG/BMP/GIF; nearest-neighbor resampling uses pure integer
  *    source-index math; features come from actual pixel luminance.
  *  - AUDIO metadata is REAL: blobs are canonical PCM WAV and are parsed
  *    back through `javax.sound.sampled.AudioSystem` (sample rate, channel
  *    count, frame length straight from the JDK codec); audio features read
  *    the decoded PCM samples.
  *  - VIDEO is REAL end-to-end as motion-PNG AVI (the MJPEG container
  *    pattern with PNG frames): a spec-shaped RIFF/`avih` container whose
  *    `movi` list carries one `00dc` chunk per frame, each a real PNG —
  *    container parse (pure bounds-checked chunk walk), frame extraction,
  *    frame pixel decode (ImageIO), per-frame resize, and first-frame
  *    pixel features all operate on real data. Inter-frame-compressed
  *    codecs (H.264 etc.) have no JDK decoder; an FFmpeg-style binding
  *    would slot in at [[decodeImage]] per frame chunk. Legacy
  *    single-chunk AVIs and the GRFT container still decode (metadata +
  *    byte-level fallbacks).
  */
object Multimodal {

  final case class MediaMeta(media_id: Long, kind: String, width: Int, height: Int,
      n_frames: Int, sample_rate: Int, n_channels: Int, n_bytes: Long)
  final case class MediaFeature(media_id: Long, feature: Array[Float])
  final case class Frame(media_id: Long, frame_index: Int, payload: Array[Byte])

  /** legacy synthetic container (pre-round-3 stand-in):
    * magic "GRFT" + kind byte + width/height/frames (LE ints). Still decoded
    * for backwards compatibility; no longer produced. */
  private val Magic = Array[Byte]('G', 'R', 'F', 'T')

  def encodeFake(kind: String, width: Int, height: Int, frames: Int, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 1 + 12 + payload.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic).put(kind.head.toByte).putInt(width).putInt(height).putInt(frames).put(payload)
    bb.array()
  }

  /** True if the blob leads with a magic the JDK image reader handles. */
  def isImageBlob(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 8 && (
      (bytes(0) == 0x89.toByte && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') ||
      (bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) || // JPEG
      (bytes(0) == 'B' && bytes(1) == 'M') ||                 // BMP
      (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F'))

  private def fourcc(bytes: Array[Byte], off: Int): String =
    if (bytes.length < off + 4) ""
    else new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  def isWavBlob(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 12 && fourcc(bytes, 0) == "RIFF" && fourcc(bytes, 8) == "WAVE"

  def isAviBlob(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 12 && fourcc(bytes, 0) == "RIFF" && fourcc(bytes, 8) == "AVI "

  /** REAL image decode (JDK ImageIO). Corrupt/truncated input → None. */
  def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (!isImageBlob(bytes)) None
    else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case NonFatal(_) => None }

  def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // ------------------------------------------------------------------ WAV

  /** Canonical 44-byte PCM16 WAV around the given samples (interleaved if
    * channels > 1). Hand-built header so the bytes are deterministic; the
    * DECODE side goes through the real JDK codec. */
  def encodeWav(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort)  // block align
      .putShort(16)                      // bits per sample
    bb.put("data".getBytes).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** REAL audio header parse via `javax.sound.sampled.AudioSystem`:
    * (sampleRate, channels, frameLength). Malformed input → None. */
  def decodeAudioMeta(bytes: Array[Byte]): Option[(Int, Int, Int)] =
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = aff.getFormat
      Some((fmt.getSampleRate.toInt, fmt.getChannels, aff.getFrameLength))
    } catch { case NonFatal(_) => None }

  /** REAL PCM sample decode through `AudioSystem.getAudioInputStream`:
    * the interleaved 16-bit samples, or None for non-audio input. */
  def decodeAudioSamples(bytes: Array[Byte]): Option[Array[Short]] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val raw = in.readAllBytes(); in.close()
      val out = new Array[Short](raw.length / 2)
      val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < out.length) { out(i) = bb.getShort(); i += 1 }
      Some(out)
    } catch { case NonFatal(_) => None }

  // ------------------------------------------------------------------ AVI

  /** Motion-PNG AVI (the MJPEG pattern with PNG frames): RIFF('AVI ')
    * { LIST('hdrl'){ avih(56) }, LIST('movi'){ '00dc'(frame₀), '00dc'(frame₁), … } }
    * — one `00dc` chunk per frame, each holding a REAL PNG, exactly how an
    * MJPEG AVI carries one JPEG per chunk. Every stage of the video path
    * (container parse, frame extraction, frame decode, per-frame resize,
    * pixel features) is real; nothing is stubbed. */
  def encodeAviFrames(width: Int, height: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    val avihData = aviMainHeader(width, height, frames.size)
    val hdrlLen = 4 + (8 + avihData.length)
    // RIFF convention: the chunk size is the UNPADDED payload length; the
    // word-alignment pad byte sits outside it. Declaring the padded length
    // would make extracted frames diverge from the encoded PNGs by one byte.
    val moviLen = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen)
    val bb = java.nio.ByteBuffer.allocate(8 + riffLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(riffLen).put("AVI ".getBytes)
    bb.put("LIST".getBytes).putInt(hdrlLen).put("hdrl".getBytes)
    bb.put("avih".getBytes).putInt(avihData.length).put(avihData)
    bb.put("LIST".getBytes).putInt(moviLen).put("movi".getBytes)
    frames.foreach { f =>
      bb.put("00dc".getBytes).putInt(f.length).put(f)
      if ((f.length & 1) == 1) bb.put(0.toByte)
    }
    bb.array()
  }

  private def aviMainHeader(width: Int, height: Int, frames: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(40000)       // dwMicroSecPerFrame (25 fps)
    b.putInt(0)           // dwMaxBytesPerSec
    b.putInt(0)           // dwPaddingGranularity
    b.putInt(0)           // dwFlags
    b.putInt(frames)      // dwTotalFrames
    b.putInt(0)           // dwInitialFrames
    b.putInt(1)           // dwStreams
    b.putInt(0)           // dwSuggestedBufferSize
    b.putInt(width)       // dwWidth
    b.putInt(height)      // dwHeight
    b.putInt(0); b.putInt(0); b.putInt(0); b.putInt(0) // dwReserved[4]
    b.array()
  }

  /** Single-chunk AVI around an opaque payload (legacy shape; still decoded). */
  def encodeAvi(width: Int, height: Int, frames: Int, payload: Array[Byte]): Array[Byte] = {
    val avihData = aviMainHeader(width, height, frames)
    val hdrlLen = 4 + (8 + avihData.length)          // 'hdrl' + avih chunk
    val pad = payload.length & 1                     // word-align pad OUTSIDE the declared size
    val moviLen = 4 + (8 + payload.length + pad)     // 'movi' + 00dc chunk
    val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen)  // 'AVI ' + two LISTs
    val bb = java.nio.ByteBuffer.allocate(8 + riffLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(riffLen).put("AVI ".getBytes)
    bb.put("LIST".getBytes).putInt(hdrlLen).put("hdrl".getBytes)
    bb.put("avih".getBytes).putInt(avihData.length).put(avihData)
    bb.put("LIST".getBytes).putInt(moviLen).put("movi".getBytes)
    bb.put("00dc".getBytes).putInt(payload.length).put(payload)
    if (pad == 1) bb.put(0.toByte)
    bb.array()
  }

  /** Pure RIFF chunk walk: finds the `avih` main header inside LIST('hdrl')
    * and returns (width, height, totalFrames). Truncated/malformed RIFF →
    * None (every read is bounds-checked). */
  def decodeAviMeta(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (!isAviBlob(bytes)) return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val riffLen = bb.getInt(4)
    if (riffLen < 4 || 8L + riffLen > bytes.length) return None
    // iterative DFS with an explicit range stack: a crafted blob nesting
    // LIST('hdrl') ~12 bytes per level must degrade to None, never blow the
    // JVM stack (the 'malformed input is never fatal' contract). Descending
    // pushes the remainder of the parent range, exactly emulating recursion;
    // a malformed chunk abandons only its own range (the recursive None).
    var o = 12
    var end = math.min(bytes.length, 8 + riffLen)
    var stack = List.empty[(Int, Int)]
    var abandon = false
    while (o + 8 <= end || stack.nonEmpty) {
      if (abandon || o + 8 > end) {
        if (stack.isEmpty) return None
        val h = stack.head; stack = stack.tail
        o = h._1; end = h._2; abandon = false
      } else {
        val id = fourcc(bytes, o)
        val len = bb.getInt(o + 4)
        if (len < 0 || o.toLong + 8 + len > end) abandon = true
        else if (id == "LIST" && len >= 4 && fourcc(bytes, o + 8) == "hdrl") {
          stack = (o + 8 + len + (len & 1), end) :: stack
          end = o + 8 + len; o = o + 12 // descend
        } else if (id == "avih" && len >= 40) {
          return Some((bb.getInt(o + 8 + 32), bb.getInt(o + 8 + 36), bb.getInt(o + 8 + 16)))
        } else o += 8 + len + (len & 1) // chunks are word-aligned
      }
    }
    None
  }

  /** All '00dc' frame chunks inside LIST('movi'), in stream order — for a
    * motion-PNG blob each element is one decodable PNG frame. */
  def aviFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    if (!isAviBlob(bytes)) return Nil
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val riffLen = bb.getInt(4)
    if (riffLen < 4 || 8L + riffLen > bytes.length) return Nil
    // iterative DFS (see decodeAviMeta): stream order preserved, unbounded
    // LIST nesting cannot overflow the JVM stack. Malformed anywhere → Nil
    // (the recursive version's false-propagates-to-top contract).
    val out = Vector.newBuilder[Array[Byte]]
    var o = 12
    var end = math.min(bytes.length, 8 + riffLen)
    var inMovi = false
    var stack = List.empty[(Int, Int, Boolean)]
    while (o + 8 <= end || stack.nonEmpty) {
      if (o + 8 > end) {
        val h = stack.head; stack = stack.tail
        o = h._1; end = h._2; inMovi = h._3
      } else {
        val id = fourcc(bytes, o)
        val len = bb.getInt(o + 4)
        if (len < 0 || o.toLong + 8 + len > end) return Nil
        if (id == "LIST" && len >= 4 && fourcc(bytes, o + 8) == "movi") {
          stack = (o + 8 + len + (len & 1), end, inMovi) :: stack
          end = o + 8 + len; o = o + 12; inMovi = true // descend
        } else {
          if (id == "00dc" && inMovi)
            out += java.util.Arrays.copyOfRange(bytes, o + 8, o + 8 + len)
          o += 8 + len + (len & 1)
        }
      }
    }
    out.result()
  }

  /** The first '00dc' chunk's bytes (legacy single-payload accessor). */
  def aviPayload(bytes: Array[Byte]): Option[Array[Byte]] = aviFrames(bytes).headOption

  /** Legacy GRFT container fields: (kind, width, height, frames, payload). */
  private def grftParts(bytes: Array[Byte]): Option[(Char, Int, Int, Int, Array[Byte])] =
    if (bytes == null || bytes.length < 17 || !bytes.take(4).sameElements(Magic)) None
    else {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.position(4)
      Some((bb.get().toChar, bb.getInt(), bb.getInt(), bb.getInt(),
        java.util.Arrays.copyOfRange(bytes, 17, bytes.length)))
    }

  /** Proportional byte-budget resample of an opaque payload: `outLen` bytes
    * index-sampled from the source — the fallback "resize" for containers
    * whose pixels cannot be decoded (legacy GRFT, opaque AVI payloads). */
  private def byteResample(payload: Array[Byte], w0: Int, h0: Int, w: Int, h: Int): Array[Byte] =
    if (payload.isEmpty) payload
    else {
      val outLen = math.max(16, (payload.length.toLong * (w.toLong * h) /
        math.max(1L, w0.toLong * h0)).toInt)
      Array.tabulate(outLen)(j => payload(((j.toLong * payload.length) / outLen).toInt))
    }

  // ---------------------------------------------------------------- ffmpeg

  /** Inter-frame-codec seam: the JDK has no H.264/H.265 decoder, so
    * real-world video shards decode through an external ffmpeg binary when
    * the deployment provides one (this sandbox does not — the gated spec
    * skips loudly rather than pretending). Frames re-enter the pipeline at
    * the same [[decodeImage]] boundary the motion-PNG path uses. */
  lazy val ffmpegBinary: Option[String] =
    sys.env.get("GRAFT_FFMPEG").filter(p => new java.io.File(p).canExecute)
      .orElse(Seq("/usr/bin/ffmpeg", "/usr/local/bin/ffmpeg", "/opt/homebrew/bin/ffmpeg")
        .find(p => new java.io.File(p).canExecute))

  /** Decode up to `limit` frames of an arbitrary video blob to PNGs via the
    * external binary. No binary, timeout, nonzero exit, or decode failure →
    * Nil (the error-isolation contract of every extractor here). Output
    * streams are DISCARDED at the OS level (not drained in-process) so the
    * 60 s `waitFor` is the real bound — a decoder that spins or prompts can
    * neither block this thread nor deadlock on a full pipe; `-nostdin -y`
    * forbids interactive prompts outright. */
  def ffmpegFrames(blob: Array[Byte], limit: Int = 64): Seq[Array[Byte]] =
    ffmpegBinary match {
      case None => Nil
      case Some(bin) =>
        val dir = java.nio.file.Files.createTempDirectory("graft_ffmpeg")
        def listDir(): Seq[java.nio.file.Path] = {
          val st = java.nio.file.Files.list(dir)
          try {
            val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
            val it = st.iterator()
            while (it.hasNext) out += it.next()
            out.toSeq
          } finally st.close()
        }
        try {
          val in = dir.resolve("in.bin")
          java.nio.file.Files.write(in, blob)
          val cmd = java.util.Arrays.asList(bin, "-nostdin", "-y", "-v", "error",
            "-i", in.toString, "-frames:v", limit.toString, dir.resolve("f%05d.png").toString)
          val p = new ProcessBuilder(cmd)
            .redirectOutput(ProcessBuilder.Redirect.DISCARD)
            .redirectError(ProcessBuilder.Redirect.DISCARD)
            .start()
          if (!p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)) {
            p.destroyForcibly(); Nil
          } else if (p.exitValue() != 0) Nil // partial frames from a failed decode are NOT a success
          else listDir()
            .filter(_.getFileName.toString.endsWith(".png"))
            .sortBy(_.getFileName.toString)
            .map(java.nio.file.Files.readAllBytes)
        } catch { case _: java.io.IOException => Nil }
        finally {
          listDir().foreach(java.nio.file.Files.deleteIfExists(_))
          java.nio.file.Files.deleteIfExists(dir)
        }
    }

  // ---------------------------------------------------------------- decode

  /** Decode a blob of any supported family to metadata: real image formats
    * via ImageIO, WAV via the JDK sound API, AVI via the RIFF walk, and the
    * legacy GRFT container. Malformed input yields None (error-isolation
    * like every other extractor here). */
  def decode(bytes: Array[Byte]): Option[MediaMeta] = {
    if (bytes == null) return None
    if (isImageBlob(bytes))
      return decodeImage(bytes).map(img =>
        MediaMeta(-1, "image", img.getWidth, img.getHeight, 1, 0, 0, bytes.length.toLong))
    if (isWavBlob(bytes))
      return decodeAudioMeta(bytes).map { case (rate, ch, frames) =>
        MediaMeta(-1, "audio", 0, 0, frames, rate, ch, bytes.length.toLong) }
    if (isAviBlob(bytes))
      return decodeAviMeta(bytes).map { case (w, h, frames) =>
        MediaMeta(-1, "video", w, h, frames, 0, 0, bytes.length.toLong) }
    if (bytes.length < 17 || !bytes.take(4).sameElements(Magic)) return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(4)
    val kind = bb.get().toChar match {
      case 'i' => "image"; case 'a' => "audio"; case 'v' => "video"; case _ => "unknown"
    }
    Some(MediaMeta(-1, kind, bb.getInt(), bb.getInt(), bb.getInt(), 0, 0, bytes.length.toLong))
  }

  /** deterministic synthetic media table: (media_id, kind, blob). Image rows
    * are REAL PNGs, audio rows REAL PCM WAVs, video rows real minimal AVIs
    * (deterministic pixels/samples/payloads). */
  def syntheticMedia(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).mapPartitions(_.map { i =>
      val rng = Rng.at(0xABCL, i)
      val kind = Vector("image", "audio", "video")(rng.nextInt(3))
      val w = 16 + rng.nextInt(64); val h = 16 + rng.nextInt(64)
      kind match {
        case "image" =>
          val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rng.nextInt(0x1000000)); x += 1 }
            y += 1
          }
          (i, kind, encodePng(img))
        case "audio" =>
          val rate = Vector(8000, 16000, 22050, 44100)(rng.nextInt(4))
          val channels = 1 + rng.nextInt(2)
          val frames = 64 + rng.nextInt(1024)
          val samples = Array.fill(frames * channels)(rng.nextInt(65536).toShort)
          (i, kind, encodeWav(rate, channels, samples))
        case _ =>
          // motion-PNG video: every frame a real decodable PNG (smaller
          // dims than stills keep the random-pixel blobs bounded)
          val vw = 16 + rng.nextInt(16); val vh = 16 + rng.nextInt(16)
          val nFrames = 1 + rng.nextInt(8)
          val frames = Seq.fill(nFrames) {
            val img = new java.awt.image.BufferedImage(vw, vh, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < vh) {
              var x = 0
              while (x < vw) { img.setRGB(x, y, rng.nextInt(0x1000000)); x += 1 }
              y += 1
            }
            encodePng(img)
          }
          (i, kind, encodeAviFrames(vw, vh, frames))
      }
    }).toDF("media_id", "kind", "blob")
  }

  /** decode metadata for every blob — batched narrow pass, nulls isolated */
  def decodeMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("blob")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, blob) =>
        decode(blob).map(m => m.copy(media_id = id))
      }).toDF()
  }

  /** integer Rec.601 luminance histogram over real pixels (16 buckets) */
  private def lumHist(img: java.awt.image.BufferedImage, hist: Array[Float]): Unit = {
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 77 + ((rgb >> 8) & 0xff) * 150 +
          (rgb & 0xff) * 29) >> 8
        hist(lum >> 4) += 1f
        x += 1
      }
      y += 1
    }
  }

  /** Feature vector per blob (fixed 16-dim batch shape, L1-normalized),
    * all from REAL decoded content: pixel-luminance histogram for images,
    * decoded-PCM amplitude histogram for audio, first-frame pixel
    * luminance for motion-PNG video; only unknown/legacy blobs fall back
    * to a payload byte histogram. */
  def features(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("blob")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, blob) =>
        val hist = new Array[Float](16)
        decodeImage(blob) match {
          case Some(img) => lumHist(img, hist)
          case None =>
            (if (isWavBlob(blob)) decodeAudioSamples(blob) else None) match {
              case Some(samples) =>
                // amplitude histogram over the REAL decoded samples
                samples.foreach(s => hist((s + 32768) >> 12) += 1f)
              case None =>
                aviFrames(blob).headOption.flatMap(decodeImage) match {
                  case Some(frame0) => lumHist(frame0, hist) // real video pixels
                  case None =>
                    val payload = aviPayload(blob).getOrElse(blob)
                    payload.foreach(b => hist((b & 0xff) >> 4) += 1f)
                }
            }
        }
        val s = hist.sum
        if (s > 0) { var i = 0; while (i < 16) { hist(i) /= s; i += 1 } }
        MediaFeature(id, hist)
      }).toDF()
  }

  /** Nearest-neighbor pixel resample — pure integer source-index math, so
    * the result is deterministic across JVMs (no Graphics2D rendering
    * hints). */
  def resizeImage(img: java.awt.image.BufferedImage, w: Int, h: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val sy = (y.toLong * img.getHeight / h).toInt
      var x = 0
      while (x < w) {
        out.setRGB(x, y, img.getRGB((x.toLong * img.getWidth / w).toInt, sy))
        x += 1
      }
      y += 1
    }
    out
  }

  /** resize to (w, h): REAL nearest-neighbor resample + PNG re-encode for
    * images; for motion-PNG videos EVERY frame is decoded, resampled and
    * re-encoded into a target-dimension container (legacy opaque AVI
    * payloads and GRFT containers fall back to a proportional byte-budget
    * resample); audio has no spatial dimensions and passes through
    * unchanged. Undecodable blobs are dropped, mirroring decodeMeta's
    * error isolation. */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("blob")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, blob) =>
        decodeImage(blob) match {
          case Some(img) =>
            Some((id, "image", encodePng(resizeImage(img, w, h))))
          case None if isWavBlob(blob) =>
            decode(blob).map(_ => (id, "audio", blob))
          case None =>
            decodeAviMeta(blob).flatMap { case (w0, h0, nFrames) =>
              val chunks = aviFrames(blob)
              val asPngFrames =
                if (nFrames > 0 && chunks.size == nFrames)
                  Some(chunks.flatMap(decodeImage(_))).filter(_.size == nFrames)
                else None
              asPngFrames match {
                case Some(imgs) =>
                  // motion-PNG: REAL per-frame resample + PNG re-encode
                  Some((id, "video",
                    encodeAviFrames(w, h, imgs.map(i => encodePng(resizeImage(i, w, h))))))
                case None =>
                  // legacy opaque payload: proportional byte-budget resample
                  aviPayload(blob).map { payload =>
                    (id, "video", encodeAvi(w, h, nFrames, byteResample(payload, w0, h0, w, h)))
                  }
              }
            }.orElse {
              // legacy GRFT container (docstring contract: byte-level
              // fallback): audio passes through, image/video payloads get
              // the proportional byte-budget resample, re-wrapped GRFT
              grftParts(blob).collect {
                case ('a', _, _, _, _) => (id, "audio", blob)
                case (k @ ('i' | 'v'), w0, h0, nf, payload) =>
                  val kind = if (k == 'i') "image" else "video"
                  (id, kind, encodeFake(kind, w, h, nf, byteResample(payload, w0, h0, w, h)))
              }
            }
        }
      }).toDF("media_id", "kind", "blob")
  }

  /** frame sampling for video blobs: every `stride`-th '00dc' chunk from
    * the movi list — for motion-PNG blobs each emitted payload is a REAL
    * decodable PNG frame (legacy single-chunk AVIs fall back to fixed-size
    * slices of their one payload). */
  def sampleFrames(media: DataFrame, stride: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("blob")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, blob) =>
        def slices(payload: Array[Byte], nFrames: Int): Seq[Frame] = {
          val frameSize = math.max(1, payload.length / nFrames)
          (0 until nFrames by stride).map { f =>
            Frame(id, f, payload.slice(f * frameSize, math.min(payload.length, (f + 1) * frameSize)))
          }
        }
        val frames = aviFrames(blob)
        decodeAviMeta(blob) match {
          case Some((_, _, nFrames)) if nFrames > 0 && frames.size == nFrames =>
            // chunk-per-frame container (motion-PNG): emit the real frames
            frames.indices.by(stride).map(f => Frame(id, f, frames(f)))
          case Some((_, _, nFrames)) if nFrames > 0 =>
            // legacy single-chunk payload: fixed-size slices stand in
            slices(frames.headOption.getOrElse(Array.emptyByteArray), nFrames)
          case _ =>
            // legacy GRFT video (docstring contract: byte-level fallback)
            grftParts(blob) match {
              case Some(('v', _, _, nFrames, payload)) if nFrames > 0 => slices(payload, nFrames)
              case _ => Nil
            }
        }
      }).toDF()
  }
}
