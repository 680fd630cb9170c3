package graft.multimodal

import graft.SparkTestBase

class MultimodalSpec extends SparkTestBase {

  test("decode/meta plumbing round-trips every synthetic container") {
    val meta = Multimodal.decodeMeta(Multimodal.syntheticMedia(spark, 100)).collect()
    assert(meta.length == 100)
    meta.foreach { r =>
      r.getAs[String]("kind") match {
        case "image" | "video" =>
          assert(r.getAs[Int]("width") >= 16 && r.getAs[Int]("height") >= 16, r.toString)
        case "audio" =>
          assert(r.getAs[Int]("sample_rate") >= 8000, r.toString)
          assert(r.getAs[Int]("n_channels") >= 1, r.toString)
          assert(r.getAs[Int]("n_frames") >= 64, r.toString)
        case k => fail(s"unexpected kind $k")
      }
    }
  }

  test("audio blobs are REAL WAVs: the JDK sound API parses rate/channels/frames") {
    val samples = Array.tabulate(441)(i => (math.sin(i * 0.1) * 3000).toShort)
    val wav = Multimodal.encodeWav(44100, 1, samples)
    assert(Multimodal.isWavBlob(wav))
    // the real codec path, not our own header math
    val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(wav))
    assert(aff.getFormat.getSampleRate == 44100f && aff.getFormat.getChannels == 1)
    assert(aff.getFrameLength == 441)
    assert(Multimodal.decodeAudioMeta(wav).contains((44100, 1, 441)))
    // stereo: frame = one sample per channel
    val stereo = Multimodal.encodeWav(16000, 2, new Array[Short](2 * 100))
    assert(Multimodal.decodeAudioMeta(stereo).contains((16000, 2, 100)))
  }

  test("audio features come from the decoded PCM samples") {
    val sps = spark; import sps.implicits._
    // constant amplitude 0 -> every sample lands in bucket (0+32768)>>12 = 8
    val wav = Multimodal.encodeWav(8000, 1, new Array[Short](256))
    val f = Multimodal.features(
      spark.createDataset(Seq((1L, wav))).toDF("media_id", "blob")).collect()
    val v = f.head.getSeq[Float](1)
    assert(v(8) == 1.0f && v.indices.filter(_ != 8).forall(v(_) == 0.0f), v.mkString(","))
    assert(Multimodal.decodeAudioSamples(wav).get.forall(_ == 0))
  }

  test("video container is real RIFF: the chunk walk reads avih dims and movi payload") {
    val payload = Array.tabulate(240)(_.toByte)
    val avi = Multimodal.encodeAvi(320, 240, 12, payload)
    assert(Multimodal.isAviBlob(avi))
    assert(Multimodal.decodeAviMeta(avi).contains((320, 240, 12)))
    assert(Multimodal.aviPayload(avi).get.toSeq == payload.toSeq)
    // truncated container is isolated like any malformed blob
    assert(Multimodal.decodeAviMeta(avi.take(30)).isEmpty)
    assert(Multimodal.decode(avi.take(30)).isEmpty)
  }

  test("motion-PNG video: every sampled frame is a REAL decodable PNG; resize is per-frame") {
    val media = Multimodal.syntheticMedia(spark, 60).filter("kind = 'video'")
    val metas = Multimodal.decodeMeta(media).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[Int]("n_frames"))).toMap
    assert(metas.nonEmpty)
    val frames = Multimodal.sampleFrames(media, stride = 1).collect()
    frames.foreach { r =>
      val img = Multimodal.decodeImage(r.getAs[Array[Byte]]("payload")).get
      val (w, h, _) = metas(r.getAs[Long]("media_id"))
      assert(img.getWidth == w && img.getHeight == h, "frame dims must match avih")
    }
    val byId = frames.groupBy(_.getAs[Long]("media_id")).view.mapValues(_.length).toMap
    metas.foreach { case (id, (_, _, nf)) => assert(byId(id) == nf, s"media $id frame count") }
    // per-frame resize: every frame of the resized container decodes at the
    // target dims, frame count preserved
    val rframes = Multimodal.sampleFrames(Multimodal.resize(media, 8, 8), stride = 1).collect()
    assert(rframes.length == frames.length)
    rframes.foreach { r =>
      val img = Multimodal.decodeImage(r.getAs[Array[Byte]]("payload")).get
      assert(img.getWidth == 8 && img.getHeight == 8)
    }
  }

  test("video features come from real first-frame pixels") {
    val sps = spark; import sps.implicits._
    // one white 4x4 frame + one black: features = frame 0 luminance = bucket 15
    val white = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) white.setRGB(x, y, 0xffffff)
    val black = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val avi = Multimodal.encodeAviFrames(4, 4,
      Seq(Multimodal.encodePng(white), Multimodal.encodePng(black)))
    val f = Multimodal.features(
      spark.createDataset(Seq((1L, avi))).toDF("media_id", "blob")).collect()
    val v = f.head.getSeq[Float](1)
    assert(v(15) == 1.0f && v.take(15).forall(_ == 0.0f), v.mkString(","))
  }

  test("container parsers never throw on fuzzed, truncated, or bit-flipped bytes") {
    val rng = new scala.util.Random(99)
    val wav = Multimodal.encodeWav(16000, 1, Array.fill(64)(rng.nextInt(65536).toShort))
    val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val png = Multimodal.encodePng(img)
    val avi = Multimodal.encodeAviFrames(8, 8, Seq(png, png))
    def probe(b: Array[Byte]): Unit = { // every parser path, must not throw
      Multimodal.decode(b); Multimodal.aviFrames(b); Multimodal.aviPayload(b)
      Multimodal.decodeAviMeta(b); Multimodal.decodeAudioMeta(b); Multimodal.decodeImage(b)
    }
    (1 to 300).foreach(_ => probe(Array.fill(rng.nextInt(200))(rng.nextInt().toByte)))
    Seq(wav, png, avi).foreach { blob =>
      (0 until blob.length by math.max(1, blob.length / 25)).foreach(n => probe(blob.take(n)))
      (1 to 50).foreach { _ =>
        val mutated = blob.clone()
        mutated(rng.nextInt(mutated.length)) = rng.nextInt().toByte
        probe(mutated)
      }
    }
  }

  test("deeply nested LIST chunks degrade to None/Nil, never StackOverflowError") {
    // 40k nesting levels at ~12 bytes each would blow a recursive walk's
    // JVM stack; the iterative walk must just find nothing
    def nested(listType: String, depth: Int): Array[Byte] = {
      val innerLen = 4 + 12 * depth // each level: LIST hdr (8) + type (4)
      val riffLen = 4 + 8 + innerLen
      val bb = java.nio.ByteBuffer.allocate(8 + riffLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(riffLen).put("AVI ".getBytes)
      var remaining = innerLen
      (0 until depth).foreach { _ =>
        bb.put("LIST".getBytes).putInt(remaining).put(listType.getBytes)
        remaining -= 12
      }
      bb.array()
    }
    Seq("hdrl", "movi").foreach { lt =>
      val blob = nested(lt, 40000)
      assert(Multimodal.decodeAviMeta(blob).isEmpty)
      assert(Multimodal.aviFrames(blob).isEmpty)
      assert(Multimodal.decode(blob).isEmpty)
    }
  }

  test("extracted frames are byte-identical to the encoded PNGs (odd lengths padded outside the chunk size)") {
    val rng = new scala.util.Random(7)
    // force at least one odd-length frame payload
    val frames = Seq(Array.fill(33)(rng.nextInt().toByte), Array.fill(64)(rng.nextInt().toByte),
      Array.fill(121)(rng.nextInt().toByte))
    val avi = Multimodal.encodeAviFrames(4, 4, frames)
    val back = Multimodal.aviFrames(avi)
    assert(back.size == frames.size)
    frames.zip(back).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b), "frame bytes must round-trip exactly")
    }
    assert(Multimodal.decodeAviMeta(avi).contains((4, 4, 3)))
  }

  test("legacy GRFT containers keep their byte-level fallbacks in sampleFrames and resize") {
    val sps = spark; import sps.implicits._
    val payload = Array.tabulate(160)(_.toByte)
    val media = spark.createDataset(Seq(
      (1L, Multimodal.encodeFake("video", 8, 8, 4, payload)),
      (2L, Multimodal.encodeFake("audio", 0, 0, 0, payload)),
      (3L, Multimodal.encodeFake("image", 8, 8, 1, payload)))).toDF("media_id", "blob")
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
    assert(frames.map(_.getAs[Long]("media_id")).toSet == Set(1L), "only the video yields frames")
    assert(frames.map(_.getAs[Int]("frame_index")).sorted.toSeq == Seq(0, 2))
    assert(frames.forall(_.getAs[Array[Byte]]("payload").length == 40))
    val resized = Multimodal.resize(media, 4, 4).collect()
    assert(resized.length == 3, "GRFT blobs must not be dropped by resize")
    val byId = resized.map(r => r.getAs[Long]("media_id") ->
      (r.getAs[String]("kind"), r.getAs[Array[Byte]]("blob"))).toMap
    assert(byId(2L)._1 == "audio" && java.util.Arrays.equals(
      byId(2L)._2, Multimodal.encodeFake("audio", 0, 0, 0, payload)))
    // quarter the pixel budget -> quarter the payload bytes (floor at 16)
    Seq(1L -> "video", 3L -> "image").foreach { case (id, kind) =>
      assert(byId(id)._1 == kind)
      val meta = Multimodal.decode(byId(id)._2).get
      assert(meta.kind == kind && meta.width == 4 && meta.height == 4)
      assert(byId(id)._2.length == 17 + 40, s"media $id: ${byId(id)._2.length}")
    }
  }

  test("inter-frame codecs decode through the ffmpeg seam (skips where no binary ships)") {
    assume(Multimodal.ffmpegBinary.isDefined,
      "no ffmpeg binary in this sandbox — inter-frame codecs (H.264/H.265) stay at the " +
        "documented decodeImage seam; provide GRAFT_FFMPEG or a system ffmpeg to exercise it")
    // a motion-PNG AVI is a valid ffmpeg input: the external decode must
    // recover the same frame count, and each frame re-enters decodeImage
    val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, (x * 32) << 16 | (y * 32) << 8)
    val png = Multimodal.encodePng(img)
    val avi = Multimodal.encodeAviFrames(8, 8, Seq(png, png, png))
    val frames = Multimodal.ffmpegFrames(avi)
    assert(frames.size == 3, s"ffmpeg decoded ${frames.size} frames")
    frames.foreach { f =>
      val d = Multimodal.decodeImage(f)
      assert(d.isDefined && d.get.getWidth == 8 && d.get.getHeight == 8)
    }
  }

  test("ffmpegFrames is error-isolated without a binary (Nil, never a throw)") {
    if (Multimodal.ffmpegBinary.isEmpty)
      assert(Multimodal.ffmpegFrames(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("malformed blobs are isolated, not fatal") {
    val sps = spark; import sps.implicits._
    val bad = spark.createDataset(Seq(
      (1L, Array[Byte](1, 2, 3)),
      (2L, Multimodal.encodeFake("image", 8, 8, 1, Array.fill(16)(7.toByte))))).toDF("media_id", "blob")
    val meta = Multimodal.decodeMeta(bad).collect()
    assert(meta.length == 1 && meta.head.getAs[Long]("media_id") == 2L)
  }

  test("frame sampling emits stride-spaced frames for videos only") {
    val frames = Multimodal.sampleFrames(Multimodal.syntheticMedia(spark, 200), stride = 4).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getAs[Int]("frame_index") % 4 == 0))
    val meta = Multimodal.decodeMeta(Multimodal.syntheticMedia(spark, 200))
      .filter("kind = 'video'").count()
    val mediaWithFrames = frames.map(_.getAs[Long]("media_id")).distinct.length
    assert(mediaWithFrames == meta)
  }

  test("features are L1-normalized histograms with fixed batch shape") {
    val f = Multimodal.features(Multimodal.syntheticMedia(spark, 50)).collect()
    assert(f.length == 50)
    f.foreach { r =>
      val v = r.getSeq[Float](1)
      assert(v.length == 16)
      assert(math.abs(v.sum - 1.0) < 1e-3)
    }
  }

  test("image blobs are REAL PNGs: ImageIO round-trip with exact pixels") {
    val sps = spark; import sps.implicits._
    val img = new java.awt.image.BufferedImage(4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4) img.setRGB(x, y, x * 0x110000 + y * 0x88)
    val png = Multimodal.encodePng(img)
    assert(Multimodal.isImageBlob(png))
    val meta = Multimodal.decodeMeta(
      spark.createDataset(Seq((7L, png))).toDF("media_id", "blob")).collect()
    assert(meta.length == 1)
    assert(meta.head.getAs[Int]("width") == 4 && meta.head.getAs[Int]("height") == 2)
    val back = Multimodal.decodeImage(png).get
    for (y <- 0 until 2; x <- 0 until 4)
      assert((back.getRGB(x, y) & 0xffffff) == (x * 0x110000 + y * 0x88), s"pixel ($x,$y)")
  }

  test("real resize: nearest-neighbor pixels are exactly the integer-math source picks") {
    val sps = spark; import sps.implicits._
    val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, (y * 4 + x) * 0x010101)
    val df = spark.createDataset(Seq((1L, Multimodal.encodePng(img)))).toDF("media_id", "blob")
    val out = Multimodal.resize(df, 2, 2).collect()
    val small = Multimodal.decodeImage(out.head.getAs[Array[Byte]]("blob")).get
    assert(small.getWidth == 2 && small.getHeight == 2)
    // src index = x*4/2, y*4/2 -> pixels (0,0),(2,0),(0,2),(2,2) = 0,2,8,10
    assert((small.getRGB(0, 0) & 0xffffff) == 0x000000)
    assert((small.getRGB(1, 0) & 0xffffff) == 0x020202)
    assert((small.getRGB(0, 1) & 0xffffff) == 0x080808)
    assert((small.getRGB(1, 1) & 0xffffff) == 0x0a0a0a)
  }

  test("truncated PNG bytes are isolated like any malformed blob") {
    val sps = spark; import sps.implicits._
    val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val png = Multimodal.encodePng(img)
    val rows = Seq((1L, png.take(20)), (2L, png))
    val meta = Multimodal.decodeMeta(spark.createDataset(rows).toDF("media_id", "blob")).collect()
    assert(meta.map(_.getAs[Long]("media_id")).toSet == Set(2L))
  }

  test("truncated PNG and WAV bytes decode to None") {
    val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val png = Multimodal.encodePng(img)
    val wav = Multimodal.encodeWav(8000, 1, Array.tabulate(256)(_.toShort))
    assert(Multimodal.decodeImage(png).isDefined && Multimodal.decodeAudioMeta(wav).isDefined)
    // cut inside the IHDR chunk and inside the image data
    Seq(20, png.length / 2).foreach { n =>
      assert(Multimodal.decodeImage(png.take(n)).isEmpty, s"PNG cut at $n bytes")
    }
    // cut inside the RIFF header and inside the fmt chunk
    Seq(6, 16, 30).foreach { n =>
      assert(Multimodal.decodeAudioMeta(wav.take(n)).isEmpty, s"WAV cut at $n bytes")
      assert(Multimodal.decodeAudioSamples(wav.take(n)).isEmpty, s"WAV cut at $n bytes")
    }
  }

  test("image features come from pixel luminance (uniform image -> one bucket)") {
    val sps = spark; import sps.implicits._
    val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, 0xffffff) // lum 255 -> bucket 15
    val f = Multimodal.features(
      spark.createDataset(Seq((1L, Multimodal.encodePng(img)))).toDF("media_id", "blob")).collect()
    val v = f.head.getSeq[Float](1)
    assert(v(15) == 1.0f && v.take(15).forall(_ == 0.0f), v.mkString(","))
  }

  test("resize re-encodes spatial blobs at the target dims; audio passes through") {
    val resized = Multimodal.resize(Multimodal.syntheticMedia(spark, 100), 32, 32)
    val meta = Multimodal.decodeMeta(resized).collect()
    assert(meta.length == 100)
    val spatial = meta.filter(r => r.getAs[String]("kind") != "audio")
    assert(spatial.nonEmpty)
    assert(spatial.forall(r => r.getAs[Int]("width") == 32 && r.getAs[Int]("height") == 32))
    // payload budget scales with the pixel ratio; frames preserved; audio
    // (no spatial dims) keeps its exact original metadata
    val orig = Multimodal.decodeMeta(Multimodal.syntheticMedia(spark, 100)).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Int]("n_frames"), r.getAs[Int]("sample_rate"), r.getAs[Int]("n_channels"))).toMap
    meta.foreach { r =>
      val (nf, sr, ch) = orig(r.getAs[Long]("media_id"))
      assert(r.getAs[Int]("n_frames") == nf, r.toString)
      assert(r.getAs[Int]("sample_rate") == sr && r.getAs[Int]("n_channels") == ch, r.toString)
    }
  }
}
