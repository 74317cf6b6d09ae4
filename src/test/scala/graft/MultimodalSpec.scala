package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.queries.StreamingQueries

/** Multimodal columns with REAL codecs: BMP decoded through the JDK's
  * ImageIO, WAV through AudioSystem, motion-BMP container walks — plus the
  * production-side contract (schema, corrupt-payload tolerance, determinism,
  * shuffle-free plans).
  */
class MultimodalSpec extends SparkSpec {

  /** Closed-form file sizes of the synthetic encoders, the expected values
    * the decode specs compare against: a 24-bit BMP is its 54-byte header
    * plus rows of 3 bytes/px padded to 4; an `encodePng` image is the
    * signature and IHDR/IDAT/IEND chunks (68 bytes) plus one filter byte and
    * 3 bytes/px per row. */
  private def bmpSize(width: Int, height: Int): Int = 54 + ((3 * width + 3) / 4) * 4 * height
  private def pngSize(width: Int, height: Int): Int = 68 + height * (1 + 3 * width)

  test("decode parses real BMP and WAV payloads; corrupt/truncated/null → valid=false") {
    val bmp = Multimodal.encodeBmp(seed = 7, width = 320, height = 200)
    val wav = Multimodal.encodeWav(seed = 9, nSamples = 120, sampleRate = 44100, channels = 2)
    val truncated = java.util.Arrays.copyOfRange(bmp, 0, 30) // header cut mid-way
    val rows = Seq(
      Row(1L, "image", bmp),
      Row(2L, "image", "not-a-media-file".getBytes),
      Row(3L, "audio", null),
      Row(4L, "audio", wav),
      Row(5L, "image", truncated))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.MediaSchema)
    val out = Multimodal.decode(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    // image: pixel dims + 3 bands, decoded by ImageIO, not by our own parser
    assert(out(1L).getInt(2) === 320 && out(1L).getInt(3) === 200 &&
      out(1L).getInt(4) === 3 && out(1L).getBoolean(6))
    assert(out(1L).getLong(5) === bmpSize(320, 200).toLong)
    // audio: frame count / sample rate / channels from AudioSystem
    assert(out(4L).getInt(2) === 120 && out(4L).getInt(3) === 44100 &&
      out(4L).getInt(4) === 2 && out(4L).getBoolean(6))
    assert(!out(2L).getBoolean(6) && !out(3L).getBoolean(6) && !out(5L).getBoolean(6))
    assert(out(2L).isNullAt(2)) // corrupt: no width, but the ROW survives
  }

  test("lying headers cannot allocate: huge-dim BMP and overflowing frame size are corrupt, not fatal") {
    // a 70-byte payload whose header DECLARES 60000x60000 (3.6G pixels):
    // decode must reject it from the header alone, before ImageIO allocates
    val lying = Multimodal.encodeBmp(seed = 1, width = 4, height = 4)
    lying(18) = 0x60; lying(19) = 0xea.toByte // width = 60000 (LE)
    lying(22) = 0x60; lying(23) = 0xea.toByte // height = 60000
    // a video whose second frame declares size near Int.MaxValue: the walk
    // must stop at the corruption, emitting the frames before it
    val frame = Multimodal.encodeBmp(seed = 2, width = 16, height = 16)
    val corruptTail = Array[Byte]('B', 'M', 0xf0.toByte, 0xff.toByte, 0xff.toByte, 0x7f)
    val video = frame ++ corruptTail ++ new Array[Byte](60)
    val rows = Seq(Row(1L, "image", lying), Row(2L, "video", video))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.MediaSchema)
    val dec = Multimodal.decode(media).collect().map(r => r.getLong(0) -> r).toMap
    assert(!dec(1L).getBoolean(6), "lying-dim image must be invalid, not decoded")
    val frames = Multimodal.frameSample(media, everyK = 1).collect()
    assert(frames.length === 1 && frames(0).getInt(1) === 0,
      "walk must emit the valid frame and stop at the overflowing size field")
  }

  test("decode accepts the ImageIO family beyond BMP (PNG)") {
    val img = new java.awt.image.BufferedImage(5, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 5) img.setRGB(x, y, x * 37 + y * 101)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "image", bos.toByteArray)), 1),
      Multimodal.MediaSchema)
    val d = Multimodal.decode(media).collect()(0)
    assert(d.getBoolean(6) && d.getInt(2) === 5 && d.getInt(3) === 4,
      "a PNG payload must decode valid with its pixel dims")
  }

  test("syntheticMedia: odd image ids are REAL PNGs with the closed-form byte size") {
    val rows = Multimodal.syntheticMedia(spark, 22)
      .filter(col("kind") === "image").collect()
    assert(rows.length === 8) // ids 0,3,6,9,12,15,18,21 — 13 is audio-kind
    for (r <- rows) {
      val id = r.getLong(0)
      val p = r.getAs[Array[Byte]](2)
      val w = 16 + (id % 7).toInt * 8
      val h = 16 + (id % 5).toInt * 8
      if (id % 2 == 0) {
        assert(p(0) === 'B'.toByte && p(1) === 'M'.toByte, s"media $id must be BMP")
        assert(p.length === bmpSize(w, h))
      } else {
        assert(p(1) === 'P'.toByte && p(2) === 'N'.toByte, s"media $id must be PNG")
        assert(p.length === pngSize(w, h))
        // a REAL file: the JDK's PNG reader opens it at the declared dims
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
        assert(img.getWidth === w && img.getHeight === h)
        assert(img.getRaster.getNumBands === 3)
      }
    }
  }

  test("decode is a narrow map: no shuffle in the plan, partitions preserved") {
    val media = Multimodal.syntheticMedia(spark, 100, partitions = 5)
    val decoded = Multimodal.decode(media)
    assert(!decoded.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(decoded.rdd.getNumPartitions === 5)
  }

  test("synthetic corpus: every non-corrupt payload decodes as a real file") {
    val out = Multimodal.decode(Multimodal.syntheticMedia(spark, 200)).collect()
    for (r <- out) {
      val id = r.getLong(0)
      if (id % 97 == 13) assert(!r.getBoolean(6), s"media $id must be corrupt")
      else {
        assert(r.getBoolean(6), s"media $id must decode")
        r.getString(1) match {
          case "image" =>
            assert(r.getInt(2) === 16 + (id % 7).toInt * 8)
            assert(r.getInt(3) === 16 + (id % 5).toInt * 8)
            assert(r.getInt(4) === 3)
          case "audio" =>
            assert(r.getInt(2) === 64 + (id % 32).toInt) // samples
            assert(r.getInt(3) === 8000) // rate
            assert(r.getInt(4) === 1 + (id % 2).toInt)
          case "video" =>
            assert(r.getInt(2) === 16 && r.getInt(3) === 16 && r.getInt(4) === 3)
            assert(r.getLong(5) === (2 + (id % 4)) * bmpSize(16, 16).toLong)
        }
      }
    }
  }

  test("dHash: pixel function — container-invariant, noise-local, structure-sensitive") {
    import spark.implicits._
    // container invariance: a PNG and its BMP transcode hash IDENTICALLY
    val media = Multimodal.syntheticMedia(spark, 90).filter(col("kind") === "image")
    val transcoded = Multimodal.transcodeToBmp(media)
    assert(transcoded.filter(col("kind") === "image" && !col("transcoded"))
      .count() === media.filter(expr("media_id % 97 = 13")).count(),
      "every decodable image must transcode")
    val origHash = Multimodal.perceptualHash(media).filter(col("valid"))
      .select("media_id", "phash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val copyHash = Multimodal.perceptualHash(
      transcoded.filter(col("transcoded")).select("media_id", "kind", "payload"))
      .filter(col("valid"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(origHash.nonEmpty && origHash.keySet === copyHash.keySet)
    for ((id, h) <- origHash)
      assert(copyHash(id) === h, s"transcode changed the hash of media $id")
    // payload bytes DID change (PNG → BMP), so byte hashing would miss these
    val pngIds = media.filter(expr("media_id % 2 = 1 AND media_id % 97 <> 13"))
      .select("media_id").as[Long].collect()
    assert(pngIds.nonEmpty)
    // noise locality vs structure sensitivity on a hand-built gradient
    def gray(v: Int): Byte = v.toByte
    val w = 36; val h = 32; val stride = Multimodal.bmpStride(w)
    def img(f: (Int, Int) => Int): Array[Byte] = {
      val px = new Array[Byte](stride * h)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(x, y)
        px((h - 1 - y) * stride + 3 * x) = gray(v)
        px((h - 1 - y) * stride + 3 * x + 1) = gray(v)
        px((h - 1 - y) * stride + 3 * x + 2) = gray(v)
      }
      Multimodal.encodeBmpPixels(w, h, px)
    }
    val base = img((x, _) => x * 7)               // left-to-right gradient
    val noisy = img((x, y) => x * 7 + (if (x == 5 && y == 5) 40 else 0))
    val flipped = img((x, _) => (w - 1 - x) * 7)  // reversed gradient
    def hashOf(p: Array[Byte]): Long = {
      val df = Seq((1L, "image", p)).toDF("media_id", "kind", "payload")
      Multimodal.perceptualHash(df).head.getLong(3)
    }
    val hb = hashOf(base); val hn = hashOf(noisy); val hf = hashOf(flipped)
    assert(java.lang.Long.bitCount(hb ^ hn) <= 4,
      "one noisy pixel must move only a few bits")
    assert(java.lang.Long.bitCount(hb ^ hf) >= 24,
      "a reversed gradient must be far in Hamming space")
  }

  test("frameSample: walks the motion-BMP container; every frame a decodable BMP") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val frames = Multimodal.frameSample(media, everyK = 2)
    val byId = frames.groupBy("media_id").agg(
      count(lit(1)).as("n"), collect_list("frame_idx").as("idx"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // kinds cycle image/audio/video; only media_id % 3 == 2 are video (and
    // the corrupt id 13 is audio-kind, so it emits nothing anyway)
    assert(byId.keySet.forall(_ % 3 == 2))
    assert(byId.nonEmpty)
    for ((id, r) <- byId) {
      val nFrames = 2 + (id % 4).toInt
      assert(r.getSeq[Int](2).sorted === (0 until nFrames by 2), s"media $id")
    }
    // each emitted frame is a standalone real BMP: decode it
    val standalone = frames.select(
      col("media_id"), lit("image").as("kind"), col("frame").as("payload"))
    val dec = Multimodal.decode(standalone).collect()
    assert(dec.forall(r => r.getBoolean(6) && r.getInt(2) === 16 && r.getInt(3) === 16))
    // frames differ (per-frame seeds) — a container walk, not a repeat
    val f0 = frames.filter(col("media_id") === 2 && col("frame_idx") === 0)
      .collect()(0).getAs[Array[Byte]](2)
    val f2 = frames.filter(col("media_id") === 2 && col("frame_idx") === 2)
      .collect()(0).getAs[Array[Byte]](2)
    assert(f0.toSeq !== f2.toSeq)
  }

  test("videoNearDupPairs: re-encode at jaccard 1, trimmed at (f-1)/f, strangers silent") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val v1 = Multimodal.encodeVideo(7L, nFrames = 4, 16, 16)
    val v2 = Multimodal.encodeVideo(99L, nFrames = 3, 16, 16) // unrelated
    // trim v1: drop its first frame (frames are self-delimiting BMPs)
    val f0Len = (v1(2) & 0xff) | ((v1(3) & 0xff) << 8) |
      ((v1(4) & 0xff) << 16) | ((v1(5) & 0xff) << 24)
    val v1trim = java.util.Arrays.copyOfRange(v1, f0Len, v1.length)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "video", v1), Row(2L, "video", v1),       // exact re-encode
        Row(3L, "video", v1trim),                          // trimmed
        Row(4L, "video", v2),                              // stranger
        Row(5L, "video", "!corrupt-media!!".getBytes("US-ASCII")),
        Row(6L, "image", Multimodal.encodeBmp(7L * 31, 16, 16))), // frame 0's raster as an IMAGE row: ignored
      schema)
    val out = Multimodal.videoNearDupPairs(media, minJaccard = 0.3)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (1L, 2L, 4L, 1.0),
      (1L, 3L, 3L, 0.75),
      (2L, 3L, 3L, 0.75)))
  }

  test("videoNearDupPairs: maxFrameDf drops chrome frames — shared slate in 500 videos stays bounded") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the crawl-scale hazard: one boilerplate frame (a black slate / logo
    // intro) shared by EVERY video. Each of 500 videos = [unique frame i,
    // the shared slate]; videos 498 and 499 additionally share their
    // "unique" frame (a real near-dup pair that must survive the gate).
    val slate = Multimodal.encodeBmp(777777L, 16, 16)
    def vid(uniqueSeed: Long) =
      Multimodal.encodeBmp(uniqueSeed, 16, 16) ++ slate
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val rows = (0 until 500).map { i =>
      val seed = if (i == 499) 1000L + 498 else 1000L + i // 498/499 true dups
      Row(i.toLong, "video", vid(seed))
    }
    val media = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    // UNCAPPED: the slate pairs every video with every other at jaccard 1/3
    // (shared=1 of 2+2-1) — the O(n²) explosion the cap exists to kill
    val uncapped = Multimodal.videoNearDupPairs(media,
      minJaccard = 0.3, maxFrameDf = 100000).count()
    assert(uncapped === 500L * 499 / 2, s"expected the full pair explosion, got $uncapped")
    // CAPPED at 50: slate df=500 > 50 is chrome and leaves numerator AND
    // denominator; only the planted true-dup pair remains — at jaccard 1
    // over the non-chrome sets (each one unique frame, shared)
    val capped = Multimodal.videoNearDupPairs(media,
      minJaccard = 0.3, maxFrameDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(capped.toSeq === Seq((498L, 499L, 1L, 1.0)))
  }

  test("lumaNudge: BMP images and motion-BMP videos nudge in place; PNG/corrupt pass through") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val bmp = Multimodal.encodeBmp(11L, 16, 16)
    val vid = Multimodal.encodeVideo(12L, nFrames = 3, 16, 16)
    val png = Multimodal.encodePng(13L, 16, 16)
    val media = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "image", bmp), Row(2L, "video", vid), Row(3L, "image", png),
      Row(4L, "audio", "!corrupt-media!!".getBytes("US-ASCII"))), schema)
    val out = Multimodal.lumaNudge(media, delta = 1)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(3) && out(2L).getBoolean(3))
    assert(!out(3L).getBoolean(3) && !out(4L).getBoolean(3), "PNG/corrupt must pass through")
    // nudged payloads: same container structure (length, still decodable),
    // different pixel bytes
    val nb = out(1L).getAs[Array[Byte]](2)
    assert(nb.length === bmp.length)
    assert(nb.toSeq !== bmp.toSeq)
    val dec = Multimodal.decode(spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "image", nb)), schema)).collect()(0)
    assert(dec.getBoolean(6) && dec.getInt(2) === 16)
    // header bytes untouched on every frame of the video
    val nv = out(2L).getAs[Array[Byte]](2)
    assert(nv.length === vid.length && nv(0) === vid(0) && nv(1) === vid(1))
  }

  test("scaleAmplitude: PCM samples rescale by num/den; stereo allowed; corrupt passes through") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val mono = Multimodal.encodeWavSamples(8000, 1, Array[Short](1000, -1000, 7, 0))
    val stereo = Multimodal.encodeWavSamples(8000, 2, Array[Short](100, -100, 50, -50))
    val media = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "audio", mono), Row(2L, "audio", stereo),
      Row(3L, "audio", "!corrupt-media!!".getBytes("US-ASCII"))), schema)
    val out = Multimodal.scaleAmplitude(media, 9, 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(3) && out(2L).getBoolean(3) && !out(3L).getBoolean(3))
    def samples(p: Array[Byte], n: Int): Seq[Short] = (0 until n).map { i =>
      (((p(44 + 2 * i + 1) & 0xff) << 8) | (p(44 + 2 * i) & 0xff)).toShort
    }
    // truncating integer scale: 1000→900, -1000→-900, 7→6, 0→0
    assert(samples(out(1L).getAs[Array[Byte]](2), 4) === Seq[Short](900, -900, 6, 0))
    assert(samples(out(2L).getAs[Array[Byte]](2), 4) === Seq[Short](90, -90, 45, -45))
  }

  test("perceptual kernels: measured recall floors against real perturbations (the q148 report)") {
    // the q80 posture for q144/q145: recall against REAL perturbed
    // re-encodes is a pinned NUMBER. Floors sit under the measured values
    // (1.0 / 0.995 / 1.0 / 1.0 on the frozen corpus) with slack only where
    // the perturbation genuinely flips near-tie hash bits.
    val rep = StreamingQueries.perceptualRecall(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(rep("q144_video_vs_lumanudge_j03") >= 0.98, rep.toString)
    assert(rep("q144_video_vs_lumanudge_j05") >= 0.95, rep.toString)
    assert(rep("q145_audio_vs_ampscale_h0") >= 0.95, rep.toString)
    assert(rep("q145_audio_vs_ampscale_h2") >= 0.98, rep.toString)
  }

  test("videoNearDupPairs frozen-corpus preconditions: in-video distinct hashes, no cross-video collisions") {
    // the q144 closed-form oracle rests on these two generator facts; pin
    // them on the exact corpus the registered query uses
    val media = Multimodal.syntheticMedia(spark, 600)
      .filter(org.apache.spark.sql.functions.col("kind") === "video")
    val frames = Multimodal.frameSample(media, everyK = 1)
      .selectExpr("media_id", "'image' AS kind", "frame AS payload")
    val hashed = Multimodal.perceptualHash(frames)
      .filter("valid").select("media_id", "phash")
    val n = hashed.count()
    assert(hashed.distinct().count() === n, "in-video duplicate frame hash")
    assert(hashed.select("phash").distinct().count() === n,
      "cross-video frame-hash collision — the closed-form oracle would be wrong")
  }

  test("audioEnvelopeHash64 + toStereoDup: mono and its stereo re-layout hash identically") {
    import org.apache.spark.sql.types._
    val mono = Multimodal.encodeWav(seed = 5L, nSamples = 90, sampleRate = 8000, channels = 1)
    val other = Multimodal.encodeWav(seed = 6L, nSamples = 90, sampleRate = 8000, channels = 1)
    val stereoSrc = Multimodal.encodeWav(seed = 7L, nSamples = 80, sampleRate = 8000, channels = 2)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "audio", mono), Row(2L, "audio", other),
        Row(3L, "audio", stereoSrc),
        Row(4L, "audio", "!corrupt-media!!".getBytes("US-ASCII")),
        Row(5L, "image", Multimodal.encodeBmp(1L, 16, 16))),
      schema)
    val st = Multimodal.toStereoDup(media).collect().map(r => r.getLong(0) -> r).toMap
    assert(st(1L).getBoolean(3) && st(2L).getBoolean(3), "mono clips must re-layout")
    assert(!st(3L).getBoolean(3), "already-stereo passes through untouched")
    assert(!st(4L).getBoolean(3) && !st(5L).getBoolean(3))
    // the re-layout is a REAL WAV at 2 channels with the same frame count
    val dup = st(1L).getAs[Array[Byte]](2)
    val fmt = javax.sound.sampled.AudioSystem
      .getAudioInputStream(new java.io.ByteArrayInputStream(dup))
    assert(fmt.getFormat.getChannels === 2 && fmt.getFrameLength === 90L)
    // hashes: layout-invariant for the same content, different across clips
    val h = Multimodal.audioHash(media).filter("valid")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val hDup = Multimodal.audioEnvelopeHash64(dup).get
    assert(hDup === h(1L), "stereo re-layout must hash bit-identically")
    assert(h(1L) !== h(2L), "different clips must not collide")
    assert(!h.contains(4L) && !h.contains(5L), "corrupt/non-audio rows are invalid")
  }

  test("audio hash frozen-corpus precondition: no cross-clip envelope-hash collisions") {
    // the q145 closed-form oracle rests on this; pin it on the exact corpus
    val media = Multimodal.syntheticMedia(spark, 600).filter(col("kind") === "audio")
    val h = Multimodal.audioHash(media).filter("valid").select("ahash")
    assert(h.distinct().count() === h.count(),
      "cross-clip envelope-hash collision — the q145 oracle would be wrong")
  }
}
