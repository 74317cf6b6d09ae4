package graft.multimodal

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._

/** Multimodal columns: images/audio/video travel as opaque `binary` columns
  * with typed metadata, and per-row media ops run as partition-batched
  * transforms over the binary payload — the Scala analogue of
  * `mapInPandas` (declared output schema, batch-at-a-time execution,
  * partition-level parallelism).
  *
  * The codecs are REAL public formats decoded by the JDK:
  *  - images are 24-bit uncompressed BMP (BITMAPINFOHEADER) or 8-bit
  *    truecolor PNG with a stored-block IDAT ([[encodePng]] — genuine
  *    CRC32/Adler32, closed-form byte size), both decoded through
  *    `javax.imageio.ImageIO` (the JDK's own BMP and PNG readers; the
  *    decode path additionally accepts GIF/JPEG by magic);
  *  - audio is RIFF/WAVE 16-bit PCM, decoded through
  *    `javax.sound.sampled.AudioSystem` (header parse only — no audio device
  *    needed, works headless);
  *  - video is a motion-BMP stream: concatenated BMP frames, self-delimiting
  *    via each frame's file-size field, so frame extraction and first-frame
  *    decode are real container walks.
  * The ENCODERS here are hand-rolled and byte-deterministic (fixed headers,
  * SplitMix64 pixel/sample streams) so the synthetic table — and therefore
  * the q25 oracle constants — are pure functions of `media_id`; a production
  * ingest replaces them with files read from storage while every decode path
  * stays as tested.
  *
  * Scale notes: media work is CPU-per-row-heavy with tiny keys, so the right
  * shape is a narrow mapPartitions (no shuffle) after an optional
  * `repartition(n)` to spread decode cost.
  */
object Multimodal {

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = true)))

  /** Decoded metadata. Per kind: image/video carry pixel width/height (video:
    * of the FIRST frame); audio carries width = frame count (samples) and
    * height = sample rate in Hz — the natural "dimensions" of a PCM clip. */
  val DecodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("n_bytes", LongType, nullable = true),
    StructField("valid", BooleanType, nullable = false)))

  // ImageIO's default on-disk stream cache costs a temp file per decode;
  // these are in-memory byte arrays, so keep everything in-heap.
  javax.imageio.ImageIO.setUseCache(false)

  // ---- deterministic byte streams ------------------------------------------

  private def splitMixBytes(seed: Long, out: Array[Byte], from: Int): Unit = {
    var z = seed
    var i = from
    while (i < out.length) {
      z += 0x9e3779b97f4a7c15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      out(i) = ((x ^ (x >>> 31)) & 0xff).toByte
      i += 1
    }
  }

  private def putLE32(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = (v & 0xff).toByte
    out(off + 1) = ((v >> 8) & 0xff).toByte
    out(off + 2) = ((v >> 16) & 0xff).toByte
    out(off + 3) = ((v >> 24) & 0xff).toByte
  }

  private def putLE16(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = (v & 0xff).toByte
    out(off + 1) = ((v >> 8) & 0xff).toByte
  }

  // ---- real-format encoders (deterministic) --------------------------------

  private val BmpHeaderLen = 54

  /** Row stride of a 24-bit BMP: 3 bytes/px padded to a 4-byte boundary. */
  def bmpStride(width: Int): Int = ((3 * width + 3) / 4) * 4

  /** Encode a 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up rows,
    * BGR) with SplitMix64-deterministic pixel bytes — a REAL file any BMP
    * reader opens. */
  def encodeBmp(seed: Long, width: Int, height: Int): Array[Byte] = {
    val pixels = new Array[Byte](bmpStride(width) * height)
    splitMixBytes(seed, pixels, 0)
    encodeBmpPixels(width, height, pixels)
  }

  /** Encode a 24-bit BMP around caller-supplied raw pixel rows (bottom-up,
    * BGR, already stride-padded). */
  def encodeBmpPixels(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width >= 1 && width <= 0xffff && height >= 1 && height <= 0xffff,
      s"BMP dimensions out of range: ${width}x$height")
    require(pixels.length == bmpStride(width) * height,
      s"pixel buffer must be stride*height = ${bmpStride(width) * height}, got ${pixels.length}")
    val out = new Array[Byte](BmpHeaderLen + pixels.length)
    out(0) = 'B'; out(1) = 'M'
    putLE32(out, 2, out.length)
    putLE32(out, 10, BmpHeaderLen) // pixel data offset
    putLE32(out, 14, 40) // BITMAPINFOHEADER size
    putLE32(out, 18, width)
    putLE32(out, 22, height) // positive: bottom-up
    putLE16(out, 26, 1) // planes
    putLE16(out, 28, 24) // bits per pixel
    putLE32(out, 30, 0) // BI_RGB, uncompressed
    putLE32(out, 34, pixels.length)
    System.arraycopy(pixels, 0, out, BmpHeaderLen, pixels.length)
    out
  }

  /** Encode a REAL 8-bit truecolor PNG (signature, IHDR/IDAT/IEND, genuine
    * CRC32 + Adler32 — any PNG reader opens it) with SplitMix64-deterministic
    * pixels. The IDAT zlib stream is a single STORED (uncompressed) deflate
    * block, so unlike a compressed PNG the byte size is a pure function of
    * the dimensions (68 + height·(1 + 3·width)) and the q25 oracle can
    * restate it as arithmetic. A stored block caps at 65535 raw bytes — far above the
    * synthetic-media sizes; real ingests use real encoders. */
  def encodePng(seed: Long, width: Int, height: Int): Array[Byte] = {
    val stride = 1 + 3 * width // filter byte + RGB
    require(width >= 1 && height >= 1 && height * stride <= 0xffff,
      s"stored-block PNG caps at 65535 raw bytes (${width}x$height)")
    val raw = new Array[Byte](height * stride)
    splitMixBytes(seed, raw, 0)
    var y = 0
    while (y < height) { raw(y * stride) = 0; y += 1 } // filter 0: None
    def putBE32(a: Array[Byte], off: Int, v: Int): Unit = {
      a(off) = ((v >>> 24) & 0xff).toByte
      a(off + 1) = ((v >>> 16) & 0xff).toByte
      a(off + 2) = ((v >>> 8) & 0xff).toByte
      a(off + 3) = (v & 0xff).toByte
    }
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val c = new Array[Byte](12 + data.length)
      putBE32(c, 0, data.length)
      var i = 0
      while (i < 4) { c(4 + i) = typ.charAt(i).toByte; i += 1 }
      System.arraycopy(data, 0, c, 8, data.length)
      val crc = new java.util.zip.CRC32
      crc.update(c, 4, 4 + data.length)
      putBE32(c, 8 + data.length, crc.getValue.toInt)
      c
    }
    val ihdr = new Array[Byte](13)
    putBE32(ihdr, 0, width)
    putBE32(ihdr, 4, height)
    ihdr(8) = 8 // bit depth
    ihdr(9) = 2 // truecolor RGB
    // bytes 10..12 stay 0: deflate, adaptive filters, no interlace
    val zlib = new Array[Byte](2 + 5 + raw.length + 4)
    zlib(0) = 0x78; zlib(1) = 0x01 // CMF/FLG, (0x7801 % 31 == 0)
    zlib(2) = 0x01 // BFINAL=1, BTYPE=00 (stored)
    zlib(3) = (raw.length & 0xff).toByte
    zlib(4) = ((raw.length >> 8) & 0xff).toByte
    zlib(5) = (~raw.length & 0xff).toByte
    zlib(6) = ((~raw.length >> 8) & 0xff).toByte
    System.arraycopy(raw, 0, zlib, 7, raw.length)
    val adler = new java.util.zip.Adler32
    adler.update(raw, 0, raw.length)
    putBE32(zlib, 7 + raw.length, adler.getValue.toInt)
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", zlib) ++ chunk("IEND", Array.emptyByteArray)
  }

  private val WavHeaderLen = 44

  /** Encode a RIFF/WAVE 16-bit PCM clip around caller-supplied samples
    * (interleaved if multi-channel) — the audio counterpart of
    * [[encodeBmpPixels]], for tests that need known signal content. */
  def encodeWavSamples(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    require(samples.nonEmpty && samples.length % channels == 0,
      s"sample count ${samples.length} must be a positive multiple of channels=$channels")
    val out = encodeWav(0L, samples.length / channels, sampleRate, channels)
    var i = 0
    while (i < samples.length) {
      out(WavHeaderLen + 2 * i) = (samples(i) & 0xff).toByte
      out(WavHeaderLen + 2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Encode a RIFF/WAVE 16-bit PCM clip with SplitMix64-deterministic
    * samples — a REAL file `AudioSystem` (or any WAV reader) parses. */
  def encodeWav(seed: Long, nSamples: Int, sampleRate: Int, channels: Int): Array[Byte] = {
    require(nSamples >= 1 && sampleRate >= 1 && channels >= 1 && channels <= 8,
      s"bad WAV params: n=$nSamples rate=$sampleRate ch=$channels")
    val dataLen = 2 * channels * nSamples
    val out = new Array[Byte](WavHeaderLen + dataLen)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    putLE32(out, 4, out.length - 8)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    putLE32(out, 16, 16) // fmt chunk length
    putLE16(out, 20, 1) // PCM
    putLE16(out, 22, channels)
    putLE32(out, 24, sampleRate)
    putLE32(out, 28, sampleRate * channels * 2) // byte rate
    putLE16(out, 32, channels * 2) // block align
    putLE16(out, 34, 16) // bits per sample
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    putLE32(out, 40, dataLen)
    splitMixBytes(seed, out, WavHeaderLen)
    out
  }

  /** Motion-BMP "video": `nFrames` same-sized BMP frames concatenated. Each
    * frame is self-delimiting (BMP carries its file size at bytes 2..5), so
    * the container needs no index — [[frameSample]] walks it. */
  def encodeVideo(seed: Long, nFrames: Int, width: Int, height: Int): Array[Byte] = {
    require(nFrames >= 1, s"video needs at least one frame, got $nFrames")
    val frames = (0 until nFrames).map(f => encodeBmp(seed * 31 + f, width, height))
    val out = new Array[Byte](frames.map(_.length).sum)
    var off = 0
    frames.foreach { fr =>
      System.arraycopy(fr, 0, out, off, fr.length)
      off += fr.length
    }
    out
  }

  // ---- synthetic table ------------------------------------------------------

  /** Deterministic synthetic media table (tests + registered query): ids
    * 0..n-1 cycling image/audio/video, REAL payload bytes, sizes derived from
    * the id so the q25 oracle can restate every aggregate as arithmetic over
    * `range(n)`. Image rows alternate container formats — even ids are BMP,
    * odd ids are stored-block PNG ([[encodePng]], size still closed-form) —
    * so BOTH ImageIO decode routes run inside the oracled query. Ids with
    * `id % 97 == 13` carry a corrupt (non-media) payload — the decode path's
    * corrupt→valid=false contract is exercised inside the oracled query, not
    * just in specs. */
  def syntheticMedia(spark: SparkSession, n: Int, partitions: Int = 4): DataFrame = {
    val kinds = Array("image", "audio", "video")
    val rows = spark.sparkContext
      .parallelize(0L until n.toLong, partitions)
      .map { id =>
        val kind = kinds((id % 3).toInt)
        val payload =
          if (id % 97 == 13) "!corrupt-media!!".getBytes("US-ASCII") // 16 bytes
          else kind match {
            case "image" if id % 2 == 0 =>
              encodeBmp(id, 16 + (id % 7).toInt * 8, 16 + (id % 5).toInt * 8)
            case "image" =>
              encodePng(id, 16 + (id % 7).toInt * 8, 16 + (id % 5).toInt * 8)
            case "audio" =>
              encodeWav(id, 64 + (id % 32).toInt, 8000, 1 + (id % 2).toInt)
            case _ =>
              encodeVideo(id, 2 + (id % 4).toInt, 16, 16)
          }
        Row(id, kind, payload)
      }
    spark.createDataFrame(rows, MediaSchema)
  }

  // ---- real decoders --------------------------------------------------------

  /** Known image-format magic (BMP / PNG / GIF / JPEG) — the prefilter in
    * front of ImageIO. Two purposes: (1) corrupt payloads short-circuit on a
    * few byte compares instead of paying stream creation + the full
    * reader-SPI sniff loop per row (the corrupt fraction is a guaranteed-hot
    * path at lake scale); (2) the JDK's lax WBMP reader — which will accept
    * near-arbitrary bytes from a length-less in-memory stream — can never be
    * selected, so garbage cannot decode valid=true. */
  private def hasImageMagic(p: Array[Byte]): Boolean =
    p.length >= 4 && (
      (p(0) == 'B' && p(1) == 'M') ||
      (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
      (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
      (p(0) == 0xff.toByte && p(1) == 0xd8.toByte && p(2) == 0xff.toByte))

  private def isRiff(p: Array[Byte]): Boolean =
    p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  /** Default decoded-raster allocation bound: a corrupt header that DECLARES
    * a huge image must become valid=false, not an executor OOM — ImageIO
    * allocates the full raster from the header before seeing any pixel data,
    * and OutOfMemoryError would sail past an `Exception` catch. 2^25 pixels
    * (33.5M ≈ 100 MB of RGB per row) clears any real camera resolution
    * (6000×4000 = 24M). The bound is PER IMAGE (BufferedImage holds 4 B/px,
    * so ~134 MB transient per decoding task slot — size it against
    * heap / task-slots, not the whole heap); ingests with genuinely larger
    * rasters raise the `maxPixels` knob on [[decode]], smaller
    * executors lower it. */
  val DefaultMaxImagePixels: Long = 1L << 25

  /** Decode an image payload through the JDK's ImageIO (BMP/PNG/GIF/JPEG —
    * whatever readers the JVM ships), allocation-bounded: the reader's
    * HEADER-ONLY getWidth/getHeight run first, and a payload declaring more
    * than `maxPixels` is rejected before any raster is allocated. Fully
    * exception- and null-safe: any environment or payload failure is a
    * None, never an escaping throw (the media contract is corrupt→invalid,
    * not corrupt→job failure). */
  private[multimodal] def readImageBounded(
      payload: Array[Byte], maxPixels: Long): Option[java.awt.image.BufferedImage] =
    if (!hasImageMagic(payload)) None
    else try {
      val iis = javax.imageio.ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
      if (iis == null) return None // no stream SPI registered in this JVM
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val r = readers.next()
        try {
          // ignoreMetadata=true: metadata side-channels (e.g. PNG zTXt/iTXt
          // deflate chunks) are never inflated — a tiny-dimension payload
          // cannot smuggle an allocation past the raster bound below
          r.setInput(iis, true, true)
          // a video payload is a BMP stream; the reader stops at frame 0
          val w = r.getWidth(0)
          val h = r.getHeight(0)
          if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) None
          else Option(r.read(0))
        } finally r.dispose()
      } finally iis.close()
    } catch { case _: Exception => None }

  private def decodeImage(payload: Array[Byte], maxPixels: Long): Option[(Int, Int, Int)] =
    readImageBounded(payload, maxPixels)
      .map(img => (img.getWidth, img.getHeight, img.getRaster.getNumBands))

  /** Parse a WAV header through AudioSystem (no playback, headless-safe).
    * Returns (frameLength, sampleRate, channels). */
  private def decodeWav(payload: Array[Byte]): Option[(Int, Int, Int)] =
    try {
      val fmt = javax.sound.sampled.AudioSystem
        .getAudioFileFormat(new ByteArrayInputStream(payload))
      val f = fmt.getFormat
      if (fmt.getFrameLength < 0) None
      else Some((fmt.getFrameLength, f.getSampleRate.toInt, f.getChannels))
    } catch { case _: Exception => None }

  /** Sniff-and-decode one payload by content (not by the `kind` column — a
    * mislabeled row must decode by what its bytes actually are): RIFF/WAVE
    * through AudioSystem, everything else through whatever ImageIO reader
    * accepts the bytes (BMP/PNG/GIF/JPEG). */
  private def decodePayload(payload: Array[Byte], maxPixels: Long): Option[(Int, Int, Int)] =
    if (payload == null) None
    else if (isRiff(payload)) decodeWav(payload)
    else decodeImage(payload, maxPixels)

  private def rowEncoder(schema: StructType): ExpressionEncoder[Row] =
    ExpressionEncoder(RowEncoder.encoderFor(schema))

  /** Decode metadata for every media row — batched per partition, no shuffle.
    * Corrupt payloads yield valid=false rows instead of failing the job (at
    * 100 TB a fraction of corrupt media is a certainty, not an edge case). */
  def decode(media: DataFrame, maxPixels: Long = DefaultMaxImagePixels): DataFrame = {
    require(maxPixels >= 1, s"maxPixels must be >= 1 (got $maxPixels)")
    val idIdx = media.schema.fieldIndex("media_id")
    val kindIdx = media.schema.fieldIndex("kind")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        decodePayload(payload, maxPixels) match {
          case Some((w, h, c)) =>
            Row(r.getLong(idIdx), r.getString(kindIdx), w, h, c,
              payload.length.toLong, true)
          case None =>
            Row(r.getLong(idIdx), r.getString(kindIdx), null, null, null,
              Option(payload).map(_.length.toLong).orNull, false)
        }
      }
    }(rowEncoder(DecodedSchema))
  }

  /** 64-bit difference hash (dHash) of a decoded raster — the standard
    * perceptual image fingerprint: area-average the luminance onto a 9×8
    * grid, one bit per horizontally adjacent cell pair (left brighter than
    * right, strictly). A pure function of the PIXELS, in integer arithmetic
    * only (cell averages compared by cross-multiplied integer sums — no
    * float, no rounding mode), so the hash is bit-identical across JVMs and
    * across CONTAINER FORMATS: a PNG and a BMP of the same raster hash
    * identically, which is what makes format-independent image dedup exact
    * ([[transcodeToBmp]] + q125). Near-identical rasters (noise, mild
    * resampling) land within a few bits; unrelated rasters ~32. */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val gw = 9; val gh = 8
    // integer luminance sum and pixel count per grid cell
    val sums = new Array[Long](gw * gh)
    val cnts = new Array[Long](gw * gh)
    var y = 0
    while (y < h) {
      val cy = ((y.toLong * gh) / h).toInt
      var x = 0
      while (x < w) {
        val cx = ((x.toLong * gw) / w).toInt
        val rgb = img.getRGB(x, y)
        val lum = 299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
          114 * (rgb & 0xff)
        val c = cy * gw + cx
        sums(c) += lum
        cnts(c) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var bit = 0
    var cy = 0
    while (cy < gh) {
      var cx = 0
      while (cx < gw - 1) {
        val a = cy * gw + cx
        val b = a + 1
        // avg(a) > avg(b) ⇔ sum(a)·cnt(b) > sum(b)·cnt(a): exact in Long
        // (sum ≤ 255000·maxPixels fits; products bounded by cell sizes)
        val left = sums(a) * cnts(b)
        val right = sums(b) * cnts(a)
        if (left > right) hash |= (1L << bit)
        bit += 1
        cx += 1
      }
      cy += 1
    }
    hash
  }

  private val PHashSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("valid", BooleanType, nullable = false),
    StructField("phash", LongType, nullable = true)))

  /** Per-row perceptual hash: (media_id, kind, valid, phash). Non-image and
    * corrupt payloads surface valid=false (the decode contract), never a
    * throw. Scan-local mapPartitions — the downstream near-dup join is
    * [[graft.operators.Dedup.hammingNearDupPairs]]'s banded equi-join. */
  def perceptualHash(media: DataFrame,
      maxPixels: Long = DefaultMaxImagePixels): DataFrame = {
    require(maxPixels >= 1, s"maxPixels must be >= 1 (got $maxPixels)")
    val idIdx = media.schema.fieldIndex("media_id")
    val kindIdx = media.schema.fieldIndex("kind")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val ph: Option[Long] =
          if (payload == null) None
          else readImageBounded(payload, maxPixels).map(dHash64)
        ph match {
          case Some(v) => Row(r.getLong(idIdx), r.getString(kindIdx), true, v)
          case None => Row(r.getLong(idIdx), r.getString(kindIdx), false, null)
        }
      }
    }(rowEncoder(PHashSchema))
  }

  /** Container canonicalization: decode each image and re-encode the SAME
    * raster as 24-bit BMP — pixel-exact for the lossless formats this
    * engine ships (BMP/PNG), so content hashes computed on the PIXELS
    * ([[dHash64]]) are invariant under the transcode while byte-level
    * hashes are not. The normalization step in front of exact image dedup:
    * the same photo saved as PNG and BMP dedups as one document. Non-image
    * and corrupt rows pass through transcoded=false. */
  def transcodeToBmp(media: DataFrame,
      maxPixels: Long = DefaultMaxImagePixels): DataFrame = {
    require(maxPixels >= 1, s"maxPixels must be >= 1 (got $maxPixels)")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("transcoded", BooleanType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val kindIdx = media.schema.fieldIndex("kind")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val out: Option[Array[Byte]] =
          if (r.getString(kindIdx) != "image" || payload == null) None
          else readImageBounded(payload, maxPixels).map { img =>
            val (w, h) = (img.getWidth, img.getHeight)
            val stride = bmpStride(w)
            val pixels = new Array[Byte](stride * h)
            var y = 0
            while (y < h) {
              val rowOff = (h - 1 - y) * stride // BMP rows are bottom-up
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                pixels(rowOff + 3 * x) = (rgb & 0xff).toByte
                pixels(rowOff + 3 * x + 1) = ((rgb >> 8) & 0xff).toByte
                pixels(rowOff + 3 * x + 2) = ((rgb >> 16) & 0xff).toByte
                x += 1
              }
              y += 1
            }
            encodeBmpPixels(w, h, pixels)
          }
        out match {
          case Some(p) => Row(r.getLong(idIdx), r.getString(kindIdx), p, true)
          case None => Row(r.getLong(idIdx), r.getString(kindIdx), payload, false)
        }
      }
    }(rowEncoder(schema))
  }

  /** Frame sampling for motion-BMP video payloads: REAL container walk — each
    * BMP frame declares its own byte length (file-size field), so the stream
    * is split frame-by-frame with no index; every k-th frame is emitted as a
    * standalone decodable BMP. Corrupt tails stop the walk (frames before the
    * corruption are still emitted). Non-video rows emit nothing. */
  def frameSample(media: DataFrame, everyK: Int = 2): DataFrame = {
    require(everyK >= 1, "everyK must be positive")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val kindIdx = media.schema.fieldIndex("kind")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.flatMap { r =>
        if (r.getString(kindIdx) != "video") Iterator.empty
        else {
          val payload = Option(r.getAs[Array[Byte]](payloadIdx)).getOrElse(Array.emptyByteArray)
          val id = r.getLong(idIdx)
          val frames = Iterator.unfold(0) { off =>
            if (off + BmpHeaderLen > payload.length ||
              payload(off) != 'B' || payload(off + 1) != 'M') None
            else {
              val size = (payload(off + 2) & 0xff) | ((payload(off + 3) & 0xff) << 8) |
                ((payload(off + 4) & 0xff) << 16) | ((payload(off + 5) & 0xff) << 24)
              // `size > length - off`, NOT `off + size > length`: a corrupt
              // size field near Int.MaxValue would overflow the addition and
              // slip past the bound instead of stopping the walk
              if (size < BmpHeaderLen || size > payload.length - off) None
              else Some((java.util.Arrays.copyOfRange(payload, off, off + size), off + size))
            }
          }
          frames.zipWithIndex.collect {
            case (frame, f) if f % everyK == 0 => Row(id, f, frame)
          }
        }
      }
    }(rowEncoder(schema))
  }

  private val MaxAudioBytes: Long = 1L << 24 // 16 MiB of PCM per clip

  /** Per-frame channel means of a WAV payload, decoded through
    * AudioSystem's 16-bit path — the sample stream every
    * audio-content hash derives from. Averaging channels per frame makes
    * the value exactly CHANNEL-LAYOUT-INVARIANT: a mono clip duplicated to
    * stereo yields bit-identical frame means ((s + s) / 2 = s in IEEE). */
  private def pcmFrameMeans(payload: Array[Byte]): Option[Array[Double]] =
    try {
      val src = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new ByteArrayInputStream(payload))
      val f0 = src.getFormat
      val in =
        if (f0.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          f0.getSampleSizeInBits == 16) src
        else javax.sound.sampled.AudioSystem.getAudioInputStream(
          new javax.sound.sampled.AudioFormat(
            f0.getSampleRate, 16, f0.getChannels, true, false), src)
      try {
        val f = in.getFormat
        if (in.getFrameLength <= 0 ||
          in.getFrameLength * f.getFrameSize > MaxAudioBytes) None
        else {
          val bytes = in.readAllBytes()
          val ch = math.max(1, f.getChannels)
          val n = bytes.length / 2 / ch
          if (n == 0) None
          else {
            val big = f.isBigEndian
            val out = new Array[Double](n)
            var i = 0
            while (i < n) {
              var sum = 0.0
              var c = 0
              while (c < ch) {
                val k = i * ch + c
                val b0 = bytes(2 * k) & 0xff
                val b1 = bytes(2 * k + 1) & 0xff
                sum += (if (big) (b0 << 8) | b1 else (b1 << 8) | b0).toShort / 32768.0
                c += 1
              }
              out(i) = sum / ch
              i += 1
            }
            Some(out)
          }
        }
      } finally in.close()
    } catch { case _: Exception => None }

  /** 64-bit AUDIO envelope hash — the 1-D sibling of [[dHash64]]: the frame
    * stream splits into 65 index-proportional windows, each window's mean
    * absolute amplitude is its envelope value, and bit b is the gradient
    * sign env(b+1) > env(b). A pure function of the per-frame channel MEANS,
    * so it is exactly invariant under channel-layout changes (mono↔duplicated
    * stereo) and under any transform preserving envelope ORDER; gradient
    * bits (not absolute levels) make it robust to uniform gain in the
    * analog sense, though integer re-quantization can flip near-tie bits —
    * the banded-Hamming pairing absorbs small flips exactly as with images.
    * Windows with no frames (clips shorter than 65 frames) read envelope 0
    * — deterministic, and identical for any layout variant of the same
    * clip. */
  def audioEnvelopeHash64(payload: Array[Byte]): Option[Long] =
    pcmFrameMeans(payload).map { frames =>
      val env = new Array[Double](65)
      val cnt = new Array[Long](65)
      val n = frames.length
      var i = 0
      while (i < n) {
        val w = ((i.toLong * 65L) / n).toInt
        env(w) += math.abs(frames(i))
        cnt(w) += 1
        i += 1
      }
      var w = 0
      while (w < 65) { if (cnt(w) > 0) env(w) /= cnt(w); w += 1 }
      var h = 0L
      var b = 0
      while (b < 64) {
        if (env(b + 1) > env(b)) h |= (1L << b)
        b += 1
      }
      h
    }

  private val AHashSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("valid", BooleanType, nullable = false),
    StructField("ahash", LongType, nullable = true)))

  /** Per-row audio envelope hash: (media_id, kind, valid, ahash) — the
    * audio analogue of [[perceptualHash]]. Non-audio and corrupt payloads
    * surface valid=false; scan-local mapPartitions. */
  def audioHash(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val kindIdx = media.schema.fieldIndex("kind")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val h: Option[Long] =
          if (payload == null || !isRiff(payload)) None
          else audioEnvelopeHash64(payload)
        h match {
          case Some(v) => Row(r.getLong(idIdx), r.getString(kindIdx), true, v)
          case None => Row(r.getLong(idIdx), r.getString(kindIdx), false, null)
        }
      }
    }(rowEncoder(AHashSchema))
  }

  /** Channel-layout canonicalization's inverse for the test/dedup surface:
    * duplicate every MONO 16-bit PCM clip to interleaved stereo — a REAL
    * re-layout (new RIFF container, twice the sample payload, same content).
    * Non-audio, non-mono, and corrupt rows pass through stereoized=false.
    * The audio sibling of [[transcodeToBmp]]: same samples, different
    * bytes, so byte-level hashing can never pair them while
    * [[audioEnvelopeHash64]] is exactly invariant. */
  def toStereoDup(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("stereoized", BooleanType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val kindIdx = media.schema.fieldIndex("kind")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val out: Option[Array[Byte]] =
          if (payload == null || !isRiff(payload)) None
          else try {
            val src = javax.sound.sampled.AudioSystem
              .getAudioInputStream(new ByteArrayInputStream(payload))
            try {
              val f = src.getFormat
              if (f.getChannels != 1 ||
                f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
                f.getSampleSizeInBits != 16 || f.isBigEndian ||
                src.getFrameLength <= 0 ||
                src.getFrameLength * f.getFrameSize > MaxAudioBytes) None
              else {
                val bytes = src.readAllBytes()
                val n = bytes.length / 2
                val dup = new Array[Short](n * 2)
                var i = 0
                while (i < n) {
                  val s = (((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)).toShort
                  dup(2 * i) = s
                  dup(2 * i + 1) = s
                  i += 1
                }
                Some(encodeWavSamples(f.getSampleRate.toInt, 2, dup))
              }
            } finally src.close()
          } catch { case _: Exception => None }
        out match {
          case Some(p) => Row(r.getLong(idIdx), r.getString(kindIdx), p, true)
          case None => Row(r.getLong(idIdx), r.getString(kindIdx), payload, false)
        }
      }
    }(rowEncoder(schema))
  }

  /** Luma-nudged re-encode — the perturbation a lossy transcode pipeline
    * introduces, for MEASURED-recall fixtures (the q80 posture applied to
    * the perceptual kernels): every pixel byte of every BMP frame shifts by
    * `delta`, clipped to [0, 255]. Works on standalone BMP images and on
    * motion-BMP videos (each self-delimiting frame nudged in place; the
    * container structure — headers, sizes, frame boundaries — is
    * untouched). A uniform shift preserves dHash's luminance GRADIENTS
    * except where clipping makes it non-uniform or a near-tie cell pair
    * flips — exactly the robustness perceptual hashing claims, so the
    * recall of the dedup kernels against nudged variants is a measurable
    * number, not a generator artifact. Non-BMP (PNG frames are
    * CRC-protected — a byte nudge is corruption, not a re-encode), corrupt,
    * and null rows pass through `nudged=false`. */
  def lumaNudge(media: DataFrame, delta: Int): DataFrame = {
    require(delta != 0 && math.abs(delta) <= 64,
      s"delta must be a small non-zero shift (got $delta)")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("nudged", BooleanType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val kindIdx = media.schema.fieldIndex("kind")
    val payloadIdx = media.schema.fieldIndex("payload")
    def le32(p: Array[Byte], off: Int): Int =
      (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8) |
        ((p(off + 2) & 0xff) << 16) | ((p(off + 3) & 0xff) << 24)
    media.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val out: Option[Array[Byte]] =
          if (payload == null || payload.length < BmpHeaderLen) None
          else try {
            val copy = payload.clone()
            var off = 0
            var ok = true
            // walk the (possibly 1-frame) BMP concatenation; every frame
            // must parse or the row is not a nudgeable payload
            while (ok && off < copy.length) {
              if (off + BmpHeaderLen > copy.length ||
                copy(off) != 'B' || copy(off + 1) != 'M') ok = false
              else {
                val size = le32(copy, off + 2)
                val pixOff = le32(copy, off + 10)
                if (size < BmpHeaderLen || off + size > copy.length ||
                  pixOff < BmpHeaderLen || pixOff > size) ok = false
                else {
                  var i = off + pixOff
                  val end = off + size
                  while (i < end) {
                    val v = (copy(i) & 0xff) + delta
                    copy(i) = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
                    i += 1
                  }
                  off = end
                }
              }
            }
            if (ok) Some(copy) else None
          } catch { case _: Exception => None }
        out match {
          case Some(p) => Row(r.getLong(idIdx), r.getString(kindIdx), p, true)
          case None => Row(r.getLong(idIdx), r.getString(kindIdx), payload, false)
        }
      }
    }(rowEncoder(schema))
  }

  /** Amplitude-scaled re-encode — the audio twin of [[lumaNudge]]: every
    * 16-bit PCM sample of a WAV clip rescales by the integer ratio
    * `num/den` (truncating division — deterministic, no float rounding
    * mode), re-encoded into the same RIFF layout. Gain preserves envelope
    * ORDER in the analog sense, but integer re-quantization flips near-tie
    * envelope-gradient bits — so [[audioEnvelopeHash64]]'s recall against
    * scaled variants is a measured number (the q80 posture). Any channel
    * count; non-RIFF/corrupt rows pass through `scaled=false`. */
  def scaleAmplitude(media: DataFrame, num: Int, den: Int): DataFrame = {
    require(den > 0 && num != 0, s"bad ratio $num/$den")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("scaled", BooleanType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val kindIdx = media.schema.fieldIndex("kind")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val out: Option[Array[Byte]] =
          if (payload == null || !isRiff(payload)) None
          else try {
            val src = javax.sound.sampled.AudioSystem
              .getAudioInputStream(new ByteArrayInputStream(payload))
            try {
              val f = src.getFormat
              if (f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
                f.getSampleSizeInBits != 16 || f.isBigEndian ||
                src.getFrameLength <= 0 ||
                src.getFrameLength * f.getFrameSize > MaxAudioBytes) None
              else {
                val bytes = src.readAllBytes()
                val n = bytes.length / 2
                val scaled = new Array[Short](n)
                var i = 0
                while (i < n) {
                  val s = (((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)).toShort
                  val v = s.toLong * num / den
                  scaled(i) = (if (v > Short.MaxValue) Short.MaxValue
                    else if (v < Short.MinValue) Short.MinValue else v).toShort
                  i += 1
                }
                Some(encodeWavSamples(f.getSampleRate.toInt, f.getChannels, scaled))
              }
            } finally src.close()
          } catch { case _: Exception => None }
        out match {
          case Some(p) => Row(r.getLong(idIdx), r.getString(kindIdx), p, true)
          case None => Row(r.getLong(idIdx), r.getString(kindIdx), payload, false)
        }
      }
    }(rowEncoder(schema))
  }

  /** VIDEO near-duplicate pairs — the frame-level composition of the q125
    * image dedup: every video becomes its DISTINCT set of per-frame
    * perceptual hashes ([[frameSample]] container walk → [[dHash64]] per
    * frame), candidate pairs are videos sharing at least one exact frame
    * hash, and the score is the Jaccard of the two frame-hash sets — the
    * re-encode/trim/concat dup detector (a re-encoded video shares EVERY
    * frame hash, a trimmed or extended variant shares most). Output
    * (id_a, id_b, n_shared, jaccard) with id_a < id_b, kept at
    * `jaccard >= minJaccard`.
    *
    * Scale shape: the container walk and per-frame hashing are ONE
    * scan-local pass (no shuffle); videos meet ONLY through the
    * frame-hash-keyed equi-join — a shared frame IS the band, the same
    * candidate-generation shape as every near-dup kernel here (never
    * all-pairs; the PlanSpec sweep covers the registered query); the
    * per-pair rollup is bounded by shared-frame counts and the |videos|-row
    * frame-count dim broadcasts back. Corrupt payloads and non-video rows
    * contribute no frames and therefore no pairs (the decode contract).
    * Exactness: dHash is a pure integer function of the raster, so set
    * membership, counts, and the one IEEE division are engine-exact.
    *
    * `maxFrameDf` caps the frame-hash document frequency: a hash shared by
    * more than `maxFrameDf` videos is CHROME — black slates, logo intros,
    * test cards (a uniform black frame dHashes to a constant across the
    * whole crawl) — and is dropped from the kernel BEFORE the self-join,
    * because a hash in n videos yields O(n²) join rows that are mostly NOT
    * near-dups (low Jaccard, discarded after the join): pure quadratic
    * waste, the exact hazard [[graft.operators.Decontamination]]'s
    * `maxShingleDf` and [[graft.operators.Dedup.lshJaccardPairs]]'s
    * `neighborCap` already gate. Capped hashes leave BOTH the candidate
    * join and the per-video frame counts, so Jaccard is computed over each
    * video's NON-CHROME frame set — a shared intro carries no dup evidence
    * in numerator or denominator (the maxShingleDf semantics). Recall
    * trade: two videos whose overlap is ONLY chrome frames no longer pair —
    * by construction those are the pairs that weren't duplicates; a video
    * that is 100% chrome emits nothing. */
  def videoNearDupPairs(
      media: DataFrame,
      minJaccard: Double = 0.5,
      maxPixels: Long = DefaultMaxImagePixels,
      maxFrameDf: Int = 1000): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1] (got $minJaccard)")
    require(maxFrameDf >= 2,
      s"maxFrameDf must be >= 2 — a pair needs df 2 to meet (got $maxFrameDf)")
    val frames = frameSample(media, everyK = 1)
      .select(col("media_id"), lit("image").as("kind"), col("frame").as("payload"))
    val allHashes = perceptualHash(frames, maxPixels).filter(col("valid"))
      .select(col("media_id"), col("phash")).distinct()
    // chrome gate: per-hash df rollup + left-semi keep — both keyed on
    // phash, the same key as the self-join below, so AQE co-partitions them
    val hashes = allHashes
      .join(allHashes.groupBy("phash").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxFrameDf).select("phash"),
        Seq("phash"), "left_semi")
      .select("media_id", "phash")
    val sizes = hashes.groupBy("media_id").agg(count(lit(1)).as("__nf"))
    val shared = hashes.toDF("id_a", "__h")
      .join(hashes.toDF("id_b", "__h2"),
        col("__h") === col("__h2") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    // no forced hint: the frame-count dim GROWS with the corpus (one row
    // per video) — size-based selection broadcasts it at bench SF and
    // degrades to a keyed shuffle at lake scale, the r11 rule
    shared
      .join(sizes.toDF("id_a", "__fa"), Seq("id_a"))
      .join(sizes.toDF("id_b", "__fb"), Seq("id_b"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("__fa") + col("__fb") - col("n_shared")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("jaccard"))
  }
}
