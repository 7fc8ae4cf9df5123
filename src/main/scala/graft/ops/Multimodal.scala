package graft.ops

import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: opaque `binary` payloads + typed metadata,
  * with decode/feature-extract/frame-sample stages.
  *
  * IMAGE, AUDIO, AND GIF DECODE ARE REAL: the JDK ships PNG/JPEG/GIF
  * codecs (`javax.imageio.ImageIO`), so [[ImageCodec]] decodes actual
  * image bytes to pixels, [[decodeImageStats]] and [[ImageLumaExtractor]]
  * compute features over REAL decoded pixels, and [[syntheticPngMedia]]
  * encodes a deterministic pixel formula to genuine PNG payloads
  * (lossless, so every downstream stat is oracle-checkable by re-deriving
  * from the formula). Audio is real too since r11: `WavCodec` parses
  * RIFF/WAVE PCM headers and samples and the single-bin DFT runs over
  * real waveforms; `GifCodec` (r13) decodes multi-frame GIFs for the
  * video-shaped frame-sampling path. The ONE remaining declared stub is
  * [[FixedSizeFrameSampler]] — true video containers (MP4/H.264) have no
  * JDK codec, so it fakes frame extraction with fixed-size byte windows
  * (clearly marked at its definition); `GifCodec` covers the real-decode
  * variant of the same operator shape. The [[ByteHistogramExtractor]]
  * survives as the no-codec FALLBACK for payloads `ImageIO` cannot
  * parse.
  *
  * Everything Spark-side is real and tested: the schema, the binary column
  * handling, the per-partition batch iteration (the Scala analogue of
  * `mapInPandas`: one decoder instance per partition, streaming iterator
  * in/out, no per-row setup), and the downstream columnar metadata path.
  *
  * Scale notes: payload bytes travel only through the narrow decode stage —
  * metadata extraction ([[metadata]]) is pure codegen'd projection, feature
  * vectors are small (`dim` floats), and nothing shuffles except what the
  * caller aggregates afterwards. Partition sizing is the real lever at
  * 100 TB: keep `spark.sql.files.maxPartitionBytes` such that a partition
  * of blobs fits the decoder's memory, exactly as with Parquet row groups.
  */
object Multimodal {

  /** Typed metadata carried beside every payload. Width/height for images,
    * sampleRate/durationMs for audio — absent fields stay null.
    */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width_px", IntegerType),
    StructField("height_px", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_ms", LongType)))

  /** Build a media frame from the documents fixture: UTF-8 bytes as the
    * opaque payload (the container ships no real image/audio fixtures; the
    * plumbing does not care what the bytes mean). NULL text follows the
    * engine-wide "NULL ≡ empty document" contract: the payload coalesces to
    * zero bytes so the imperative decode stages never see a null array.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").alias("media_id"),
      lit("text-blob").alias("kind"),
      coalesce(encode(col("text"), "UTF-8"), lit(Array.empty[Byte])).alias("payload"),
      struct(
        lit("utf8").alias("format"),
        lit(null).cast(IntegerType).alias("width_px"),
        lit(null).cast(IntegerType).alias("height_px"),
        lit(null).cast(IntegerType).alias("sample_rate"),
        lit(null).cast(LongType).alias("duration_ms")).alias("meta"))

  /** Payload metadata without decoding: size, content digest, and a
    * magic-byte format sniff — pure projection over the binary column.
    */
  def metadata(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      col("kind"),
      length(col("payload")).alias("n_bytes"),
      sha2(col("payload"), 256).alias("payload_sha256"),
      when(col("payload").startsWith(lit(Array(0x89.toByte, 'P'.toByte))), "png")
        .when(col("payload").startsWith(lit(Array(0xff.toByte, 0xd8.toByte))), "jpeg")
        .when(col("payload").startsWith(lit("RIFF".getBytes)), "riff-wav")
        .otherwise("unknown").alias("sniffed_format"))

  /** Decoder contract: bytes → fixed-dim feature vector. One instance is
    * reused for a whole partition (open models/codecs once).
    */
  trait FeatureExtractor extends Serializable {
    def dim: Int
    def extract(payload: Array[Byte]): Array[Float]
  }

  /** Real image codec over the JDK's built-in readers (PNG, JPEG, GIF,
    * BMP). One `decode` call parses the container, inflates, and unpacks
    * to packed-ARGB ints — everything downstream is plain arithmetic.
    * Disk caching is off: `ImageIO` otherwise spills every read through a
    * temp file, a per-row syscall tax with zero benefit for in-memory
    * byte-array payloads.
    */
  object ImageCodec {
    javax.imageio.ImageIO.setUseCache(false)

    /** Bytes → (width, height, packed ARGB row-major pixels), or None if
      * the payload is not an image the JDK can parse (`ImageIO.read`
      * returns null rather than throwing on unknown containers).
      */
    def decode(payload: Array[Byte]): Option[(Int, Int, Array[Int])] =
      if (payload == null || payload.isEmpty) None
      else Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))).map { img =>
        val w = img.getWidth
        val h = img.getHeight
        (w, h, img.getRGB(0, 0, w, h, null, 0, w))
      }

    /** Deterministic synthetic image: every channel of pixel (x,y) is a
      * pure modular formula of (mediaId, x, y), and the dimensions vary
      * with the id (8..16 px a side) so decoders cannot hardcode a shape.
      * Encoded as REAL PNG bytes via the JDK encoder; PNG is lossless, so
      * `decode(encode(id))` returns exactly these values — which is what
      * makes every decoded-pixel statistic DuckDB-checkable from the
      * formula alone, without the oracle ever seeing the bytes.
      */
    def syntheticPng(mediaId: Long): Array[Byte] = {
      val w = (8 + mediaId % 9).toInt
      val h = (8 + (mediaId / 9) % 9).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((mediaId * 31 + x * 7 + y * 13) % 256).toInt
          val g = ((mediaId * 17 + x * 11 + y * 5) % 256).toInt
          val b = ((mediaId * 23 + x * 3 + y * 19) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** The SAME pixel formula as [[syntheticPng]], encoded as REAL JPEG
      * bytes (the JDK's lossy codec, default quality). Unlike PNG the
      * decode is NOT bit-identical — which is the point: the contract
      * query pins what survives a lossy round-trip (container dims, pixel
      * count, bounded channel-mean drift) instead of pretending it is
      * exact. Deterministic for a fixed JDK: same encoder, same tables.
      */
    def syntheticJpeg(mediaId: Long): Array[Byte] = {
      val w = (8 + mediaId % 9).toInt
      val h = (8 + (mediaId / 9) % 9).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((mediaId * 31 + x * 7 + y * 13) % 256).toInt
          val g = ((mediaId * 17 + x * 11 + y * 5) % 256).toInt
          val b = ((mediaId * 23 + x * 3 + y * 19) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
  }

  /** Real MULTI-FRAME container codec: animated GIF through the JDK's
    * ImageIO sequence writer/reader — the closest thing to video the JDK
    * ships (a genuine container holding N frames, iterated frame by
    * frame through a real parser). The synthetic frames use an INDEXED
    * 256-gray palette: GIF stores indexed pixels losslessly against the
    * palette, so `decode(encode(id))` returns the exact formula grays —
    * the same property that makes the PNG and WAV stats oracle-checkable.
    * (True video codecs — H.264 etc. — do not exist in the JDK; the
    * frame-ITERATION plumbing here is exactly what a real decoder drops
    * into, which is what [[FixedSizeFrameSampler]] only pretended at.)
    */
  object GifCodec {

    def framesOf(id: Long): Int = 2 + (id % 4).toInt
    def widthOf(id: Long): Int = (8 + id % 9).toInt
    def heightOf(id: Long): Int = (8 + (id / 9) % 9).toInt

    /** Gray value of pixel (x, y) in frame f: pure modular formula. */
    def grayOf(id: Long, f: Int, x: Int, y: Int): Int =
      ((id * 31 + f.toLong * 41 + x.toLong * 7 + y.toLong * 13) % 256).toInt

    private def grayPalette: java.awt.image.IndexColorModel = {
      val g = Array.tabulate(256)(_.toByte)
      new java.awt.image.IndexColorModel(8, 256, g, g, g)
    }

    /** Encode [[framesOf]] formula frames as one REAL animated GIF. */
    def syntheticGif(id: Long): Array[Byte] = {
      val w = widthOf(id); val h = heightOf(id)
      val out = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < framesOf(id)) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = grayOf(id, f, x, y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
      writer.dispose()
      ios.close()
      out.toByteArray
    }

    /** Bytes → per-frame (width, height, packed-ARGB pixels), or None when
      * the payload is not a GIF the reader can parse. Corrupt payloads map
      * to None, never a throw.
      */
    def decode(payload: Array[Byte]): Option[Seq[(Int, Int, Array[Int])]] =
      if (payload == null || payload.length < 6 ||
          !new String(payload, 0, 3, "US-ASCII").equals("GIF")) None
      else try {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            Some((0 until n).map { i =>
              val img = reader.read(i)
              val w = img.getWidth; val h = img.getHeight
              (w, h, img.getRGB(0, 0, w, h, null, 0, w))
            })
          } finally reader.dispose()
        }
      } catch { case _: Exception => None }
  }

  /** The multi-frame decode stage: per-partition GIF parse emitting one
    * row of EXACT integer statistics per frame (dims, pixel count, gray
    * sum / min / max — frames are gray by construction, so one channel
    * suffices and the red byte IS the gray). Undecodable payloads emit a
    * single `decoded = false` row with `frame_idx = -1` — a corrupt blob
    * must stay visible in the output, not vanish. Payload bytes die
    * inside the stage.
    */
  def decodeGifFrameStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          GifCodec.decode(payload) match {
            case Some(frames) =>
              frames.zipWithIndex.map { case ((w, h, px), i) =>
                var s = 0L; var mn = 255; var mx = 0
                var k = 0
                while (k < px.length) {
                  val v = (px(k) >> 16) & 0xff
                  s += v
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                  k += 1
                }
                (id, i, true, w, h, w.toLong * h, s, mn, mx)
              }
            case None => Seq((id, -1, false, 0, 0, 0L, 0L, 255, 0))
          }
        }
      }
      .toDF("media_id", "frame_idx", "decoded", "width_px", "height_px",
        "n_px", "gray_sum", "gray_min", "gray_max")
  }

  /** TEMPORAL motion statistics over the real multi-frame decode: the
    * exact per-pixel |Δgray| summed across consecutive frame pairs — the
    * still-vs-motion signal a video-curation gate thresholds (static
    * slideshows vs actual motion), computed at the same codec altitude as
    * [[decodeGifFrameStats]]: frames die inside the stage, one integer
    * row per clip leaves it. The indexed-gray round-trip is lossless, so
    * the motion sums have a closed-form oracle over the (frame, x, y)
    * formula grid; corrupt payloads emit a visible `decoded=false` row.
    */
  def gifMotionStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          GifCodec.decode(payload) match {
            case Some(frames) if frames.length >= 2 =>
              var delta = 0L
              var pairs = 0L
              frames.sliding(2).foreach {
                case Seq((_, _, a), (_, _, b)) =>
                  var k = 0
                  while (k < a.length) {
                    delta += math.abs(((b(k) >> 16) & 0xff) -
                      ((a(k) >> 16) & 0xff))
                    k += 1
                  }
                  pairs += a.length
                case _ => ()
              }
              (id, true, frames.length, delta, pairs)
            case Some(frames) => (id, true, frames.length, 0L, 0L)
            case None => (id, false, 0, 0L, 0L)
          }
        }
      }
      .toDF("media_id", "decoded", "n_frames", "delta_sum", "n_deltas")
      .withColumn("mean_abs_delta",
        round(col("delta_sum").cast("double") /
          greatest(col("n_deltas"), lit(1L)), 6))
  }

  /** Synthetic animated-GIF media frame (one REAL multi-frame payload per
    * document id, encoded per partition; see [[GifCodec]]).
    */
  def syntheticGifMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          (id, "video", GifCodec.syntheticGif(id),
            GifCodec.widthOf(id), GifCodec.heightOf(id))
        }
      }
      .toDF("media_id", "kind", "payload", "w", "h")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(
          lit("gif").alias("format"),
          col("w").alias("width_px"),
          col("h").alias("height_px"),
          lit(null).cast(IntegerType).alias("sample_rate"),
          lit(null).cast(LongType).alias("duration_ms")).alias("meta"))
  }

  /** GIF media for the oracle harness (see [[syntheticGifMedia]]). */

  /** Document-id seed frame for the synthetic media encoders, fanned out
    * to the session's parallelism. The driver's documents.parquet holds
    * ONE row group, so a bare scan cannot split below one task and the
    * codec encode/decode stages — the compute-heavy part of every mm
    * query — would run single-core (the StandIn.fanOut remedy, applied
    * here after projecting to the id so the round-robin exchange carries
    * 8 bytes per row, never text). Harness-only, like StandIn.fanOut:
    * production media tables have many row groups/files.
    */
  private def mediaSeedIds(
      spark: SparkSession, sfDir: String): DataFrame =
    graft.harness.StandIn.table(spark, sfDir, "documents")
      .select(col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism)

  def gifMedia(spark: SparkSession, sfDir: String): DataFrame =
    syntheticGifMedia(mediaSeedIds(spark, sfDir))

  /** Real audio codec over the JDK's built-in RIFF/WAVE reader
    * (`javax.sound.sampled.AudioSystem` — part of `java.desktop`, like
    * `ImageIO`). [[decode]] parses the container through the actual
    * `AudioInputStream` plumbing (header validation, format negotiation,
    * frame framing) and unpacks PCM16-LE frames to signed ints;
    * [[syntheticWav]] writes a closed-form sample formula into genuine
    * canonical-44-byte-header WAV bytes. PCM is lossless, so
    * `decode(encode(id))` returns exactly the formula values — the same
    * property that makes the PNG family's decoded statistics
    * oracle-checkable without the oracle ever seeing a byte.
    */
  object WavCodec {

    /** Formula parameters, all pure functions of the media id so the
      * oracle re-derives them: sample rate 8/12/16/20 kHz, mono or stereo,
      * 64..96 frames, 16-bit PCM.
      */
    def rateOf(id: Long): Int = 8000 + (id % 4).toInt * 4000
    def channelsOf(id: Long): Int = 1 + (id % 2).toInt
    def framesOf(id: Long): Int = 64 + (id % 33).toInt

    /** Sample value of channel `c`, frame `i`: a modular formula covering
      * the full signed-16-bit range (id ≥ 0 keeps Java % nonnegative).
      */
    def sampleOf(id: Long, c: Int, i: Int): Int =
      ((id * 31 + i.toLong * 7 + c.toLong * 13) % 65536).toInt - 32768

    /** Encode the formula as a genuine RIFF/WAVE payload: the canonical
      * 44-byte PCM header (what every tool from ffmpeg to AudioSystem
      * writes for plain PCM16) followed by interleaved little-endian
      * frames.
      */
    def syntheticWav(id: Long): Array[Byte] = {
      val nCh = channelsOf(id)
      val nFr = framesOf(id)
      val rate = rateOf(id)
      val blockAlign = nCh * 2
      val dataLen = nFr * blockAlign
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1)                       // PCM
        .putShort(nCh.toShort)
        .putInt(rate)
        .putInt(rate * blockAlign)         // byte rate
        .putShort(blockAlign.toShort)
        .putShort(16)                      // bits per sample
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < nFr) {
        var c = 0
        while (c < nCh) {
          buf.putShort(sampleOf(id, c, i).toShort)
          c += 1
        }
        i += 1
      }
      buf.array()
    }

    /** Bytes → (sampleRate, channels, bits, interleaved samples), or None
      * when the payload is not audio the JDK can parse. The read goes
      * through the real `AudioSystem` reader — corrupt payloads surface as
      * its `UnsupportedAudioFileException`, mapped to None, never a throw
      * (at 100 TB some blobs WILL be corrupt).
      */
    def decode(payload: Array[Byte])
        : Option[(Int, Int, Int, Array[Int])] =
      if (payload == null || payload.isEmpty) None
      else try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = ais.getFormat
          if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian ||
              fmt.getEncoding !=
                javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
          else {
            val bytes = ais.readAllBytes()
            val n = bytes.length / 2
            val out = new Array[Int](n)
            var k = 0
            while (k < n) {
              out(k) = ((bytes(2 * k) & 0xff) | (bytes(2 * k + 1) << 8)).toShort.toInt
              k += 1
            }
            Some((fmt.getSampleRate.toInt, fmt.getChannels, 16, out))
          }
        } finally ais.close()
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case _: java.io.IOException => None
      }
  }

  /** NO-CODEC FALLBACK (formerly the stand-in decoder) — used when
    * `ImageIO` cannot parse a payload. Produces an L1-normalized 16-bin
    * byte histogram; stable across runs and engines, so tests can assert
    * exact values.
    */
  object ByteHistogramExtractor extends FeatureExtractor {
    val dim = 16
    def extract(payload: Array[Byte]): Array[Float] = {
      val counts = new Array[Float](dim)
      payload.foreach { b => counts((b & 0xff) >> 4) += 1f }
      val total = math.max(payload.length, 1).toFloat
      counts.map(_ / total)
    }
  }

  /** REAL image feature extractor: decodes the payload with the JDK codec
    * and histograms the integer luminance `(r+g+b)/3` of every decoded
    * pixel into 16 bins (L1-normalized, float32 division — the float
    * arithmetic DuckDB's REAL reproduces bit-for-bit). Non-image payloads
    * fall back to [[ByteHistogramExtractor]], so one extractor serves a
    * mixed-modality column without a pre-filter pass.
    */
  object ImageLumaExtractor extends FeatureExtractor {
    val dim = 16
    def extract(payload: Array[Byte]): Array[Float] =
      ImageCodec.decode(payload) match {
        case Some((_, _, px)) =>
          val counts = new Array[Float](dim)
          var i = 0
          while (i < px.length) {
            val p = px(i)
            val luma = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
            counts(luma >> 4) += 1f
            i += 1
          }
          val total = math.max(px.length, 1).toFloat
          counts.map(_ / total)
        case None => ByteHistogramExtractor.extract(payload)
      }
  }

  /** The real decode stage: per-partition `ImageIO` decode (same deliberate
    * `mapPartitions` altitude as [[extractFeatures]] — a codec is not an
    * expression) emitting EXACT integer statistics of the decoded pixels:
    * dimensions, pixel count, and per-channel sums as longs. Integer sums
    * make the stage bit-checkable: no float accumulation order to worry
    * about, and the oracle re-derives the same longs from the synthetic
    * pixel formula. Undecodable payloads yield `decoded = false` zero rows
    * rather than errors — at 100 TB some blobs WILL be corrupt, and a
    * decode stage that throws on the first one is useless.
    *
    * Scale shape: payload bytes enter and die inside the stage; only the
    * 8-column stat row leaves, so nothing wide ever shuffles.
    */
  def decodeImageStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          ImageCodec.decode(payload) match {
            case Some((w, h, px)) =>
              var r = 0L; var g = 0L; var b = 0L
              var i = 0
              while (i < px.length) {
                val p = px(i)
                r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
                i += 1
              }
              (id, true, w, h, w.toLong * h, r, g, b)
            case None => (id, false, 0, 0, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("media_id", "decoded", "width_px", "height_px", "n_px",
        "r_sum", "g_sum", "b_sum")
  }

  /** PNG header dimensions WITHOUT decoding — a pure codegen'd projection
    * over the binary column (IHDR width/height are big-endian u32 at byte
    * offsets 16/20). This is the metadata-sniff altitude for the common
    * "partition by resolution before decoding anything" pass: at 100 TB
    * you want dims for every blob but pixels for none of them.
    */
  def pngHeaderDims(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      conv(hex(substring(col("payload"), 17, 4)), 16, 10)
        .cast(IntegerType).alias("width_px"),
      conv(hex(substring(col("payload"), 21, 4)), 16, 10)
        .cast(IntegerType).alias("height_px"))

  /** 60-bit perceptual hashes (aHash + dHash) over REAL decoded pixels —
    * the image-level dedup signature stage (the LAION/DataComp near-dup
    * screen): decode → integer luma → fixed sampling grid → threshold
    * bits. Same `mapPartitions` codec altitude as [[decodeImageStats]];
    * only the two 60-bit longs leave the stage.
    *
    * A 60-bit variant of the canonical 64-bit aHash/dHash, following the
    * engine-wide 60-bit signature convention (positive BIGINT on both
    * engines — DuckDB cannot construct bit 63) and the exact band
    * parameters of the text SimHash machinery (4 bands × 15 bits), so
    * [[Dedup.hammingPairs]] consumes it unchanged.
    *
    * aHash: 6×10 nearest-neighbor sampling grid — bit `y*10+x` set iff
    * luma at pixel `(x*w/10, y*h/6)` (integer division) is strictly above
    * the mean of the 60 samples. Brightness-offset invariant: images
    * sharing a gradient pattern at different exposure hash identically —
    * the invariance that makes average-hash perceptual rather than a
    * byte hash. dHash: 6 rows × 10 adjacent comparisons over an
    * 11-column grid — bit set iff the right sample is strictly brighter
    * (gradient-direction signature).
    *
    * Nearest-neighbor (not interpolating-resize) sampling keeps every
    * bit a pure integer formula of the pixels, so the DuckDB oracle
    * re-derives both hashes from the synthetic pixel formula without
    * seeing any bytes. Luma is the engine-wide integer `(r+g+b)/3`.
    * Undecodable payloads → `decoded=false`, zero hashes.
    */
  def phash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          ImageCodec.decode(payload) match {
            case Some((w, h, px)) =>
              def luma(sx: Int, sy: Int): Int = {
                val p = px(sy * w + sx)
                (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
              }
              val samples = new Array[Int](60)
              var y = 0
              while (y < 6) {
                var x = 0
                while (x < 10) {
                  samples(y * 10 + x) = luma(x * w / 10, y * h / 6)
                  x += 1
                }
                y += 1
              }
              val mean = samples.sum.toDouble / 60.0
              var ah = 0L
              var i = 0
              while (i < 60) {
                if (samples(i) > mean) ah |= 1L << i
                i += 1
              }
              var dh = 0L
              y = 0
              while (y < 6) {
                val sy = y * h / 6
                var x = 0
                while (x < 10) {
                  if (luma((x + 1) * w / 11, sy) > luma(x * w / 11, sy))
                    dh |= 1L << (y * 10 + x)
                  x += 1
                }
                y += 1
              }
              (id, true, ah, dh)
            case None => (id, false, 0L, 0L)
          }
        }
      }
      .toDF("media_id", "decoded", "ahash", "dhash")
  }

  /** Perceptual near-duplicate image pairs: [[phash]] aHash signatures
    * through the banded Hamming machinery ([[Dedup.hammingPairs]] — band
    * equi-join with hot-bucket salting + exact `bit_count(xor)` verify,
    * no all-pairs step), emitting `(a_id, b_id, hamming)`. This is the
    * image twin of `dedup_simhash_pairs`: the aHash's brightness
    * invariance makes "same scene, different exposure" land within a few
    * bits while unrelated images sit near 30.
    */
  def phashPairs(media: DataFrame, maxHamming: Int = 8): DataFrame =
    Dedup.hammingPairs(
      phash(media).where(col("decoded"))
        .select(col("media_id").alias("doc_id"), col("ahash").alias("sig")),
      bands = 4, bandBits = 15, maxHamming = maxHamming)

  /** Image near-dup CLUSTERS: connected components over the banded
    * Hamming pair graph — the end of the image-dedup pipeline (decode →
    * pHash → band pairs → clusters → keep one per cluster), composed
    * from [[phashPairs]] and the SAME label-propagation CC engine every
    * dedup family uses ([[Dedup.componentsFromPairs]] — candidate-graph-
    * only iteration, singletons attached once after convergence).
    * `cluster_id` = the component's minimum media id; dedup keeps
    * `media_id === cluster_id`.
    *
    * `universeIds`: the singleton-attachment join needs only the id set,
    * but a media frame built by an opaque per-partition encoder cannot be
    * column-pruned — projecting ids "from the media" would re-run the
    * whole codec stage. Callers with a cheap id source (the backing
    * document table) pass it here and skip that second codec pass.
    */
  def phashClusters(
      media: DataFrame,
      maxHamming: Int = 8,
      universeIds: Option[DataFrame] = None): DataFrame =
    Dedup.componentsFromPairs(
      phashPairs(media, maxHamming).select(col("a_id"), col("b_id")),
      universeIds.getOrElse(media.select(col("media_id"))).toDF("doc_id"))
      .select(col("doc_id").alias("media_id"), col("cluster_id"))

  /** Affine-scramble constants for the [[phashBandAudit]] deterministic
    * bucket draw: band-0 value `bv` is sampled iff
    * `((bv * PhashAuditMult + PhashAuditOffset) >> PhashAuditShift)
    * % PhashAuditMod == 0` — 1638 of the 32768 possible buckets (a 1-in-20
    * slice), fixed across scales and engines (shared with the oracle twin).
    *
    * The r18 draw tested `(bv * mult) % 100 == 0` directly, but
    * 2654435761 is invertible mod 100, so that reduced to `bv % 100 == 0`
    * — a plain residue class that ALWAYS contained the degenerate bv=0
    * bucket (flat / all-below-mean aHashes), which alone carried most of
    * the sampled pair mass at sf10 (r18 ADVICE). The shift discards the
    * low multiplier bits before the modulus so the multiply actually
    * mixes, and the Fibonacci-hash offset 40503 (= 0x9E37) de-anchors
    * bv=0 (neither bv=0 nor the all-above-mean bv=32767 is sampled).
    * The draw is still a fixed affine residue family, NOT a uniform
    * random sample — a deterministic, engine-shared slice whose
    * membership no longer privileges the degenerate buckets. Mod 20
    * (vs r18's 100): without the mega-bucket the sampled pair mass is
    * ~5% of the non-degenerate total — bounded at sf10 — and the denser
    * draw keeps the pair arm EXERCISED at sf0.01 (15 buckets, 145
    * candidate pairs, 15 Hamming-verified; a scrambled 1-in-100 draw
    * left a single pairless bucket there, auditing nothing).
    */
  val PhashAuditMult = 2654435761L

  val PhashAuditOffset = 40503L

  val PhashAuditShift = 13

  val PhashAuditMod = 20L

  /** Sub-segments per sampled bucket in [[phashBandAudit]]'s clique
    * join: the left side splits on `a_id % PhashAuditSegments` and the
    * right side replicates once per segment, so one bucket's C(n,2)
    * pair clique spreads over `PhashAuditSegments` shuffle keys instead
    * of one (r18 verdict finding 2: 10 sampled buckets → ≤10 active
    * tasks at ~40M pairs each; the next decade would put ~4B pairs on
    * one task). Per-bucket aggregates are sums/counts, so partials per
    * (bv, segment) roll up to bit-identical per-bucket output.
    */
  val PhashAuditSegments = 16

  /** Sampled-bucket pHash pair AUDIT — the bounded sf10 adjudication
    * contract for the image near-dup family (r17 verdict item 4). The
    * full pair graph is output-quadratic in duplicate-group size
    * (~1B pairs at sf10 — the DuckDB pair CTE is infeasible there,
    * BASELINE §posture "mm"), but a deterministic 1-in-20-buckets sample
    * is a CLOSED sub-contract: duplicate groups share one aHash and
    * therefore one band-0 bucket, so a sampled bucket contains its
    * groups' ENTIRE within-bucket pair cliques — the audit adjudicates
    * the same decode → aHash → banded-bucket → exact-Hamming-verify
    * machine [[phashPairs]] runs, at a bounded slice of the pair mass
    * (~5% of the non-degenerate total — the scrambled draw excludes the
    * flat bv=0/32767 mega-buckets).
    *
    * Emits one row per sampled non-empty band-0 bucket:
    * `(bv, n_docs, id_sum, n_pairs, hamming_sum, pair_digest)` — doc
    * membership (count + id sum) plus the verified-pair aggregate
    * (count, Hamming sum, and a modular id digest), all exact integers
    * the oracle re-derives from the pixel formula. Aggregated per
    * bucket so the output stays tiny at every scale while the compare
    * still pins pair identities (the digest) and distances (the sum).
    *
    * Scale shape: one codec pass (materialized), then a bucket
    * equi-join restricted to the sampled buckets. A bucket's pair mass is
    * C(group, 2) — quadratic in duplicate-group size — so the clique
    * join keys on (bv, a_id % [[PhashAuditSegments]]) with the right
    * side replicated per segment: every pair still meets exactly once
    * (in its `a_id`'s segment), but one bucket's clique occupies
    * [[PhashAuditSegments]] shuffle keys instead of one, keeping
    * per-task work ~n²/S at any duplicate-group size. Partial
    * aggregates per (bv, segment) roll up per bucket; all aggregates
    * are order-independent sums/counts, so output is bit-identical to
    * the unsegmented join.
    */
  def phashBandAudit(media: DataFrame, maxHamming: Int = 8): DataFrame = {
    val sigs = Materialize(
      phash(media).where(col("decoded"))
        .select(col("media_id").alias("doc_id"), col("ahash"))
        .withColumn("bv", col("ahash").bitwiseAND(lit(32767L)))
        .where(
          shiftright(col("bv") * lit(PhashAuditMult) + lit(PhashAuditOffset),
            PhashAuditShift) % lit(PhashAuditMod) === 0L))
    val docs = sigs.groupBy("bv").agg(
      count(lit(1)).alias("n_docs"),
      sum(col("doc_id")).alias("id_sum"))
    // Right side replicated once per segment (the standard skew-split
    // replication): (a,b) meets exactly once, in segment a_id % S.
    val right = sigs
      .select(col("bv"), col("doc_id").alias("b_id"),
        col("ahash").alias("hb"))
      .withColumn("seg",
        explode(lit((0L until PhashAuditSegments.toLong).toArray)))
    val pairs = sigs
      .select(col("bv"), col("doc_id").alias("a_id"),
        col("ahash").alias("ha"))
      .withColumn("seg", pmod(col("a_id"), lit(PhashAuditSegments.toLong)))
      .join(right, Seq("bv", "seg"))
      .where(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("hamming") <= maxHamming)
      .groupBy("bv", "seg").agg(
        count(lit(1)).alias("p_pairs"),
        sum(col("hamming").cast("long")).alias("p_hamming"),
        sum((col("a_id") * 31 + col("b_id") * 7) % 1000000007L)
          .alias("p_digest"))
      .groupBy("bv").agg(
        sum(col("p_pairs")).alias("n_pairs"),
        sum(col("p_hamming")).alias("hamming_sum"),
        sum(col("p_digest")).alias("pair_digest"))
    docs.join(pairs, Seq("bv"), "left")
      .select(col("bv"), col("n_docs"), col("id_sum"),
        coalesce(col("n_pairs"), lit(0L)).alias("n_pairs"),
        coalesce(col("hamming_sum"), lit(0L)).alias("hamming_sum"),
        coalesce(col("pair_digest"), lit(0L)).alias("pair_digest"))
  }

  /** Image-gate thresholds (the LAION/DataComp-style screen): minimum
    * side length, max aspect ratio as an EXACT integer cross-multiply
    * ([[ImgAspectNum]]:[[ImgAspectDen]] — no float ratio can sit on a
    * threshold boundary), and a mean-RGB exposure band rejecting
    * near-black / near-white frames. Shared with the oracle twin.
    */
  val ImgMinSide = 10
  val ImgAspectNum = 3
  val ImgAspectDen = 2
  val ImgMeanMin = 8.0
  val ImgMeanMax = 248.0

  /** Image quality GATE over the REAL decode — the curation screen an
    * image-text pipeline runs before captioning/embedding anything (the
    * image twin of the text/audio quality gates): container dims, aspect
    * ratio, and mean-RGB exposure, each from the exact integer sums
    * [[decodeImageStats]] already computes inside the codec stage, with
    * pass/fail booleans at the documented thresholds. Undecodable blobs
    * FAIL every rule (an image you cannot decode is not trainable data).
    *
    * Dims/aspect rules are pure integer comparisons; the exposure mean
    * compares at its ROUNDED value so the boundary is bit-stable
    * cross-engine — the [[wavGate]] conventions exactly.
    */
  def imageGate(media: DataFrame): DataFrame = {
    val s = decodeImageStats(media)
    val rgbMean = round(
      (col("r_sum") + col("g_sum") + col("b_sum")).cast("double") /
        (lit(3.0) * greatest(col("n_px"), lit(1L))), 6)
    s.select(
        col("media_id"), col("decoded"), col("width_px"), col("height_px"),
        rgbMean.alias("rgb_mean"))
      .withColumn("ok_dims",
        col("decoded") && col("width_px") >= ImgMinSide &&
          col("height_px") >= ImgMinSide)
      .withColumn("ok_aspect",
        col("decoded") &&
          lit(ImgAspectDen) * greatest(col("width_px"), col("height_px")) <=
          lit(ImgAspectNum) * least(col("width_px"), col("height_px")))
      .withColumn("ok_exposure",
        col("decoded") && col("rgb_mean") >= ImgMeanMin &&
          col("rgb_mean") <= ImgMeanMax)
      .withColumn("pass",
        col("ok_dims") && col("ok_aspect") && col("ok_exposure"))
  }

  /** Synthetic PNG media frame: one REAL PNG payload per document id,
    * encoded per partition (encoder state reused, bytes never shuffled).
    * The pixel content is the [[ImageCodec.syntheticPng]] formula, so
    * every downstream decoded-pixel statistic has a closed-form oracle.
    */
  def syntheticPngMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val payload = ImageCodec.syntheticPng(id)
          val w = (8 + id % 9).toInt
          val h = (8 + (id / 9) % 9).toInt
          (id, "image", payload, ("png", w, h))
        }
      }
      .toDF("media_id", "kind", "payload", "m")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(
          col("m._1").alias("format"),
          col("m._2").alias("width_px"),
          col("m._3").alias("height_px"),
          lit(null).cast(IntegerType).alias("sample_rate"),
          lit(null).cast(LongType).alias("duration_ms")).alias("meta"))
  }

  /** Little-endian unsigned integer parsed out of a binary column — the
    * WAV-header counterpart of the big-endian PNG IHDR parse: hex the
    * bytes in reverse order, one `conv` to a long. Pure codegen'd
    * projection; `pos1` is 1-based as in `substring`.
    */
  private def leUInt(payload: Column, pos1: Int, nBytes: Int): Column =
    conv(concat((0 until nBytes).reverse.map(k =>
      hex(substring(payload, pos1 + k, 1))): _*), 16, 10).cast(LongType)

  /** WAV header fields WITHOUT decoding — pure codegen'd projection over
    * the canonical 44-byte PCM header (channels u16 LE @22, sample rate
    * u32 LE @24, bits u16 LE @34, data size u32 LE @40; frame count and
    * duration derive from those). Same altitude as [[pngHeaderDims]]: at
    * 100 TB you want rate/duration for every blob but samples for none.
    */
  def wavHeaderInfo(media: DataFrame): DataFrame = {
    val nCh = leUInt(col("payload"), 23, 2)
    val rate = leUInt(col("payload"), 25, 4)
    val bits = leUInt(col("payload"), 35, 2)
    val dataBytes = leUInt(col("payload"), 41, 4)
    // greatest(...,1) guards: a corrupt-but-long-enough payload can carry
    // zeros at the channel/bits/rate offsets, and under ANSI mode a zero
    // divisor would kill the whole scan — malformed headers must yield
    // garbage fields, never a query-fatal error (same contract as the
    // decode stages, cf. jpegDecodeContract's greatest(n_px,1)).
    val nFrames =
      (dataBytes / greatest(nCh * (bits / 8), lit(1L))).cast(LongType)
    media.select(
      col("media_id"),
      nCh.cast(IntegerType).alias("n_channels"),
      rate.cast(IntegerType).alias("sample_rate"),
      bits.cast(IntegerType).alias("bits"),
      nFrames.alias("n_frames"),
      (nFrames * 1000 / greatest(rate, lit(1L))).cast(LongType)
        .alias("duration_ms"))
  }

  /** The real audio-decode stage: per-partition `AudioSystem` decode (the
    * same deliberate `mapPartitions` altitude as [[decodeImageStats]] — a
    * codec is not an expression) emitting EXACT integer statistics of the
    * decoded samples: format fields, frame count, per-channel sums as
    * longs, and the global min/max sample. Integer sums make the stage
    * bit-checkable against the closed-form sample formula. Undecodable
    * payloads yield `decoded = false` zero rows rather than errors.
    * Payload bytes enter and die inside the stage; only the stat row
    * leaves, so nothing wide ever shuffles.
    */
  def decodeWavStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          WavCodec.decode(payload) match {
            case Some((rate, nCh, _, samples)) =>
              val nFr = samples.length / nCh
              var s0 = 0L; var s1 = 0L
              var vMin = Int.MaxValue; var vMax = Int.MinValue
              var k = 0
              while (k < samples.length) {
                val v = samples(k)
                if (k % nCh == 0) s0 += v else s1 += v
                if (v < vMin) vMin = v
                if (v > vMax) vMax = v
                k += 1
              }
              (id, true, rate, nCh, nFr.toLong, s0, s1, vMin, vMax)
            case None => (id, false, 0, 0, 0L, 0L, 0L, 0, 0)
          }
        }
      }
      .toDF("media_id", "decoded", "sample_rate", "n_channels", "n_frames",
        "ch0_sum", "ch1_sum", "v_min", "v_max")
  }

  /** Audio feature extraction over the REAL decode: per-channel
    * zero-crossing count and energy (sum of squared samples) — the
    * classic silence/noise/speech gate signals, the audio analogue of the
    * luma histogram. Both are EXACT integers (samples are 16-bit ints;
    * Σs² ≤ 96·2³⁰ fits a long with room to spare), so the stage is
    * bit-checkable against the closed-form sample formula. Zero-crossing
    * convention: sign flip between consecutive frames of one channel,
    * where sample ≥ 0 counts as nonnegative. Undecodable payloads →
    * `decoded = false` zero rows. Same `mapPartitions` altitude and
    * nothing-wide-shuffles shape as [[decodeWavStats]].
    */
  def wavFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          WavCodec.decode(payload) match {
            // nCh > 2 would overrun the fixed two-channel stat arrays; a
            // valid 3+-channel WAV must fall through to the decoded=false
            // zero row (the module contract: unexpected blobs surface as
            // flagged rows, never a throw), matching decodeWavStats.
            case Some((_, nCh, _, samples)) if nCh <= 2 =>
              val nFr = samples.length / nCh
              val zc = new Array[Long](2)
              val sq = new Array[Long](2)
              var c = 0
              while (c < nCh) {
                var i = 0
                while (i < nFr) {
                  val v = samples(i * nCh + c).toLong
                  sq(c) += v * v
                  if (i > 0 &&
                      (samples((i - 1) * nCh + c) < 0) != (v < 0)) zc(c) += 1
                  i += 1
                }
                c += 1
              }
              (id, true, nFr.toLong, zc(0), zc(1), sq(0), sq(1))
            case _ => (id, false, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("media_id", "decoded", "n_frames",
        "ch0_zero_crossings", "ch1_zero_crossings",
        "ch0_energy", "ch1_energy")
  }

  /** Audio-gate thresholds — documented constants shared with the oracle
    * twin. Silence = |sample| below [[SilenceAmp]] (−36 dBFS-ish on
    * 16-bit); clipping = the two rail values ±full-scale. A clip passes
    * below 1% clipped samples, a silence screen below 50% silent samples,
    * and a level screen at per-channel RMS ≥ [[LevelMinRms]].
    */
  val SilenceAmp = 512
  val SilenceMaxShare = 0.5
  val ClipMaxShare = 0.01
  val LevelMinRms = 256.0

  /** Audio quality GATE over the REAL decode — the curation screen a
    * speech/audio pipeline runs before anything expensive (the audio twin
    * of the text quality gate): per-channel RMS (6-dp) and peak, plus
    * corpus-comparable silence and clipped-sample shares, each derived
    * from EXACT integer counts computed inside the decode stage (the
    * [[wavFeatures]] altitude — samples die in the stage, only counters
    * leave), with pass/fail booleans at the documented thresholds.
    *
    * RMS compares at its ROUNDED value so threshold boundaries are
    * bit-stable cross-engine. Mono rows keep zeroed channel-1 slots (the
    * [[decodeWavStats]] convention) and gate on channel 0 only.
    * Undecodable or 3+-channel payloads → `decoded=false` zero rows that
    * FAIL the gate (a blob you cannot decode is not trainable audio).
    */
  def wavGate(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val counts = media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          WavCodec.decode(payload) match {
            case Some((_, nCh, _, samples)) if nCh <= 2 =>
              val nFr = samples.length / nCh
              val sq = new Array[Long](2)
              val peak = new Array[Int](2)
              var silent = 0L; var clipped = 0L
              var k = 0
              while (k < samples.length) {
                val v = samples(k)
                val a = math.abs(v)
                val c = k % nCh
                sq(c) += v.toLong * v
                if (a > peak(c)) peak(c) = a
                if (a < SilenceAmp) silent += 1
                if (v == 32767 || v == -32768) clipped += 1
                k += 1
              }
              (id, true, nCh, nFr.toLong, sq(0), sq(1),
                peak(0), peak(1), silent, clipped)
            case _ => (id, false, 0, 0L, 0L, 0L, 0, 0, 0L, 0L)
          }
        }
      }
      .toDF("media_id", "decoded", "n_channels", "n_frames", "sq0", "sq1",
        "ch0_peak", "ch1_peak", "n_silent", "n_clipped")
    val nSamp = greatest(col("n_frames") * col("n_channels"), lit(1L))
    val rms0 = round(sqrt(col("sq0").cast("double") /
      greatest(col("n_frames"), lit(1L))), 6)
    val rms1 = round(sqrt(col("sq1").cast("double") /
      greatest(col("n_frames"), lit(1L))), 6)
    counts.select(
      col("media_id"), col("decoded"), col("n_channels"), col("n_frames"),
      rms0.alias("ch0_rms"), rms1.alias("ch1_rms"),
      col("ch0_peak"), col("ch1_peak"),
      round(col("n_silent").cast("double") / nSamp, 6).alias("silence_share"),
      round(col("n_clipped").cast("double") / nSamp, 6).alias("clipped_share"))
      .withColumn("pass_level",
        col("decoded") && col("ch0_rms") >= LevelMinRms &&
          (col("n_channels") < 2 || col("ch1_rms") >= LevelMinRms))
      .withColumn("pass_silence",
        col("decoded") && col("silence_share") <= SilenceMaxShare)
      .withColumn("pass_clip",
        col("decoded") && col("clipped_share") <= ClipMaxShare)
      .withColumn("pass",
        col("pass_level") && col("pass_silence") && col("pass_clip"))
  }

  /** Frequency bins probed by [[wavSpectrum]] — k-th DFT bin of the
    * clip's own N-point transform (harmonics 1/2/4/8 of the clip length),
    * shared with the oracle twin. */
  val SpectrumBins: Seq[Int] = Seq(1, 2, 4, 8)

  /** Audio frequency-domain probe over the REAL decode: Goertzel-style
    * single-bin DFT energy of channel 0 at the fixed [[SpectrumBins]] —
    * the dominant-bin signal a music/speech/noise gate needs next to
    * [[wavGate]]'s time-domain rules. Per clip and bin k:
    * `p_k = (Σxᵢ·cos(2πki/N)/N)² + (Σxᵢ·sin(2πki/N)/N)²` with
    * `xᵢ = sample/32768` — each sum accumulated in ascending-i order, so
    * the oracle's left-fold `list_reduce` reproduces the doubles
    * bit-for-bit (normalized |x|≤1 keeps libm cos/sin ulps ~1e-14, far
    * under the 6-dp round). The dominant bin and its share compare at
    * ROUNDED powers (first-match-wins on ties → smallest k), so the
    * argmax is bit-stable cross-engine. Samples die in the decode stage
    * ([[wavFeatures]] altitude); only 8 doubles per clip leave.
    * Undecodable payloads → `decoded=false` zero rows (bin 0, share 0).
    */
  def wavSpectrum(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val bins = SpectrumBins.toArray
    val dft = media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          WavCodec.decode(payload) match {
            case Some((_, nCh, _, samples)) if nCh >= 1 =>
              val nFr = samples.length / nCh
              val cs = new Array[Double](bins.length)
              val ss = new Array[Double](bins.length)
              var i = 0
              while (i < nFr) {
                val x = samples(i * nCh) / 32768.0
                var b = 0
                while (b < bins.length) {
                  val th = 2.0 * math.Pi * bins(b) * i / nFr
                  cs(b) += x * Math.cos(th)
                  ss(b) += x * Math.sin(th)
                  b += 1
                }
                i += 1
              }
              (id, true, nFr.toLong,
                cs(0), ss(0), cs(1), ss(1), cs(2), ss(2), cs(3), ss(3))
            case _ =>
              (id, false, 0L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
          }
        }
      }
      .toDF("media_id", "decoded", "n_frames",
        "c1", "s1", "c2", "s2", "c4", "s4", "c8", "s8")
    val nf = greatest(col("n_frames"), lit(1L))
    def power(c: String, s: String) =
      round((col(c) / nf) * (col(c) / nf) + (col(s) / nf) * (col(s) / nf), 6)
    val pw = dft.select(
      col("media_id"), col("decoded"), col("n_frames"),
      power("c1", "s1").alias("p1"), power("c2", "s2").alias("p2"),
      power("c4", "s4").alias("p4"), power("c8", "s8").alias("p8"))
    val total =
      col("p1") + col("p2") + col("p4") + col("p8")
    val dom = greatest(col("p1"), col("p2"), col("p4"), col("p8"))
    pw.select(
      col("media_id"), col("decoded"), col("n_frames"),
      col("p1"), col("p2"), col("p4"), col("p8"),
      when(!col("decoded"), 0)
        .when(col("p1") >= col("p2") && col("p1") >= col("p4") &&
          col("p1") >= col("p8"), 1)
        .when(col("p2") >= col("p4") && col("p2") >= col("p8"), 2)
        .when(col("p4") >= col("p8"), 4)
        .otherwise(8).alias("dominant_bin"),
      round(when(col("decoded") && total > 0.0, dom / total)
        .otherwise(0.0), 6).alias("dominant_share"))
  }

  /** Synthetic WAV media frame: one REAL RIFF/WAVE payload per document
    * id, encoded per partition (bytes never shuffled), sample content the
    * [[WavCodec.sampleOf]] formula — every downstream decoded-sample
    * statistic has a closed-form oracle.
    */
  def syntheticWavMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val payload = WavCodec.syntheticWav(id)
          (id, "audio", payload, WavCodec.rateOf(id),
            WavCodec.framesOf(id).toLong * 1000 / WavCodec.rateOf(id))
        }
      }
      .toDF("media_id", "kind", "payload", "rate", "dur")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(
          lit("wav").alias("format"),
          lit(null).cast(IntegerType).alias("width_px"),
          lit(null).cast(IntegerType).alias("height_px"),
          col("rate").alias("sample_rate"),
          col("dur").alias("duration_ms")).alias("meta"))
  }

  /** WAV media for the oracle harness (see [[syntheticWavMedia]]). */
  def wavMedia(spark: SparkSession, sfDir: String): DataFrame =
    // Deliberately NOT mediaSeedIds: `AudioSystem.getAudioInputStream`
    // performs a synchronized provider lookup per call, so fanning the
    // WAV decode across 32 threads buys lock contention, not speedup —
    // measured +0.3 s per wav query at sf0.1 vs the single-task scan.
    syntheticWavMedia(graft.harness.StandIn.table(spark, sfDir, "documents"))

  /** Frame sampler contract: bytes → iterator of frame payloads. */
  trait FrameSampler extends Serializable {
    def frames(payload: Array[Byte]): Iterator[Array[Byte]]
  }

  /** STUB SAMPLER — fake "video" decode: fixed-size byte windows with an
    * every-Nth stride. The JDK ships no video codec (unlike images, where
    * [[ImageCodec]] is real), so this remains the one declared stand-in;
    * real frame decoding drops in behind the same trait.
    */
  final class FixedSizeFrameSampler(frameBytes: Int, everyN: Int)
      extends FrameSampler {
    def frames(payload: Array[Byte]): Iterator[Array[Byte]] =
      payload.grouped(frameBytes).zipWithIndex
        .collect { case (f, i) if i % everyN == 0 => f }
  }

  /** The batch-decode stage: per-partition imperative iteration (the
    * deliberate `mapPartitions` in this engine — a codec is not an
    * expression). The extractor is instantiated once per partition;
    * rows stream through without materializing the partition.
    */
  def extractFeatures(
      media: DataFrame,
      extractor: FeatureExtractor = ByteHistogramExtractor): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val typed: Dataset[(Long, Array[Byte])] = media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
    typed.mapPartitions { rows =>
      rows.map { case (id, payload) => (id, extractor.extract(payload)) }
    }.toDF("media_id", "features")
  }

  /** The frame-sampling stage: one input row fans out to its sampled
    * frames, each re-wrapped as an opaque payload row.
    */
  def sampleFrames(
      media: DataFrame,
      sampler: FrameSampler): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          sampler.frames(payload).zipWithIndex.map { case (f, i) =>
            (id, i, f, f.length)
          }
        }
      }.toDF("media_id", "frame_idx", "frame_payload", "frame_bytes")
  }

  /** Stand-in pipeline for the oracle harness: documents → payloads →
    * metadata. (Feature/frame stages have no SQL twin — their decode is
    * imperative — so they are covered by unit tests and a rows-only query.)
    */
  def documentMedia(spark: SparkSession, sfDir: String): DataFrame =
    fromDocuments(graft.harness.StandIn.table(spark, sfDir, "documents"))

  /** Real-PNG media for the oracle harness: one deterministic PNG per
    * document id (see [[syntheticPngMedia]]).
    */
  def pngMedia(spark: SparkSession, sfDir: String): DataFrame =
    syntheticPngMedia(mediaSeedIds(spark, sfDir))

  /** Per-channel-mean drift tolerance for the JPEG round-trip contract.
    * JPEG quantization preserves each 8×8 block's DC coefficient to within
    * a few code units, so the IMAGE mean moves by single intensity units
    * even though individual pixels of a high-frequency pattern move a lot:
    * measured max drift over the full 5000-id synthetic family is 5.46
    * (worst channel, default-quality JDK encoder — chroma subsampling
    * makes blue the loosest). Pinned at 8 with margin for encoder-table
    * differences across JDK builds; a real decode failure (wrong image,
    * wrong dims, channel swap) lands tens of units out, far past the gate.
    */
  val JpegMeanTol = 8.0

  /** Synthetic JPEG media frame ([[ImageCodec.syntheticJpeg]] formula),
    * encoded per partition like the PNG twin.
    */
  def syntheticJpegMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val payload = ImageCodec.syntheticJpeg(id)
          val w = (8 + id % 9).toInt
          val h = (8 + (id / 9) % 9).toInt
          (id, "image", payload, ("jpeg", w, h))
        }
      }
      .toDF("media_id", "kind", "payload", "m")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(
          col("m._1").alias("format"),
          col("m._2").alias("width_px"),
          col("m._3").alias("height_px"),
          lit(null).cast(IntegerType).alias("sample_rate"),
          lit(null).cast(LongType).alias("duration_ms")).alias("meta"))
  }

  /** The LOSSY-round-trip contract: decode real JPEG payloads through
    * [[decodeImageStats]] (the identical stage the PNG family uses — this
    * query is the evidence that stage survives heterogeneous real blobs)
    * and pin (a) container dims + pixel count EXACTLY and (b) per-channel
    * means within [[JpegMeanTol]] of the closed-form formula means — the
    * bounded-error-boolean pattern of the engine's sketch audits. The
    * formula means are re-derived IN-ENGINE as a pure expression over the
    * (id, x, y) grid, so the comparison needs no second decode and no
    * join; the oracle knows only the formula and pins every boolean TRUE.
    */
  def jpegDecodeContract(
      media: DataFrame,
      tol: Double = JpegMeanTol): DataFrame = {
    val stats = decodeImageStats(media)
    val w = expr("CAST(8 + media_id % 9 AS INT)")
    val h = expr("CAST(8 + (media_id div 9) % 9 AS INT)")
    // Σ over the w×h grid of (id·a + x·bx + y·by) mod 256, one aggregate
    // over a ≤256-slot sequence per row — all inside whole-stage codegen.
    def formulaSum(a: Int, bx: Int, by: Int): Column =
      aggregate(
        sequence(lit(0), w * h - 1),
        lit(0L),
        (acc, k) => acc +
          pmod(col("media_id") * a + pmod(k, w) * bx +
            floor(k / w).cast("long") * by, lit(256)))
    // greatest(n_px, 1): an undecoded row has n_px = 0 and must yield
    // ok = false, not an ANSI divide-by-zero.
    def meanOk(sum: Column, f: Column): Column =
      col("decoded") &&
        abs(sum.cast("double") / greatest(col("n_px"), lit(1L)) -
          f.cast("double") / greatest(col("n_px"), lit(1L))) <= tol
    stats.select(
      col("media_id"), col("decoded"), col("width_px"), col("height_px"),
      col("n_px"),
      meanOk(col("r_sum"), formulaSum(31, 7, 13)).alias("r_ok"),
      meanOk(col("g_sum"), formulaSum(17, 11, 5)).alias("g_ok"),
      meanOk(col("b_sum"), formulaSum(23, 3, 19)).alias("b_ok"))
  }

  /** JPEG media for the oracle harness (see [[syntheticJpegMedia]]). */
  def jpegMedia(spark: SparkSession, sfDir: String): DataFrame =
    syntheticJpegMedia(mediaSeedIds(spark, sfDir))
}
