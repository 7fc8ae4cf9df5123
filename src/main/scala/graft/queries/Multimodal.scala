package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.harness.StandIn
import graft.ops.{AlertLifecycle, AlertRules, Aggregates, Bpe, Curation, Dedup, Multimodal, Parse, Profile, Sessionize, Similarity, TextAnalysis, TextRules}
import graft.queries.QueryShared._

/** Multimodal family: PNG/JPEG/GIF/WAV real codecs, header sniffs, gates, pHash dedup, frame sampling, and feature extraction.
  *
  * Registry contract: [[queries]] and [[oracleSql]] fold into
  * [[graft.SparkEntry]]; keys must stay globally unique across the
  * Queries* objects (asserted in QueryRegistrySpec).
  */
object QueriesMultimodal {

  // Frame-sampler parameters shared by the query and its oracle twin.
  private val FrameBytes = 32

  private val FrameEveryN = 3

  // Pixel-formula CTEs shared by the real-decode oracle twins — MUST stay
  // in lockstep with Multimodal.ImageCodec.syntheticPng. Sequential
  // unnests (xs then px) expand the w×h pixel grid per document; `ch`
  // carries the three channel values of every pixel.
  private val pngPixelCtesSql =
    """d AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 9 AS h
      |  FROM documents
      |), xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
      |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
      |ch AS (
      |  SELECT doc_id, w, h,
      |         (doc_id * 31 + x * 7 + y * 13) % 256 AS r,
      |         (doc_id * 17 + x * 11 + y * 5) % 256 AS g,
      |         (doc_id * 23 + x * 3 + y * 19) % 256 AS b
      |  FROM px
      |)""".stripMargin

  // Corpus-dashboard CTE fragments (need `toks` in scope) — shared by the
  // standalone twins and the corpus_report composite so they cannot drift.

  // Perceptual-hash oracle CTEs — MUST stay in lockstep with
  // Multimodal.phash. Integer luma of the formula pixel at (sx, sy),
  // as a SQL fragment (each channel mod-256, summed, //3 — the same
  // integer arithmetic the Scala stage runs on the DECODED pixels).
  private def phashLumaSql(sx: String, sy: String): String =
    s"((doc_id * 31 + ($sx) * 7 + ($sy) * 13) % 256 + " +
      s"(doc_id * 17 + ($sx) * 11 + ($sy) * 5) % 256 + " +
      s"(doc_id * 23 + ($sx) * 3 + ($sy) * 19) % 256) // 3"

  // The 6×10 sampling grid per document, aHash bit threshold via a
  // per-doc window mean, dHash bits via 11-column adjacent comparisons;
  // both assembled into 60-bit BIGINTs (bit 59 max — constructible on
  // both engines, unlike bit 63).
  private lazy val phashCtesSql = {
    val aLuma = phashLumaSql("gx * w // 10", "gy * h // 6")
    val dLeft = phashLumaSql("gx * w // 11", "gy * h // 6")
    val dRight = phashLumaSql("(gx + 1) * w // 11", "gy * h // 6")
    s"""pd AS (
       |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 9 AS h
       |  FROM documents
       |), pgx AS (SELECT doc_id, w, h, unnest(range(0, 10)) AS gx FROM pd),
       |pg AS (SELECT doc_id, w, h, gx, unnest(range(0, 6)) AS gy FROM pgx),
       |asamp AS (
       |  SELECT doc_id, gy * 10 + gx AS pos, $aLuma AS luma FROM pg
       |), ah AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN luma > m
       |           THEN (CAST(1 AS BIGINT) << CAST(pos AS INT))
       |           ELSE 0 END) AS BIGINT) AS ahash
       |  FROM (SELECT *, sum(luma) OVER (PARTITION BY doc_id) / 60.0 AS m
       |        FROM asamp) t
       |  GROUP BY doc_id
       |), dh AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN ($dRight) > ($dLeft)
       |           THEN (CAST(1 AS BIGINT) << CAST(gy * 10 + gx AS INT))
       |           ELSE 0 END) AS BIGINT) AS dhash
       |  FROM pg GROUP BY doc_id
       |)""".stripMargin
  }

  /** The REAL-decode feature stage with a driver-sortable shape: one
    * double column per luminance-histogram bin, computed from pixels that
    * went through an actual PNG encode→ImageIO decode round-trip.
    * float→double widening is exact, and DuckDB reproduces the float
    * arithmetic with REAL casts over the synthetic pixel formula, so the
    * codec path is oracle-checked bit-for-bit.
    */
  private def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    val feats = Multimodal.extractFeatures(
      Multimodal.pngMedia(s, dir), Multimodal.ImageLumaExtractor)
    feats.select(col("media_id") +: (0 until 16).map(j =>
      element_at(col("features"), j + 1).cast("double").alias(s"f$j")): _*)
  }

  /** Exact-integer face of the real decode stage: dims, pixel count, and
    * per-channel sums as longs (bit-stable, no float accumulation), plus
    * the derived double means rounded once.
    */
  private def mmDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImageStats(Multimodal.pngMedia(s, dir))
      .select(col("media_id"), col("decoded"), col("width_px"),
        col("height_px"), col("n_px"), col("r_sum"), col("g_sum"),
        col("b_sum"),
        round(col("r_sum").cast("double") / col("n_px"), 6).alias("r_mean"),
        round(col("g_sum").cast("double") / col("n_px"), 6).alias("g_mean"),
        round(col("b_sum").cast("double") / col("n_px"), 6).alias("b_mean"))

  /** The no-codec fallback path (mapPartitions byte histogram over opaque
    * text payloads) with the same sortable shape.
    */
  private def mmFeaturesBytes(s: SparkSession, dir: String): DataFrame = {
    val feats = Multimodal.extractFeatures(Multimodal.documentMedia(s, dir))
    feats.select(col("media_id") +: (0 until 16).map(j =>
      element_at(col("features"), j + 1).cast("double").alias(s"f$j")): _*)
  }

  /** The frame-sampling stage, frames compared as uppercase hex (DuckDB
    * cannot hash a BLOB, and a sliced frame need not be valid UTF-8).
    */
  private def mmFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.documentMedia(s, dir),
      new Multimodal.FixedSizeFrameSampler(FrameBytes, FrameEveryN))
      .select(col("media_id"), col("frame_idx"), col("frame_bytes"),
        hex(col("frame_payload")).alias("frame_hex"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_metadata"         -> ((s, d) =>
      Multimodal.metadata(Multimodal.documentMedia(s, d))),

    // REAL image decode: deterministic PNGs (pixel values a pure formula
    // of media_id) encoded with the JDK codec, decoded back with ImageIO,
    // and the luminance histogram of the DECODED pixels emitted as double
    // columns. PNG is lossless, so DuckDB re-derives the identical
    // histogram from the formula — a full hash oracle over a real codec
    // round-trip.
    "mm_features"         -> ((s, d) => mmFeatures(s, d)),

    // Exact integer statistics (dims + per-channel sums) of the decoded
    // pixels — the bit-exact face of the decode stage.
    "mm_decode"           -> ((s, d) => mmDecode(s, d)),

    // PNG IHDR dims parsed from the real encoded bytes WITHOUT decode —
    // pure codegen'd binary projection; oracle = the formula dims.
    "mm_png_header"       -> ((s, d) =>
      Multimodal.pngHeaderDims(Multimodal.pngMedia(s, d))),

    // The no-codec FALLBACK path (byte histogram over opaque payloads),
    // kept oracle-green via the hex-string nibble twin.
    "mm_features_bytes"   -> ((s, d) => mmFeaturesBytes(s, d)),

    "mm_frames"           -> ((s, d) => mmFrames(s, d)),

    // SECOND real modality: canonical-header RIFF/WAVE payloads whose PCM
    // samples are a closed-form formula of the id. Header fields parse as
    // a pure codegen'd LE binary projection (no decode)...
    "mm_wav_header"       -> ((s, d) =>
      Multimodal.wavHeaderInfo(Multimodal.wavMedia(s, d))),

    // ...and the decode stage runs the REAL JDK AudioSystem reader,
    // emitting exact integer sample stats; PCM is lossless, so the oracle
    // re-derives identical longs from the formula without seeing a byte.
    "mm_wav_decode"       -> ((s, d) =>
      Multimodal.decodeWavStats(Multimodal.wavMedia(s, d))),

    // LOSSY round-trip contract: the same pixel formula through the JDK's
    // real JPEG encoder and the same ImageIO decode stage as the PNG
    // family; dims + pixel count pinned exactly, channel means pinned as
    // bounded-drift booleans (the sketch-audit pattern).
    "mm_jpeg_decode"      -> ((s, d) =>
      Multimodal.jpegDecodeContract(Multimodal.jpegMedia(s, d))),

    // Audio features over the real decode: per-channel zero-crossings +
    // energy, exact integers — the silence/noise gate signals.
    "mm_wav_features"     -> ((s, d) =>
      Multimodal.wavFeatures(Multimodal.wavMedia(s, d))),

    // REAL multi-frame container: animated GIFs (indexed gray palette →
    // lossless) decoded frame-by-frame through ImageIO's sequence reader;
    // one exact stat row per frame (Multimodal.GifCodec scaladoc).
    "mm_gif_frames"       -> ((s, d) =>
      Multimodal.decodeGifFrameStats(Multimodal.gifMedia(s, d))),

    // Temporal motion over the real multi-frame decode: exact |dGray|
    // across consecutive frames - the still-vs-motion video-gate signal
    // (Multimodal.gifMotionStats).
    "mm_gif_motion"       -> ((s, d) =>
      Multimodal.gifMotionStats(Multimodal.gifMedia(s, d))),

    // Audio quality gate over the real decode: per-channel RMS/peak +
    // silence/clip shares from exact in-stage integer counters, pass
    // booleans at the documented thresholds (Multimodal.SilenceAmp etc.).
    "mm_wav_gate"         -> ((s, d) =>
      Multimodal.wavGate(Multimodal.wavMedia(s, d))),

    // Frequency-domain probe over the real decode: single-bin DFT powers
    // at the fixed SpectrumBins + rounded-argmax dominant bin — the
    // music/speech/noise signal completing wavGate's time-domain rules.
    "mm_wav_spectrum"     -> ((s, d) =>
      Multimodal.wavSpectrum(Multimodal.wavMedia(s, d))),

    // Perceptual hashes over the REAL decode (60-bit aHash + dHash from
    // nearest-neighbor luma sampling) — the image-level dedup signature;
    // PNG losslessness makes both hashes formula-derivable by the oracle.
    "mm_phash"            -> ((s, d) =>
      Multimodal.phash(Multimodal.pngMedia(s, d))),

    // Image near-dup pairs: aHash through the SAME banded Hamming machine
    // as dedup_simhash_pairs (band equi-join + exact verify, no product).
    "mm_phash_pairs"      -> ((s, d) =>
      Multimodal.phashPairs(Multimodal.pngMedia(s, d))),

    // Image near-dup clusters: CC over the banded Hamming pair graph -
    // the image-dedup pipeline end to end (Multimodal.phashClusters).
    "mm_phash_clusters"   -> ((s, d) =>
      Multimodal.phashClusters(Multimodal.pngMedia(s, d),
        universeIds = Some(StandIn.documents(s, d).select(col("doc_id"))))),

    // Sampled-bucket pair audit: the bounded contract that adjudicates
    // the image near-dup machine at sf10, where the full ~1B-pair graph
    // is oracle-infeasible (Multimodal.phashBandAudit scaladoc).
    "mm_phash_band_audit" -> ((s, d) =>
      Multimodal.phashBandAudit(Multimodal.pngMedia(s, d))),

    // Image quality gate over the real decode: dims / integer-exact
    // aspect / mean-RGB exposure rules from the in-stage pixel sums, pass
    // booleans at documented thresholds (the LAION-screen shape).
    "mm_image_gate"       -> ((s, d) =>
      Multimodal.imageGate(Multimodal.pngMedia(s, d))),
  )

  def oracleSql: Map[String, String] = Map(
    // Payload bytes are the documents' UTF-8 text, so byte-prefix sniffs
    // reduce to string prefixes (0x89/0xff can never begin valid UTF-8).
    // coalesce(text,'') mirrors fromDocuments' NULL ≡ empty-payload contract.
    "mm_metadata" ->
      """SELECT doc_id AS media_id,
        |       'text-blob' AS kind,
        |       CAST(octet_length(encode(coalesce(text, ''))) AS INT) AS n_bytes,
        |       sha256(coalesce(text, '')) AS payload_sha256,
        |       CASE WHEN starts_with(coalesce(text, ''), 'RIFF') THEN 'riff-wav'
        |            ELSE 'unknown' END AS sniffed_format
        |FROM documents""".stripMargin,

    // Shared pixel-formula CTEs for the real-decode twins: the synthetic
    // PNGs' pixels are a pure modular formula of (doc_id, x, y) and PNG is
    // lossless, so DuckDB reconstructs exactly what ImageIO decodes —
    // without ever seeing the bytes. Sequential unnests (xs then px) build
    // the w×h grid per document.
    "mm_decode" ->
      s"""WITH $pngPixelCtesSql
         |SELECT doc_id AS media_id, TRUE AS decoded,
         |       CAST(max(w) AS INT) AS width_px,
         |       CAST(max(h) AS INT) AS height_px,
         |       CAST(max(w) * max(h) AS BIGINT) AS n_px,
         |       CAST(sum(r) AS BIGINT) AS r_sum,
         |       CAST(sum(g) AS BIGINT) AS g_sum,
         |       CAST(sum(b) AS BIGINT) AS b_sum,
         |       round(CAST(sum(r) AS DOUBLE) / (max(w) * max(h)), 6) AS r_mean,
         |       round(CAST(sum(g) AS DOUBLE) / (max(w) * max(h)), 6) AS g_mean,
         |       round(CAST(sum(b) AS DOUBLE) / (max(w) * max(h)), 6) AS b_mean
         |FROM ch GROUP BY doc_id""".stripMargin,

    // ImageLumaExtractor twin: 16-bin histogram of integer luminance
    // (r+g+b)//3 over the decoded pixels, L1-normalized with float32
    // division (REAL casts — both engines IEEE single-precision, then
    // exact double widening).
    "mm_features" -> {
      val bins = (0 until 16).map { j =>
        s"""CAST(CAST(sum(CASE WHEN (r + g + b) // 3 // 16 = $j
           |  THEN 1 ELSE 0 END) AS REAL)
           |  / CAST(max(w) * max(h) AS REAL) AS DOUBLE) AS f$j""".stripMargin
      }.mkString(",\n")
      s"""WITH $pngPixelCtesSql
         |SELECT doc_id AS media_id,
         |$bins
         |FROM ch GROUP BY doc_id""".stripMargin
    },

    // pngHeaderDims twin: the Spark side parses IHDR width/height out of
    // the REAL encoded bytes; the oracle knows only the formula dims —
    // a hash match proves the payloads are genuine PNGs of those dims.
    "mm_png_header" ->
      """SELECT doc_id AS media_id,
        |       CAST(8 + doc_id % 9 AS INT) AS width_px,
        |       CAST(8 + (doc_id // 9) % 9 AS INT) AS height_px
        |FROM documents""".stripMargin,

    // ByteHistogramExtractor twin (the no-codec fallback): bin j of a byte
    // is its upper nibble, which in hex(payload) is the character at odd
    // positions — so the histogram is a per-hex-digit count over those
    // characters. REAL casts reproduce the extractor's float32 division
    // exactly (both engines do IEEE-754 single-precision divide; the
    // double output is then the exact widening on both sides —
    // bit-for-bit, no rounding).
    "mm_features_bytes" -> {
      val bins = "0123456789ABCDEF".zipWithIndex.map { case (c, j) =>
        s"""CAST(CAST(len(list_filter(hi, c -> c = '$c')) AS REAL)
           |  / CAST(greatest(n, 1) AS REAL) AS DOUBLE) AS f$j""".stripMargin
      }.mkString(",\n")
      s"""WITH hx AS (
         |  SELECT doc_id, hex(encode(coalesce(text, ''))) AS h,
         |         octet_length(encode(coalesce(text, ''))) AS n
         |  FROM documents
         |), nib AS (
         |  SELECT doc_id, n,
         |         list_transform(range(0, n),
         |           i -> substr(h, CAST(2*i+1 AS INT), 1)) AS hi
         |  FROM hx
         |)
         |SELECT doc_id AS media_id,
         |$bins
         |FROM nib""".stripMargin
    },

    // WAV header twin (Multimodal.wavHeaderInfo): the Spark side parses
    // channels/rate/bits/data-size out of the REAL little-endian RIFF
    // header bytes; the oracle knows only the WavCodec formula — a hash
    // match proves the payloads are genuine canonical-header WAVs.
    "mm_wav_header" ->
      """SELECT doc_id AS media_id,
        |       CAST(1 + doc_id % 2 AS INT) AS n_channels,
        |       CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
        |       CAST(16 AS INT) AS bits,
        |       CAST(64 + doc_id % 33 AS BIGINT) AS n_frames,
        |       CAST((64 + doc_id % 33) * 1000
        |            // (8000 + (doc_id % 4) * 4000) AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,

    // WAV decode twin (Multimodal.decodeWavStats): PCM is lossless, so the
    // AudioSystem-decoded per-channel sums / min / max equal the closed-form
    // sample formula re-derived here over the (frame, channel) grid —
    // channel c of frame i is (id·31 + i·7 + c·13) mod 65536 − 32768,
    // mono docs have no channel 1 (sum pinned 0, extrema coalesce away).
    "mm_wav_decode" ->
      """WITH wd AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS nch,
        |         8000 + (doc_id % 4) * 4000 AS rate,
        |         64 + doc_id % 33 AS nf
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, nch, rate, nf, unnest(range(0, nf)) AS i FROM wd
        |), smp AS (
        |  SELECT doc_id, nch, rate, nf,
        |         (doc_id * 31 + i * 7) % 65536 - 32768 AS s0,
        |         CASE WHEN nch = 2
        |              THEN (doc_id * 31 + i * 7 + 13) % 65536 - 32768
        |         END AS s1
        |  FROM fr
        |)
        |SELECT doc_id AS media_id, TRUE AS decoded,
        |       CAST(max(rate) AS INT) AS sample_rate,
        |       CAST(max(nch) AS INT) AS n_channels,
        |       CAST(max(nf) AS BIGINT) AS n_frames,
        |       CAST(sum(s0) AS BIGINT) AS ch0_sum,
        |       CAST(coalesce(sum(s1), 0) AS BIGINT) AS ch1_sum,
        |       CAST(least(min(s0), coalesce(min(s1), 32767)) AS INT) AS v_min,
        |       CAST(greatest(max(s0), coalesce(max(s1), -32768)) AS INT) AS v_max
        |FROM smp GROUP BY doc_id""".stripMargin,

    // WAV feature twin (Multimodal.wavFeatures): zero-crossings count sign
    // flips between consecutive frames per channel (lag window); energy is
    // Σs² — all exact integers from the sample formula. Mono docs have no
    // channel 1: its zero-sum CASE and coalesced energy pin 0, matching
    // the decode stage's zeroed stereo slots.
    "mm_wav_features" ->
      """WITH wd AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS nch, 64 + doc_id % 33 AS nf
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, nch, nf, unnest(range(0, nf)) AS i FROM wd
        |), smp AS (
        |  SELECT doc_id, nch, nf, i,
        |         (doc_id * 31 + i * 7) % 65536 - 32768 AS s0,
        |         CASE WHEN nch = 2
        |              THEN (doc_id * 31 + i * 7 + 13) % 65536 - 32768
        |         END AS s1
        |  FROM fr
        |), lagged AS (
        |  SELECT doc_id, nf, s0, s1,
        |         lag(s0) OVER (PARTITION BY doc_id ORDER BY i) AS p0,
        |         lag(s1) OVER (PARTITION BY doc_id ORDER BY i) AS p1
        |  FROM smp
        |)
        |SELECT doc_id AS media_id, TRUE AS decoded,
        |       CAST(max(nf) AS BIGINT) AS n_frames,
        |       CAST(sum(CASE WHEN p0 IS NOT NULL AND (p0 < 0) <> (s0 < 0)
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |         AS ch0_zero_crossings,
        |       CAST(sum(CASE WHEN p1 IS NOT NULL AND (p1 < 0) <> (s1 < 0)
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |         AS ch1_zero_crossings,
        |       CAST(sum(s0 * s0) AS BIGINT) AS ch0_energy,
        |       CAST(coalesce(sum(s1 * s1), 0) AS BIGINT) AS ch1_energy
        |FROM lagged GROUP BY doc_id""".stripMargin,

    // Audio-gate twin (Multimodal.wavGate): exact integer counters from
    // the sample formula, double division + 6-dp rounds staged exactly as
    // the engine stages them, thresholds as DOUBLE casts so boundary
    // comparisons agree bit-for-bit.
    "mm_wav_gate" ->
      s"""WITH wd AS (
         |  SELECT doc_id, 1 + doc_id % 2 AS nch, 64 + doc_id % 33 AS nf
         |  FROM documents
         |), fr AS (
         |  SELECT doc_id, nch, nf, unnest(range(0, nf)) AS i FROM wd
         |), smp AS (
         |  SELECT doc_id, nch, nf,
         |         (doc_id * 31 + i * 7) % 65536 - 32768 AS s0,
         |         CASE WHEN nch = 2
         |              THEN (doc_id * 31 + i * 7 + 13) % 65536 - 32768
         |         END AS s1
         |  FROM fr
         |), wagg AS (
         |  SELECT doc_id, max(nch) AS nch, max(nf) AS nf,
         |         sum(s0 * s0) AS sq0, coalesce(sum(s1 * s1), 0) AS sq1,
         |         max(abs(s0)) AS peak0, coalesce(max(abs(s1)), 0) AS peak1,
         |         sum(CASE WHEN abs(s0) < ${Multimodal.SilenceAmp}
         |               THEN 1 ELSE 0 END)
         |           + sum(CASE WHEN abs(s1) < ${Multimodal.SilenceAmp}
         |               THEN 1 ELSE 0 END) AS silent,
         |         sum(CASE WHEN s0 IN (32767, -32768) THEN 1 ELSE 0 END)
         |           + sum(CASE WHEN s1 IN (32767, -32768) THEN 1 ELSE 0 END)
         |           AS clipped
         |  FROM smp GROUP BY doc_id
         |), wg AS (
         |  SELECT doc_id, nch, nf,
         |         round(sqrt(sq0 / nf), 6) AS ch0_rms,
         |         round(sqrt(sq1 / nf), 6) AS ch1_rms,
         |         peak0, peak1,
         |         round(silent / (nf * nch), 6) AS silence_share,
         |         round(clipped / (nf * nch), 6) AS clipped_share
         |  FROM wagg
         |), wb AS (
         |  SELECT *,
         |         (ch0_rms >= CAST(${Multimodal.LevelMinRms} AS DOUBLE)
         |           AND (nch < 2
         |             OR ch1_rms >= CAST(${Multimodal.LevelMinRms} AS DOUBLE)))
         |           AS pass_level,
         |         (silence_share <= CAST(${Multimodal.SilenceMaxShare}
         |            AS DOUBLE)) AS pass_silence,
         |         (clipped_share <= CAST(${Multimodal.ClipMaxShare}
         |            AS DOUBLE)) AS pass_clip
         |  FROM wg
         |)
         |SELECT doc_id AS media_id, TRUE AS decoded,
         |       CAST(nch AS INT) AS n_channels, CAST(nf AS BIGINT) AS n_frames,
         |       ch0_rms, ch1_rms,
         |       CAST(peak0 AS INT) AS ch0_peak, CAST(peak1 AS INT) AS ch1_peak,
         |       silence_share, clipped_share,
         |       pass_level, pass_silence, pass_clip,
         |       (pass_level AND pass_silence AND pass_clip) AS pass
         |FROM wb""".stripMargin,

    // Spectrum twin (Multimodal.wavSpectrum): the same single-bin DFT
    // sums re-derived from the sample formula, folded LEFT in ascending-i
    // order (list_reduce ≡ the kernel's i-loop, so the doubles match
    // bit-for-bit); powers rounded 6-dp before the argmax, first-match
    // CASE = smallest bin on ties — the kernel's exact tiebreak.
    "mm_wav_spectrum" -> {
      val dftCols = Multimodal.SpectrumBins.map { k =>
        def fold(fn: String) =
          s"""list_reduce(list_prepend(0.0, list_transform(range(0, nf),
             |    i -> (((doc_id * 31 + i * 7) % 65536 - 32768) / 32768.0)
             |         * $fn(2.0 * pi() * $k * i / nf))),
             |    (a, b) -> a + b)""".stripMargin
        s"${fold("cos")} AS c$k,\n${fold("sin")} AS s$k"
      }.mkString(",\n")
      val pwCols = Multimodal.SpectrumBins.map { k =>
        s"round((c$k/nf)*(c$k/nf) + (s$k/nf)*(s$k/nf), 6) AS p$k"
      }.mkString(",\n         ")
      s"""WITH wd AS (
         |  SELECT doc_id, 64 + doc_id % 33 AS nf FROM documents
         |), dft AS (
         |  SELECT doc_id, nf,
         |$dftCols
         |  FROM wd
         |), pw AS (
         |  SELECT doc_id, nf,
         |         $pwCols
         |  FROM dft
         |)
         |SELECT doc_id AS media_id, TRUE AS decoded,
         |       CAST(nf AS BIGINT) AS n_frames,
         |       p1, p2, p4, p8,
         |       CASE WHEN p1 >= p2 AND p1 >= p4 AND p1 >= p8 THEN 1
         |            WHEN p2 >= p4 AND p2 >= p8 THEN 2
         |            WHEN p4 >= p8 THEN 4 ELSE 8 END AS dominant_bin,
         |       round(CASE WHEN p1 + p2 + p4 + p8 > 0.0
         |                  THEN greatest(p1, p2, p4, p8)
         |                       / (p1 + p2 + p4 + p8)
         |                  ELSE 0.0 END, 6) AS dominant_share
         |FROM pw""".stripMargin
    },

    // Image-gate twin (Multimodal.imageGate): same thresholds from the
    // shared constants, aspect as the same integer cross-multiplication,
    // exposure compared at the same rounded mean — all re-derived from
    // the pixel formula; PNG losslessness makes the match exact.
    "mm_image_gate" -> {
      val m = Multimodal
      s"""WITH $pngPixelCtesSql, ist AS (
         |  SELECT doc_id, max(w) AS w, max(h) AS h,
         |         sum(r) + sum(g) + sum(b) AS rgb,
         |         max(w) * max(h) AS n
         |  FROM ch GROUP BY doc_id
         |), ig AS (
         |  SELECT doc_id,
         |         CAST(w AS INT) AS width_px, CAST(h AS INT) AS height_px,
         |         round(rgb / (3.0 * greatest(n, 1)), 6) AS rgb_mean,
         |         (w >= ${m.ImgMinSide} AND h >= ${m.ImgMinSide}) AS ok_dims,
         |         (${m.ImgAspectDen} * greatest(w, h)
         |            <= ${m.ImgAspectNum} * least(w, h)) AS ok_aspect
         |  FROM ist
         |)
         |SELECT doc_id AS media_id, TRUE AS decoded,
         |       width_px, height_px, rgb_mean, ok_dims, ok_aspect,
         |       (rgb_mean >= ${m.ImgMeanMin} AND rgb_mean <= ${m.ImgMeanMax})
         |         AS ok_exposure,
         |       (ok_dims AND ok_aspect
         |        AND rgb_mean >= ${m.ImgMeanMin}
         |        AND rgb_mean <= ${m.ImgMeanMax}) AS pass
         |FROM ig""".stripMargin
    },

    // JPEG contract twin (Multimodal.jpegDecodeContract): the lossy
    // round-trip pins container dims + pixel count exactly and the
    // channel-mean drift as booleans the oracle fixes at TRUE — the same
    // bounded-error-contract shape as the sketch audits.
    "mm_jpeg_decode" ->
      """SELECT doc_id AS media_id, TRUE AS decoded,
        |       CAST(8 + doc_id % 9 AS INT) AS width_px,
        |       CAST(8 + (doc_id // 9) % 9 AS INT) AS height_px,
        |       CAST((8 + doc_id % 9) * (8 + (doc_id // 9) % 9) AS BIGINT)
        |         AS n_px,
        |       TRUE AS r_ok, TRUE AS g_ok, TRUE AS b_ok
        |FROM documents""".stripMargin,

    // Multi-frame container twin (Multimodal.decodeGifFrameStats): the
    // indexed-gray GIF is lossless, so the per-frame decoded stats equal
    // the closed-form gray formula re-derived over the (frame, x, y)
    // grid — the oracle never sees a byte; a hash match proves genuine
    // animated GIFs round-tripped frame by frame.
    "mm_gif_frames" ->
      """WITH gd AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 9 AS h,
        |         2 + doc_id % 4 AS nf
        |  FROM documents
        |), gf AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM gd),
        |gx AS (SELECT doc_id, w, h, f, unnest(range(0, w)) AS x FROM gf),
        |gp AS (SELECT doc_id, w, h, f, x, unnest(range(0, h)) AS y FROM gx),
        |gv AS (
        |  SELECT doc_id, w, h, f,
        |         (doc_id * 31 + f * 41 + x * 7 + y * 13) % 256 AS v
        |  FROM gp
        |)
        |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
        |       TRUE AS decoded,
        |       CAST(max(w) AS INT) AS width_px,
        |       CAST(max(h) AS INT) AS height_px,
        |       CAST(max(w) * max(h) AS BIGINT) AS n_px,
        |       CAST(sum(v) AS BIGINT) AS gray_sum,
        |       CAST(min(v) AS INT) AS gray_min,
        |       CAST(max(v) AS INT) AS gray_max
        |FROM gv GROUP BY doc_id, f""".stripMargin,

    // Perceptual-hash twin (Multimodal.phash): both 60-bit hashes
    // re-derived from the pixel formula alone — a hash match proves the
    // Spark side sampled REAL decoded pixels at the same grid points.
    "mm_phash" ->
      s"""WITH $phashCtesSql
         |SELECT pd.doc_id AS media_id, TRUE AS decoded, ahash, dhash
         |FROM pd JOIN ah ON ah.doc_id = pd.doc_id
         |JOIN dh ON dh.doc_id = pd.doc_id""".stripMargin,

    // Sampled-bucket audit twin (Multimodal.phashBandAudit): the same
    // deterministic affine-scrambled 1-in-20 band-0 bucket draw over the
    // formula-derived aHash (multiply, add the Fibonacci offset, shift
    // 13, then the modulus — the r18 unshifted draw reduced to
    // bv % 100 = 0 and always sampled the degenerate bv=0 bucket), then
    // per-bucket doc membership + verified-pair aggregates. Duplicate
    // groups share one bucket, so a sampled bucket carries its whole
    // pair clique — a closed sub-contract of the pair machine that
    // stays DuckDB-feasible at sf10 (~5% of the non-degenerate pair mass
    // — the scramble excludes the flat bv=0/32767 mega-buckets).
    "mm_phash_band_audit" ->
      s"""WITH $phashCtesSql, sb AS (
         |  SELECT doc_id, ahash, ahash & 32767 AS bv
         |  FROM ah
         |  WHERE (((ahash & 32767) * ${Multimodal.PhashAuditMult}
         |          + ${Multimodal.PhashAuditOffset})
         |         >> ${Multimodal.PhashAuditShift})
         |        % ${Multimodal.PhashAuditMod} = 0
         |), adocs AS (
         |  SELECT bv, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(doc_id) AS BIGINT) AS id_sum
         |  FROM sb GROUP BY bv
         |), apr AS (
         |  SELECT a.bv AS bv, CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(sum(bit_count(xor(a.ahash, b.ahash))) AS BIGINT)
         |           AS hamming_sum,
         |         CAST(sum((a.doc_id * 31 + b.doc_id * 7) % 1000000007)
         |           AS BIGINT) AS pair_digest
         |  FROM sb a JOIN sb b ON a.bv = b.bv AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 8
         |  GROUP BY a.bv
         |)
         |SELECT d.bv, d.n_docs, d.id_sum,
         |       coalesce(p.n_pairs, 0) AS n_pairs,
         |       coalesce(p.hamming_sum, 0) AS hamming_sum,
         |       coalesce(p.pair_digest, 0) AS pair_digest
         |FROM adocs d LEFT JOIN apr p ON p.bv = d.bv""".stripMargin,

    // Image near-dup pairs twin: the aHash through the SAME 4×15-bit
    // band join + exact bit_count verify as dedup_simhash_pairs.
    "mm_phash_pairs" ->
      s"""WITH $phashCtesSql, pbands AS (
         |  SELECT doc_id, ahash, b.band AS band,
         |         (ahash >> CAST(b.band * 15 AS INT)) & 32767 AS bv
         |  FROM ah, (SELECT unnest(range(0, 4)) AS band) b
         |), ppairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pbands a
         |  JOIN pbands b ON a.band = b.band AND a.bv = b.bv
         |              AND a.doc_id < b.doc_id
         |)
         |SELECT p.a_id, p.b_id,
         |       CAST(bit_count(xor(sa.ahash, sb.ahash)) AS INT) AS hamming
         |FROM ppairs p
         |JOIN ah sa ON sa.doc_id = p.a_id
         |JOIN ah sb ON sb.doc_id = p.b_id
         |WHERE bit_count(xor(sa.ahash, sb.ahash)) <= 8""".stripMargin,

    // Image-cluster twin: the mm_phash_pairs CTEs + min-label
    // PROPAGATION with per-round GROUP BY (the pagerank-twin recursion
    // shape, self-loops folding "own label" into the neighbor min so the
    // recursive table is referenced once). NOT the reach-closure form the
    // sparse text/embedding cluster oracles use: reach accumulates
    // Θ(Σ component²) rows, and the sf1.0 image graph is DENSE — 9.9M
    // verified pairs across 10-copy duplicate groups blew the closure
    // past feasibility while this form runs the same 20M-edge round in
    // ~1 s. 20 rounds cover diameter 20 (measured fixpoint at sf1.0 with
    // rounds to spare); an unconverged run CANNOT pass silently — labels
    // still moving ≠ Spark's exact fixpoint, so the hash check goes red.
    // pverified is MATERIALIZED so the decode→ahash→banded join runs
    // once, not once per round.
    "mm_phash_clusters" ->
      s"""WITH RECURSIVE $phashCtesSql, pbands AS (
         |  SELECT doc_id, ahash, b.band AS band,
         |         (ahash >> CAST(b.band * 15 AS INT)) & 32767 AS bv
         |  FROM ah, (SELECT unnest(range(0, 4)) AS band) b
         |), ppairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pbands a
         |  JOIN pbands b ON a.band = b.band AND a.bv = b.bv
         |              AND a.doc_id < b.doc_id
         |), pverified AS MATERIALIZED (
         |  SELECT p.a_id, p.b_id
         |  FROM ppairs p
         |  JOIN ah sa ON sa.doc_id = p.a_id
         |  JOIN ah sb ON sb.doc_id = p.b_id
         |  WHERE bit_count(xor(sa.ahash, sb.ahash)) <= 8
         |), pedges AS (
         |  SELECT a_id, b_id FROM pverified
         |  UNION ALL
         |  SELECT b_id, a_id FROM pverified
         |  UNION ALL
         |  SELECT DISTINCT doc_id AS a_id, doc_id AS b_id FROM documents
         |), plp(it, media_id, label) AS (
         |  SELECT 0, doc_id, doc_id FROM documents
         |  UNION ALL
         |  SELECT it + 1, e.b_id, min(plp.label)
         |  FROM plp JOIN pedges e ON e.a_id = plp.media_id
         |  WHERE it < 20
         |  GROUP BY it + 1, e.b_id
         |)
         |SELECT media_id, label AS cluster_id
         |FROM plp WHERE it = 20""".stripMargin,

    // Motion twin: consecutive-frame |delta| re-derived from the gray
    // formula over the (frame-pair, x, y) grid - lossless round-trip
    // makes the match exact.
    "mm_gif_motion" ->
      """WITH md AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 9 AS h,
        |         2 + doc_id % 4 AS nf
        |  FROM documents
        |), mf AS (SELECT doc_id, w, h, nf,
        |                 unnest(range(0, nf - 1)) AS f FROM md),
        |mx AS (SELECT doc_id, w, h, nf, f, unnest(range(0, w)) AS x FROM mf),
        |mp AS (SELECT doc_id, w, h, nf, f, x, unnest(range(0, h)) AS y
        |       FROM mx),
        |mv AS (
        |  SELECT doc_id, nf,
        |         abs(((doc_id * 31 + (f + 1) * 41 + x * 7 + y * 13) % 256)
        |           - ((doc_id * 31 + f * 41 + x * 7 + y * 13) % 256)) AS dv
        |  FROM mp
        |)
        |SELECT doc_id AS media_id, TRUE AS decoded,
        |       CAST(max(nf) AS INT) AS n_frames,
        |       CAST(sum(dv) AS BIGINT) AS delta_sum,
        |       CAST(count(*) AS BIGINT) AS n_deltas,
        |       round(CAST(sum(dv) AS DOUBLE)
        |             / greatest(count(*), 1), 6) AS mean_abs_delta
        |FROM mv GROUP BY doc_id""".stripMargin,

    // FixedSizeFrameSampler twin: byte windows sliced on the hex string
    // (2 chars/byte — DuckDB has no BLOB substring and a frame need not be
    // valid UTF-8, so frames are compared as uppercase hex on both sides).
    "mm_frames" ->
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
         |         octet_length(encode(coalesce(text, ''))) AS n
         |  FROM documents
         |), fr AS (
         |  SELECT doc_id, hx,
         |         unnest(list_filter(range(0, CAST(ceil(n / $FrameBytes.0) AS BIGINT)),
         |           i -> i % $FrameEveryN = 0)) AS grp
         |  FROM b
         |)
         |SELECT doc_id AS media_id,
         |       CAST(grp // $FrameEveryN AS INT) AS frame_idx,
         |       CAST(octet_length(unhex(substr(hx, CAST(grp*${2 * FrameBytes}+1 AS INT), ${2 * FrameBytes}))) AS INT)
         |         AS frame_bytes,
         |       substr(hx, CAST(grp*${2 * FrameBytes}+1 AS INT), ${2 * FrameBytes}) AS frame_hex
         |FROM fr""".stripMargin,
  )
}
