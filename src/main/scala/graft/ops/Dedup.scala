package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale corpus curation: exact,
  * content-hash, MinHash+LSH, SimHash, and n-gram-Jaccard variants.
  *
  * Design for 100 TB:
  *   - every variant is a hash-partitioned groupBy or a bucket-key equi-join
  *     — there is NO all-pairs/cartesian step anywhere; candidate pairs come
  *     only from LSH band buckets, so cost is O(docs × signature) plus the
  *     (skew-bounded) bucket joins;
  *   - the hash family is derived from md5 (a Spark built-in with an exact
  *     DuckDB twin), so every stage is oracle-checkable bit-for-bit; swap
  *     [[hashAt]] to xxhash64 for ~3× faster signatures when oracle parity
  *     is not needed — the pipeline shape is identical;
  *   - per-document work (tokenize, signatures) is pure projection:
  *     whole-stage codegen, no shuffle, embarrassingly parallel.
  */
object Dedup {

  /** Lowercased whitespace word tokens, empties dropped. NULL text ≡ empty
    * document (the engine-wide contract, mirrored in the oracle SQL's
    * `coalesce(text, '')`): a null row must yield empty signals, not
    * propagate NULL into signatures and silently vanish from band joins.
    */
  def tokens(text: Column): Column =
    filter(split(lower(coalesce(text, lit(""))), "\\s+"), w => length(w) > 0)

  /** Member `i` of a deterministic 60-bit hash family over strings:
    * the top 15 hex digits of md5("i:w") as a long. 60 bits keeps the value
    * positive on both engines (DuckDB BIGINT hex cast / Spark conv).
    *
    * Scalar form, for single-value call sites; bulk call sites hash whole
    * token/shingle arrays through the native codegen'd
    * [[graft.functions.HashArray]] (bit-identical, ~5-10× faster than this
    * chain inside an interpreted HOF lambda).
    */
  def hashAt(i: Int, w: Column): Column =
    conv(substring(md5(concat(lit(s"$i:"), w)), 1, 15), 16, 10).cast("long")

  /** Family member 0 over every element of an array<string>, natively
    * (graft.functions.HashArray): the signature-generation workhorse.
    */
  def hashArray60(arr: Column): Column =
    graft.functions.HashArray.hashArray(arr)

  /** Largest prime below 2^30 — the modulus of the affine MinHash family.
    * 30-bit values keep `a·h + b` under 2^61, exact in BIGINT on both
    * engines (DuckDB raises on 64-bit overflow where the JVM wraps).
    */
  val AffineMod = 1073741789L

  /** Deterministic affine-family constants (aᵢ odd, in [1, p); bᵢ in [0, p)),
    * shared verbatim with the oracle SQL generator.
    */
  def affineParams(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    // Not math.abs: abs(Long.MinValue) is still negative, which would break
    // the 'aᵢ odd in [1,p)' invariant (~2^-64 per draw, but free to avoid).
    // Identical to abs for every other draw, so the seed-42 constants the
    // oracle SQL embeds are unchanged.
    def pos(): Long = rng.nextLong() match {
      case Long.MinValue => 0L
      case v => math.abs(v)
    }
    Seq.fill(k)((
      (pos() % (AffineMod - 2)) / 2 * 2 + 1,
      pos() % AffineMod))
  }

  /** One 30-bit base hash per string; the k family members are then cheap
    * affine transforms `(aᵢ·h + bᵢ) mod p` of it — md5 runs ONCE per
    * shingle occurrence instead of k times (the classic MinHash
    * universal-hash construction).
    */
  def baseHash30(w: Column): Column =
    hashAt(0, w).bitwiseAND(lit((1L << 30) - 1))

  /** [[baseHash30]] over every element of an array<string>, natively. */
  def baseHash30Array(arr: Column): Column =
    graft.functions.HashArray.hashArray(arr, (1L << 30) - 1)

  /** (doc_id, grams): each document's distinct word-BIGRAM shingle set.
    * Bigram shingles (not single words) keep signatures discriminative on
    * corpora with a narrow vocabulary: with word-set shingles every document
    * of a small domain looks ~0.9-similar and LSH buckets degenerate toward
    * all-pairs.
    *
    * Staged as separate projections ON PURPOSE: higher-order functions are
    * interpreted (no codegen CSE), and a lambda body re-evaluates any
    * non-attribute sub-expression per element — tokenization must be a
    * materialized column before the bigram lambda touches it, or per-doc
    * cost goes quadratic. (Measured: the single-expression form was 60×
    * slower at sf0.1.)
    */
  def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).alias("toks"))
      .select(col("doc_id"),
        array_distinct(bigramsOf(col("toks"))).alias("grams"))

  /** (doc_id, sig): MinHash signature (length `k`) over the shingle set —
    * min over the set of each affine-family member, the standard
    * permutation-free MinHash estimator. Staged: shingles → one md5-derived
    * base hash per shingle (materialized) → k affine mins. Each stage's
    * input is an attribute, so the expensive md5 runs exactly once per
    * shingle occurrence.
    */
  def minhashSignatures(docs: DataFrame, k: Int): DataFrame = {
    val params = affineParams(k)
    shingleSets(docs)
      .select(col("doc_id"), baseHash30Array(col("grams")).alias("hs"))
      .select(
        col("doc_id"),
        graft.functions.MinhashAffine
          .minhashAffine(col("hs"), params, AffineMod).alias("sig"))
  }

  /** LSH band buckets for a signature: one row-key per band, hashing the
    * band's slice of the signature. Docs sharing any (band, bucket) become
    * candidate pairs.
    */
  def lshBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).alias("band"),
        md5(array_join(
          transform(slice(sig, b * rowsPerBand + 1, rowsPerBand),
            x => x.cast("string")), "-")).alias("bucket"))
    }: _*)

  /** Default per-(band,bucket) population cap for banded candidate joins:
    * 10k docs in one bucket already means ~5·10⁷ verify pairs from that
    * bucket — past that, the corpus is a near-identical flood and sampling
    * the pair set (salted sub-buckets) is the right trade.
    */
  val DefaultBucketCap = 10000

  /** Skew guard for banded candidate self-joins. A degenerate corpus
    * (thousands of near-identical documents) lands in ONE (band, bucket)
    * and makes the bucket equi-join quadratic in that bucket's population —
    * the classic LSH hot-bucket failure at scale. Buckets over `cap` docs
    * are split into ceil(n/cap) hash-salted sub-buckets (expected size
    * ≈ cap), bounding per-bucket pair count at ~n·cap instead of n².
    * Under-cap buckets keep salt 0, so the common path produces exactly
    * the unguarded pairs (the oracle fixtures never approach the cap).
    * Recall inside a hot bucket degrades gracefully — a pair split across
    * sub-buckets is missed, acceptable precisely because everything in a
    * flooded bucket is near-identical to everything else in it.
    *
    * Input (doc_id, bk) → output (doc_id, bk) with bk replaced by
    * struct(bk, salt); self-joins on the new bk are bounded.
    */
  private def saltHotBuckets(bucketed: DataFrame, cap: Int): DataFrame = {
    // Count per bucket with a partial-aggregating groupBy and keep ONLY the
    // over-cap buckets: each mapper emits one row per distinct bucket, so
    // even a 10⁸-doc flooded bucket reaches its reducer as #mappers rows —
    // the counting stage cannot itself funnel the hot bucket through one
    // task (a window count or a join-back keyed on bk would). By
    // pigeonhole at most rows/cap buckets can exceed cap, so the hot list
    // is small and broadcast-safe; the corpus side never shuffles here.
    val hot = bucketed.groupBy(col("bk"))
      .agg(count(lit(1)).alias("bk_n"))
      .where(col("bk_n") > cap)
    bucketed.join(broadcast(hot), Seq("bk"), "left")
      .select(
        col("doc_id"),
        struct(
          col("bk"),
          when(col("bk_n").isNull, lit(0L)) // not hot → common path, salt 0
            .otherwise(pmod(xxhash64(col("doc_id")),
              ceil(col("bk_n").cast("double") / cap).cast("long")))
            .alias("salt")).alias("bk"))
  }

  /** Exact duplicate groups: identical text → one keeper (lowest doc_id).
    * A plain hash-shuffle groupBy on the text; at scale group by
    * sha2(text) instead to shrink shuffle keys — semantics identical.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).alias("keeper_id"),
        count(lit(1)).alias("n_copies"))
      .select(col("keeper_id"), col("n_copies"))

  /** Content-hash duplicate groups (sha-256): the exact-dedup pattern with a
    * fixed-width shuffle key — this is the variant that scales to 100 TB
    * (64-byte keys instead of full documents through the shuffle).
    */
  def contentHash(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).alias("content_hash"))
      .agg(min(col("doc_id")).alias("keeper_id"),
        count(lit(1)).alias("n_copies"))

  /** Cross-snapshot EXACT dedup screen with a Bloom prefilter — the
    * "which re-ingested documents are byte-identical to something already
    * in the corpus" pass an incremental crawl pipeline runs per snapshot
    * (the exact-granularity sibling of [[crossCorpusCandidates]]).
    *
    * Scale shape: the reference corpus reduces ONCE to its distinct
    * content hashes (map-side-combinable groupBy on a fixed-width sha-256
    * key — the [[contentHash]] argument), materialized because the Bloom
    * build is an eager action and the match join reuses the frame. The
    * filter over those hashes builds DISTRIBUTED (native
    * BloomFilterAggregate) and probes the new snapshot map-side as a
    * codegen literal, so at 100 TB the new side drops to its candidate
    * sliver BEFORE any shuffle; the confirming hash equi-join kills Bloom
    * false positives — output is identical to the plain left join the
    * oracle runs, the filter is pure shuffle avoidance. Text never
    * shuffles anywhere: hashes and ids are the only wide-plan columns.
    *
    * Emits one row per new-snapshot document: `(new_id, ref_id
    * nullable = lowest-id identical reference doc, is_dup)` — the flag
    * face; `WHERE NOT is_dup` is the novel-docs keep set.
    */
  def incrementalExact(
      newDocs: DataFrame,
      refDocs: DataFrame,
      expectedRefHashes: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val refHashes = Materialize(refDocs
      .groupBy(sha2(col("text"), 256).alias("content_hash"))
      .agg(min(col("doc_id")).alias("ref_id")))
    val bloomBytes = refHashes
      .agg(graft.functions.Bloom
        .aggregate(xxhash64(col("content_hash")), expectedRefHashes, fpp)
        .alias("bf"))
      .head.getAs[Array[Byte]]("bf")
    val matches = newDocs
      .select(col("doc_id").alias("new_id"),
        sha2(col("text"), 256).alias("content_hash"))
      .where(graft.functions.Bloom
        .mightContain(bloomBytes, xxhash64(col("content_hash"))))
      .join(refHashes, "content_hash")
      .select(col("new_id"), col("ref_id"))
    newDocs.select(col("doc_id").alias("new_id"))
      .join(matches, Seq("new_id"), "left")
      .select(col("new_id"), col("ref_id"),
        col("ref_id").isNotNull.alias("is_dup"))
  }

  /** Shingle length (in word tokens) for span-level exact-substring
    * dedup — the distributed counterpart of suffix-array substring dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499, which uses a 50-BPE-token threshold; 5
    * word tokens is the small-corpus analogue, and the parameter is free).
    */
  val SubstringShingleLen = 5

  /** Span-level EXACT-substring dedup: token spans that appear verbatim in
    * more than one document — the dedup family doc-level MinHash/SimHash
    * cannot see (a unique page quoting a duplicated paragraph is a
    * NEAR-unique document with an exact duplicated SPAN).
    *
    * Distributed shape (no suffix array; suffix arrays don't shard):
    *   1. every L-token shingle of every document, hashed to 60 bits with
    *      its token offset — a pure codegen'd map ([[hashArray60]] over
    *      the rolling-join shingle strings), nothing wide shuffles;
    *   2. shingle hashes held by ≥ 2 DISTINCT documents (two-stage
    *      aggregate: (hash, doc) dedup partial-aggregates map-side, then
    *      a count per hash — never a hot single reducer);
    *   3. join back on the hash (equi-join; a boilerplate shingle shared
    *      by millions of docs is exactly the skew AQE's skew-join split
    *      handles — same posture as [[incrementalPairs]]);
    *   4. merge ADJACENT duplicated offsets per document into maximal
    *      spans (gaps-and-islands: offset − row_number is constant within
    *      a run; the window partitions by doc, bounded by doc length).
    *
    * Emits one row per maximal duplicated span: token coordinates
    * [span_start, span_end] (0-based, inclusive), width in tokens, and the
    * shingle count that merged into it. Span width ≥ L by construction;
    * wider spans mean longer verbatim duplication.
    */
  /** The (doc_id, off, h) shingle-hit stream shared by the span family:
    * shingle strings via slice/join hashed natively — one in-row array op
    * per document, then posexplode carries (offset, hash) only; the
    * document text never leaves the map stage. */
  private def shingleHits(docs: DataFrame, L: Int): DataFrame = {
    val shingleStrs = when(size(col("t")) >= L,
        transform(sequence(lit(0), size(col("t")) - L),
          i => array_join(slice(col("t"), i + 1, lit(L)), " ")))
      .otherwise(array().cast("array<string>"))
    docs
      .select(col("doc_id"), tokens(col("text")).alias("t"))
      .select(col("doc_id"),
        posexplode(hashArray60(shingleStrs)).as(Seq("off", "h")))
  }

  def substringSpans(
      docs: DataFrame,
      shingleLen: Int = SubstringShingleLen): DataFrame = {
    val L = shingleLen
    val sh = shingleHits(docs, L)
    // Cross-document duplicated hashes: (h, doc) first so the per-hash
    // count is a count of PRE-AGGREGATED rows, not raw occurrences.
    val dup = sh.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).alias("n_docs"))
      .where(col("n_docs") > 1)
    val islands = Window.partitionBy(col("doc_id")).orderBy(col("off"))
    sh.join(dup, "h")
      .select(col("doc_id"), col("off"))
      .withColumn("grp", col("off") - row_number().over(islands))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("off")).alias("span_start"),
        (max(col("off")) + (L - 1)).alias("span_end"),
        count(lit(1)).alias("n_shingles"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).alias("span_tokens"),
        col("n_shingles"))
  }

  /** Boilerplate guard for [[maxSpans]]: shingle hashes held by more than
    * this many distinct documents are excluded from pair generation —
    * they are navigation/boilerplate text whose all-pairs expansion is
    * quadratic in holders, and whose per-document extent the island
    * report [[substringSpans]] already covers without pairing. */
  val MaxDocsPerShingle = 64

  /** LONGEST duplicated span per document PAIR — the suffix-array dedup
    * target of Lee et al. 2022 (arXiv:2107.06499 §4: the longest verbatim
    * substring shared between two documents), distributed. Where
    * [[substringSpans]] merges duplicated offsets per document (against
    * the whole corpus at once), this aligns hits per (a, b, DIAGONAL):
    * two occurrences of the same shingle at offsets (a_off, b_off) lie on
    * diagonal `a_off − b_off`, and a run of m CONSECUTIVE aligned
    * shingles is a verbatim common span of exactly m + L − 1 tokens —
    * span lengths are EXACT, not L-quantized (the gaps-and-islands merge
    * recovers every token of overlap between adjacent shingle hits).
    * Exactness caveat: a span containing a shingle held by MORE than
    * [[MaxDocsPerShingle]] documents is split at the excluded hash
    * (both engines agree, so nothing diverges — but such spans
    * under-report `span_tokens`); over-cap boilerplate is precisely what
    * the per-document [[substringSpans]] report covers without pairing.
    *
    * Scale shape: the shingle stream is the [[substringSpans]] map-side
    * hash stream (exchanges carry (doc, off, hash) — never text); pair
    * generation is a hash equi-join bounded by [[MaxDocsPerShingle]]
    * holders per shingle (the boilerplate-quadratic guard — at ≤ d
    * holders a shingle contributes ≤ d² rows, and hot hashes past the
    * cap are precisely the ones the per-doc report covers more cheaply);
    * the diagonal windows partition by (pair, diag), bounded by document
    * length. One row per pair:
    * `(a_id, b_id, a_start, a_end, b_start, b_end, span_tokens)` with
    * [start, end] 0-based inclusive token coordinates in each document,
    * ties broken by (a_start, b_start).
    */
  def maxSpans(
      docs: DataFrame,
      shingleLen: Int = SubstringShingleLen,
      maxDocsPerShingle: Int = MaxDocsPerShingle): DataFrame = {
    val L = shingleLen
    val sh = shingleHits(docs, L)
    val shared = sh.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).alias("n_docs"))
      .where(col("n_docs") > 1 && col("n_docs") <= maxDocsPerShingle)
      .select(col("h"))
    val hits = sh.join(shared, "h")
    val a = hits.select(col("h"), col("doc_id").alias("a_id"),
      col("off").alias("a_off"))
    val b = hits.select(col("h"), col("doc_id").alias("b_id"),
      col("off").alias("b_off"))
    // Within a fixed (a, b, diag), a_off determines the row uniquely (one
    // shingle per offset), so the island numbering needs no dedup first.
    val diag = a.join(b, "h")
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_off"),
        (col("a_off") - col("b_off")).alias("diag"))
    val wRun = Window.partitionBy(col("a_id"), col("b_id"), col("diag"))
      .orderBy(col("a_off"))
    val spans = diag
      .withColumn("grp", col("a_off") - row_number().over(wRun))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("grp"))
      .agg(min(col("a_off")).alias("a_start"),
        max(col("a_off")).alias("a_max"))
      .select(col("a_id"), col("b_id"),
        col("a_start"),
        (col("a_max") + (L - 1)).alias("a_end"),
        (col("a_start") - col("diag")).cast("int").alias("b_start"),
        (col("a_max") - col("diag") + (L - 1)).cast("int").alias("b_end"),
        (col("a_max") - col("a_start") + L).alias("span_tokens"))
    val wBest = Window.partitionBy(col("a_id"), col("b_id"))
      .orderBy(col("span_tokens").desc, col("a_start"), col("b_start"))
    spans
      .withColumn("rn", row_number().over(wBest))
      .where(col("rn") === 1)
      .drop("rn")
  }

  /** Minimum line length (chars) for line-level dedup eligibility: shorter
    * lines are structure (blank lines, separators, one-word headings) whose
    * corpus-wide repetition is expected, not duplication — CCNet's line
    * dedup likewise ignores trivially short lines.
    */
  val LineDedupMinChars = 10

  /** LINE-level dedup, CCNet-style (Wenzek et al. 2020, "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data",
    * arXiv:1911.00359 §3: hash every line, drop lines whose hash repeats
    * across the corpus — the granularity that strips boilerplate headers /
    * nav bars / cookie banners which doc-level MinHash cannot see and
    * span-level [[substringSpans]] only flags). ALL occurrences of a
    * duplicated line are dropped, as in CCNet.
    *
    * Distributed shape — the [[substringSpans]] text-never-shuffles
    * discipline, taken one step further:
    *   1. lines explode map-side and are immediately reduced to
    *      `xxhash64(line)`: every Exchange in the job carries 8-byte
    *      hashes, never line text;
    *   2. duplicated hashes (count ≥ minCopies among eligible lines) reduce
    *      to ONE scalar array via `collect_set` — a 1-row broadcast, the
    *      same shape as the engine's other scalar broadcasts;
    *   3. each document rebuilds its text in place: re-split, re-hash, and
    *      filter its own lines against the broadcast set inside one
    *      codegen'd projection — the ORIGINAL scan row is still in hand,
    *      so reassembly needs no join back and no text ever moves.
    *
    * The collected dup-line set is vocabulary-shaped (distinct lines
    * repeated ≥ 2×), not corpus-shaped; past the point where it outgrows a
    * driver array, swap step 2/3 for the native Bloom prefilter exactly as
    * `decontaminate` → `decontaminate_bloom` does (the false-positive cost
    * is a few extra dropped lines, the shape is identical). The `require`
    * below makes that crossover loud instead of silent.
    *
    * Emits `(doc_id, n_lines, n_dropped, text_dedup)` — one row per input
    * document, lines joined back with '\n'.
    */
  def lineDedup(
      docs: DataFrame,
      minChars: Int = LineDedupMinChars,
      minCopies: Int = 2,
      maxDupLines: Int = 4 << 20): DataFrame = {
    val parts = split(coalesce(col("text"), lit("")), "\n")
    val eligible = (l: Column) => length(l) >= minChars
    // Step 1-2: corpus-wide duplicated line hashes, as one scalar array.
    val dupSet = docs
      .select(explode(parts).alias("line"))
      .where(eligible(col("line")))
      .select(xxhash64(col("line")).alias("h"))
      .groupBy(col("h")).agg(count(lit(1)).alias("n_copies"))
      .where(col("n_copies") >= minCopies)
      .agg(collect_set(col("h")).alias("dup_hs"),
        count(lit(1)).alias("n_dup"))
    // Step 3: map-side rebuild against the broadcast set.
    val dropIt = (l: Column) =>
      eligible(l) && array_contains(col("dup_hs"), xxhash64(l))
    docs
      .crossJoin(broadcast(dupSet))
      .select(col("doc_id"), parts.alias("ps"), col("dup_hs"), col("n_dup"))
      .select(
        col("doc_id"),
        // assert_true (null on success) rides the first output column so
        // column pruning cannot drop it: the job fails loudly if the dup
        // vocabulary outgrows the collected-array design point (scaladoc).
        when(assert_true(col("n_dup") <= maxDupLines,
          lit(s"dup-line set exceeds $maxDupLines; use the Bloom variant"))
          .isNull, size(col("ps"))).alias("n_lines"),
        (size(col("ps")) - size(filter(col("ps"), l => !dropIt(l))))
          .alias("n_dropped"),
        array_join(filter(col("ps"), l => !dropIt(l)), "\n")
          .alias("text_dedup"))
  }

  /** [[lineDedup]] for the regime PAST the collected-array crossover: the
    * duplicated-line vocabulary stays a DataFrame end to end — no driver
    * bound at any size. Cost of that: the rebuild becomes a doc_id-keyed
    * join, so document text crosses ONE exchange (the same cost class as
    * `corpus_shuffle`'s permutation — unavoidable once the drop-set cannot
    * ride a broadcast). Every other shuffle still carries 8-byte hashes /
    * int offsets only, and the dropped side is docs-with-dups-sized, so
    * AQE broadcasts it from measured size on ordinary corpora (no hint —
    * the tfIdf reasoning) and the text shuffle disappears entirely.
    *
    * Output is IDENTICAL to [[lineDedup]] — both register against the same
    * oracle, so the two regimes cannot drift (the `clusters` /
    * `clustersBigStar` pattern).
    */
  def lineDedupJoin(
      docs: DataFrame,
      minChars: Int = LineDedupMinChars,
      minCopies: Int = 2): DataFrame = {
    val parts = split(coalesce(col("text"), lit("")), "\n")
    val lines = docs
      .select(col("doc_id"), posexplode(parts).as(Seq("line_no", "line")))
      .where(length(col("line")) >= minChars)
      .select(col("doc_id"), col("line_no"), xxhash64(col("line")).alias("h"))
    val dup = lines
      .groupBy(col("h")).agg(count(lit(1)).alias("n_copies"))
      .where(col("n_copies") >= minCopies)
      .select(col("h"))
    val dropped = lines.join(dup, "h")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("line_no")).alias("drop_nos"))
    val dropNos = coalesce(col("drop_nos"), array().cast("array<int>"))
    val keptIdx = filter(sequence(lit(0), size(col("ps")) - 1),
      i => !array_contains(dropNos, i))
    docs
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), parts.alias("ps"), col("drop_nos"))
      .select(
        col("doc_id"),
        size(col("ps")).alias("n_lines"),
        size(dropNos).alias("n_dropped"),
        array_join(transform(keptIdx, i => element_at(col("ps"), i + 1)), "\n")
          .alias("text_dedup"))
  }

  /** Deterministic N-tokens-per-line re-wrap of a document — the fixture
    * adapter for [[lineDedup]] (the synthetic corpus ships no newlines).
    * Pure map-side projection; both engines rebuild the identical wrapped
    * text from the token array, so the wrapped view is oracle-checkable.
    */
  def wrapTokenLines(docs: DataFrame, perLine: Int = 10): DataFrame = {
    val t = tokens(col("text"))
    val nLines = floor((size(t) + (perLine - 1)) / lit(perLine)).cast("int")
    docs.select(
      col("doc_id"),
      when(size(t) > 0,
        array_join(
          transform(sequence(lit(0), nLines - 1),
            i => array_join(slice(t, i * perLine + 1, lit(perLine)), " ")),
          "\n"))
        .otherwise("").alias("text"))
  }

  /** MinHash/LSH near-duplicate candidate pairs with their estimated
    * Jaccard (fraction of agreeing signature positions), `estSim ≥
    * threshold`. Pairs arise ONLY from shared band buckets — never from an
    * all-pairs product.
    */
  def minhashCandidates(
      docs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val rowsPerBand = k / bands
    val sigs = minhashSignatures(docs, k)
    val bucketed = saltHotBuckets(sigs.select(
      col("doc_id"),
      explode(lshBuckets(col("sig"), bands, rowsPerBand)).alias("bk")),
      bucketCap)
    // Distinct (a, b) FIRST — a pair colliding in several bands must be
    // estimated once, not once per band — then join the signatures back by
    // id. All joins are equi-joins on bucket or id; no cartesian anywhere.
    val cands = bucketed.select(col("bk"), col("doc_id").alias("a_id"))
      .join(bucketed.select(col("bk"), col("doc_id").alias("b_id")), "bk")
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val est = size(filter(sequence(lit(1), lit(k)),
      i => element_at(col("sig_a"), i) === element_at(col("sig_b"), i)))
      .cast("double") / k
    cands
      .join(sigs.select(col("doc_id").alias("a_id"), col("sig").alias("sig_a")), "a_id")
      .join(sigs.select(col("doc_id").alias("b_id"), col("sig").alias("sig_b")), "b_id")
      .select(col("a_id"), col("b_id"), est.alias("est_sim"))
      .where(col("est_sim") >= threshold)
  }

  /** Similarity histogram of the LSH candidate pairs: how many pairs land
    * at each MinHash-estimated similarity — the threshold-tuning curve a
    * curation run reads BEFORE committing to a dedup threshold (where is
    * the random-collision tail, where do true near-dups start?). Estimates
    * are exact multiples of 1/k, so the group key is discrete and
    * bit-stable on both engines. Same cost shape as [[minhashCandidates]]
    * at threshold 0 plus one vocabulary-sized groupBy.
    */
  def candidateSimHistogram(
      docs: DataFrame,
      k: Int = 16,
      bands: Int = 4): DataFrame =
    minhashCandidates(docs, k, bands, threshold = 0.0)
      .groupBy(col("est_sim"))
      .agg(count(lit(1)).alias("n_pairs"))

  /** Incremental cross-corpus near-dup screen: candidate pairs between a
    * NEW document snapshot and the EXISTING reference corpus — the ingest
    * gate of a growing training set, where re-running self-dedup over
    * 100 TB for a 0.1 % delta would redo a thousand times the needed
    * work. Both sides signature independently (pure projection over their
    * own scan — the ref side's signatures are what a production ingest
    * keeps materialized between snapshots); candidates come only from
    * (band, bucket) equi-join collisions ACROSS the sides, estimated once
    * per pair and thresholded exactly like [[minhashCandidates]].
    *
    * No salting here: [[saltHotBuckets]]' sub-bucket split only preserves
    * pairs WITHIN a sub-bucket, which is sound for a self-join's recall
    * trade but would decorrelate the two sides of a cross join. A
    * degenerate hot bucket therefore lands on AQE's skew-join split
    * instead — correctness identical, the skew handled at runtime.
    *
    * Returns `(new_id, ref_id, est_sim)`; the typical consumer anti-joins
    * `new_id` away to keep only novel documents.
    */
  def crossCorpusCandidates(
      newDocs: DataFrame,
      refDocs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = k / bands
    val newSigs = minhashSignatures(newDocs, k)
    val refSigs = minhashSignatures(refDocs, k)
    def bucketed(sigs: DataFrame, idAs: String): DataFrame =
      sigs.select(col("doc_id").alias(idAs),
        explode(lshBuckets(col("sig"), bands, rowsPerBand)).alias("bk"))
    // Distinct (new, ref) pairs FIRST (a pair colliding in several bands
    // estimates once), then signatures join back by id.
    val cands = bucketed(newSigs, "new_id")
      .join(bucketed(refSigs, "ref_id"), "bk")
      .select(col("new_id"), col("ref_id"))
      .distinct()
    val est = size(filter(sequence(lit(1), lit(k)),
      i => element_at(col("sig_a"), i) === element_at(col("sig_b"), i)))
      .cast("double") / k
    cands
      .join(newSigs.select(col("doc_id").alias("new_id"),
        col("sig").alias("sig_a")), "new_id")
      .join(refSigs.select(col("doc_id").alias("ref_id"),
        col("sig").alias("sig_b")), "ref_id")
      .select(col("new_id"), col("ref_id"), est.alias("est_sim"))
      .where(col("est_sim") >= threshold)
  }

  /** 60-bit SimHash per document: majority vote of each hash bit across the
    * document's distinct tokens. Near-dups then cluster by low Hamming
    * distance; the signature itself is a pure projection. Token hashes are
    * materialized as a column first (see [[shingleSets]] on why).
    */
  def simhash(docs: DataFrame, bits: Int = 60): DataFrame =
    simhashFromHashes(docs
      .select(col("doc_id"), array_distinct(tokens(col("text"))).alias("toks"))
      .select(col("doc_id"), hashArray60(col("toks")).alias("hashes")), bits)

  /** Majority-vote simhash over a materialized per-doc hash list: for each
    * bit position, count of set minus clear; bit set iff positive.
    *
    * ONE codegen'd projection (graft.functions.SimhashVote) — the same
    * integer arithmetic as the earlier explode → groupBy → 60×SUM shape,
    * with no explode blow-up and NO SHUFFLE: the signature stage is a pure
    * map over the corpus, which is exactly what you want it to be at
    * 100 TB. An empty hash list yields simhash 0.
    */
  private def simhashFromHashes(hashed: DataFrame, bits: Int): DataFrame =
    hashed.select(col("doc_id"),
      graft.functions.SimhashVote.simhashVote(col("hashes"), bits)
        .alias("simhash"))

  /** SimHash near-duplicate pairs: signatures over the BIGRAM shingle set
    * (word-set simhash saturates on narrow vocabularies, like minhash —
    * see [[shingleSets]]), banded into `bands` chunks of `bandBits` bits.
    * Pairs sharing any band are verified with exact `bit_count(xor)` ≤
    * maxHamming. Same bucket-equi-join shape as MinHash LSH — no all-pairs
    * step.
    *
    * RECALL SEMANTICS: band-sharing is guaranteed only when Hamming
    * distance < `bands` (pigeonhole); with the default maxHamming=8 > 4
    * bands the result is LSH-APPROXIMATE — a qualifying pair whose
    * differing bits touch every band is missed. That is the standard
    * recall/cost trade of banded simhash (raise `bands` for completeness
    * at maxHamming ≥ bands). The DuckDB oracle mirrors the same banding, so
    * parity checks the implementation, not exhaustive recall.
    */
  def simhashNearDup(
      docs: DataFrame,
      bands: Int = 4,
      bandBits: Int = 15,
      maxHamming: Int = 8,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    // Materialize the signature table once: it is 12 bytes per document
    // (vs the corpus behind it), and the band join + verify would otherwise
    // recompute the 60-bit vote three times.
    val sh = simhashFromHashes(
      shingleSets(docs).select(col("doc_id"),
        hashArray60(col("grams")).alias("hashes")),
      bits = bands * bandBits).transform(Materialize(_))
    hammingPairs(sh.toDF("doc_id", "sig"), bands, bandBits, maxHamming,
      bucketCap)
  }

  /** Banded Hamming-near pairs over ANY per-item bit signature — the
    * signature-agnostic core of [[simhashNearDup]], reused by the
    * perceptual-hash image dedup ([[graft.ops.Multimodal]] composes its
    * aHash into this): split each signature into `bands` chunks of
    * `bandBits` bits, equi-join items sharing any chunk value (hot buckets
    * salted via [[saltHotBuckets]] — no all-pairs step anywhere), then
    * verify candidates with exact `bit_count(xor)` ≤ maxHamming. Same
    * pigeonhole recall semantics as [[simhashNearDup]].
    *
    * @param sigs `(doc_id, sig)` — sig a ≤60-bit long (the engine-wide
    *             positive-on-both-engines signature convention)
    */
  def hammingPairs(
      sigs: DataFrame,
      bands: Int = 4,
      bandBits: Int = 15,
      maxHamming: Int = 8,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val mask = (1L << bandBits) - 1
    val banded = saltHotBuckets(sigs.select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).alias("band"),
          shiftright(col("sig"), b * bandBits).bitwiseAND(mask)
            .alias("bv"))): _*)).alias("bk")),
      bucketCap)
    val cands = banded.select(col("bk"), col("doc_id").alias("a_id"))
      .join(banded.select(col("bk"), col("doc_id").alias("b_id")), "bk")
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val hamming = bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
    cands
      .join(sigs.select(col("doc_id").alias("a_id"), col("sig").alias("sim_a")), "a_id")
      .join(sigs.select(col("doc_id").alias("b_id"), col("sig").alias("sim_b")), "b_id")
      .select(col("a_id"), col("b_id"), hamming.alias("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Exact word-bigram Jaccard over LSH candidates — the verify half of the
    * near-dup pipeline (cheap estimate from [[minhashCandidates]], exact
    * measure only on the candidate set).
    */
  def ngramJaccard(
      docs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      estThreshold: Double = 0.5,
      jaccardThreshold: Double = 0.3): DataFrame = {
    // Materialized: grams feeds BOTH sides of the candidate attach joins
    // below — unmaterialized, the shingling pass would replay twice at
    // corpus scale (same hazard componentsFromPairs truncates per round).
    val grams = Materialize(shingleSets(docs))
    val cands = minhashCandidates(docs, k, bands, estThreshold)
      .select(col("a_id"), col("b_id"))
    // Built-in array_intersect: hash-based and codegen'd, O(|A|+|B|) per
    // pair — vs the interpreted HOF filter/array_contains form, which is
    // O(|A|·|B|) and CodegenFallback. Shingle sets are distinct (the
    // shingleSets contract), so intersect size == match count exactly.
    val inter = size(array_intersect(col("grams_a"), col("grams_b")))
    val jac = inter.cast("double") /
      (size(col("grams_a")) + size(col("grams_b")) - inter)
    cands
      .join(grams.select(col("doc_id").alias("a_id"),
        col("grams").alias("grams_a")), "a_id")
      .join(grams.select(col("doc_id").alias("b_id"),
        col("grams").alias("grams_b")), "b_id")
      .select(col("a_id"), col("b_id"), round(jac, 6).alias("jaccard"))
      .where(col("jaccard") >= jaccardThreshold)
  }

  /** Sampling rate for [[containment]] candidate generation: 1/8 of the
    * shingle-hash universe. Containment-high pairs with very different
    * sizes have LOW Jaccard, so the MinHash-LSH candidate stage (tuned
    * for symmetric similarity) systematically misses them — a 5%-of-A
    * verbatim quote of A inside B is invisible to [[minhashCandidates]]
    * but is exactly what licensing/contamination review needs surfaced.
    */
  val ContainmentSampleMod = 8

  /** Minimum asymmetric overlap for a [[containment]] row. */
  val ContainmentThreshold = 0.5

  /** Asymmetric shingle-CONTAINMENT dedup — doc-in-doc detection:
    * `|S(a) ∩ S(b)| / min(|S(a)|, |S(b)|)` over the word-bigram shingle
    * sets, the quote/excerpt measure of Broder's resemblance-vs-
    * containment distinction. Candidates come from a deterministic
    * 1/[[ContainmentSampleMod]] SAMPLE of the shingle universe (by the
    * same 30-bit base hash both engines compute): two docs sharing ANY
    * sampled shingle become a pair, so an excerpt of ≥ a few dozen
    * shingles is caught with near-certainty while the join fan-out stays
    * 1/64 of a full shingle join. Shingles held by more than
    * `maxDocsPerShingle` docs are boilerplate and are excluded from pair
    * generation (the [[MaxDocsPerShingle]] quadratic guard).
    *
    * Scale shape: one equi-join on sampled shingle hash (never text),
    * per-hash fan-out bounded by the cap, exact verification only on the
    * candidate set with both gram sets attached from ONE materialized
    * shingling pass. Output: `(a_id, b_id, n_shared, containment,
    * contained_id)` where `contained_id` is the smaller-set doc (the
    * quote), tie broken toward `a_id`.
    */
  def containment(
      docs: DataFrame,
      sampleMod: Int = ContainmentSampleMod,
      maxDocsPerShingle: Int = MaxDocsPerShingle,
      threshold: Double = ContainmentThreshold): DataFrame = {
    // Materialized: grams feeds candidate generation AND both attach
    // sides — unmaterialized, the shingling pass replays three times.
    val grams = Materialize(shingleSets(docs))
    val hits = grams
      .select(col("doc_id"), explode(col("grams")).alias("g"))
      .select(col("doc_id"), baseHash30(col("g")).alias("h"))
      .where(pmod(col("h"), lit(sampleMod)) === 0)
      .distinct()
    val eligible = hits.groupBy(col("h"))
      .agg(count(lit(1)).alias("n_docs"))
      .where(col("n_docs") > 1 && col("n_docs") <= maxDocsPerShingle)
      .select(col("h"))
    val sampled = hits.join(eligible, "h")
    val cands = sampled.select(col("h"), col("doc_id").alias("a_id"))
      .join(sampled.select(col("h"), col("doc_id").alias("b_id")), "h")
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val inter = size(array_intersect(col("grams_a"), col("grams_b")))
    val cont = round(inter.cast("double") /
      least(size(col("grams_a")), size(col("grams_b"))), 6)
    cands
      .join(grams.select(col("doc_id").alias("a_id"),
        col("grams").alias("grams_a")), "a_id")
      .join(grams.select(col("doc_id").alias("b_id"),
        col("grams").alias("grams_b")), "b_id")
      .select(col("a_id"), col("b_id"),
        inter.cast("long").alias("n_shared"),
        cont.alias("containment"),
        when(size(col("grams_b")) < size(col("grams_a")), col("b_id"))
          .otherwise(col("a_id")).alias("contained_id"))
      .where(col("containment") >= threshold)
  }

  /** Precision eval card of the LSH candidate stage: every estimated
    * candidate pair exact-verified in ONE pass, reduced to `(n_candidates,
    * n_confirmed, precision)` — the figure that justifies (or retunes)
    * the band/threshold parameters, the dedup family's analogue of the
    * ANN recall audits. The banded generator's recall cannot be measured
    * without an all-pairs pass (exactly what LSH exists to avoid), so
    * precision over the candidate set is the honest measurable face.
    */
  def lshPrecision(
      docs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      estThreshold: Double = 0.5,
      jaccardThreshold: Double = 0.3): DataFrame = {
    // Materialized: grams feeds BOTH sides of the candidate attach joins
    // below — unmaterialized, the shingling pass would replay twice at
    // corpus scale (same hazard componentsFromPairs truncates per round).
    val grams = Materialize(shingleSets(docs))
    val cands = minhashCandidates(docs, k, bands, estThreshold)
      .select(col("a_id"), col("b_id"))
    val inter = size(array_intersect(col("grams_a"), col("grams_b")))
    val jac = inter.cast("double") /
      (size(col("grams_a")) + size(col("grams_b")) - inter)
    cands
      .join(grams.select(col("doc_id").alias("a_id"),
        col("grams").alias("grams_a")), "a_id")
      .join(grams.select(col("doc_id").alias("b_id"),
        col("grams").alias("grams_b")), "b_id")
      .select(round(jac, 6).alias("jaccard"))
      .agg(
        count(lit(1)).alias("n_candidates"),
        sum(when(col("jaccard") >= jaccardThreshold, 1L).otherwise(0L))
          .alias("n_confirmed"))
      .select(col("n_candidates"), col("n_confirmed"),
        round(col("n_confirmed").cast("double") /
          greatest(col("n_candidates"), lit(1L)), 6).alias("precision"))
  }

  /** Near-duplicate cluster assignment: connected components over the LSH
    * candidate graph, each document labeled with the smallest doc_id in its
    * component (singletons label themselves).
    *
    * Iterative min-label propagation WITH POINTER JUMPING — each round a
    * node takes the min of its own label and its neighbors' labels, then
    * shortcuts through its label's own label (path compression). The jump
    * turns O(diameter) rounds into O(log diameter): a 1M-doc near-dup
    * chain converges in ~20 rounds instead of 1M. Labels only ever
    * decrease and always name a node of the same component, so the fixed
    * point is exactly the per-component min id — identical to the
    * recursive-CTE oracle. A per-round [[Materialize]] truncates the query
    * plan — without it the lineage (and optimizer time) doubles every
    * iteration; set `spark.graft.checkpoint.reliable=true` on a cluster so
    * the truncated frames survive executor loss. All joins are
    * hash-partitioned equi-joins on ids.
    */
  def clusters(
      docs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxIters: Int = 40): DataFrame =
    componentsFromPairs(
      minhashCandidates(docs, k, bands, threshold)
        .select(col("a_id"), col("b_id")),
      docs.select(col("doc_id")),
      "doc_id",
      maxIters)

  /** The label-propagation CC loop behind [[clusters]], over an ARBITRARY
    * undirected candidate edge set `(a_id, b_id)`: every id in `universe`
    * (one `idCol` column) gets `cluster_id` = its component's minimum id;
    * ids absent from the edge set self-label via one left join after
    * convergence. Reused by the embedding-space near-dup clusters
    * (Similarity.cosineNearDupClusters) — the CC algorithm is agnostic to
    * how candidates were generated.
    */
  /** Session-conf override for the contract-and-finish residue cap in
    * [[componentsFromPairs]] (pairs; `0` disables the finish entirely —
    * the pure distributed loop, used by the equivalence test and the
    * right setting when the driver is memory-starved).
    */
  val FinishEdgeCapKey = "spark.graft.cc.finishEdgeCap"

  /** Default residue cap: 2M contracted pairs ≈ 32 MB of longs (plus JVM
    * tuple overhead) on the driver — the same order as a broadcast-join
    * build side, far under `spark.driver.maxResultSize`.
    */
  val FinishEdgeCapDefault = 2000000L

  /** Attempt the contract-and-finish every this-many rounds, starting
    * after the round where shallow LSH document graphs (2-3 rounds) have
    * already converged — they never pay the contraction. (Probing at 2
    * was measured at sf0.1: no gain on the long-chain image graph, and it
    * taxes every still-converging document graph with a contract it does
    * not need — 3 stays.) After an OVER-CAP probe the interval doubles
    * (r21, advisor): a graph whose residue stays above the cap would
    * otherwise re-pay two full-edge-set joins + distinct every 3rd round
    * forever with no benefit — exactly the corpus-scale loops the cap
    * fallback protects.
    */
  private val FinishProbeEvery = 3

  /** Session-conf override: keep AQE ON inside the iterative loops
    * (CC label propagation, fixed-round PageRank). Default `false` — AQE
    * is DISABLED for the loop rounds only (candidate generation and edge
    * materialization keep the session setting): inside a round every
    * frame is the materialized, already-hash-partitioned graph (node- or
    * edge-scale, orders of magnitude below the corpus), so AQE's runtime
    * re-planning buys nothing while its per-shuffle-stage sub-jobs
    * multiply driver round-trips — the §1-measured dominant cost of
    * these loops. At 100 TB the loop frames are the SAME bounded graphs
    * (the corpus-scale work happened before the loop), so the default
    * holds there too; flip the key for a pathological skewed graph.
    */
  val LoopAqeKey = "spark.graft.loop.aqe"

  /** Run `body` with AQE disabled unless [[LoopAqeKey]] asks to keep it;
    * always restores the previous session value.
    */
  private def withLoopAqe[T](
      sess: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val AqeKey = "spark.sql.adaptive.enabled"
    if (sess.conf.get(LoopAqeKey, "false").toBoolean) body
    else {
      val prev = sess.conf.get(AqeKey, "true")
      sess.conf.set(AqeKey, "false")
      try body finally sess.conf.set(AqeKey, prev)
    }
  }

  /** Fused count-in-action (guide §2.4: batch work between actions): the
    * metric rides the materialize job via `observe` instead of a second
    * count job over the checkpointed frame. `Observation.get` blocks on
    * the listener bus, which is asynchronous — bound the wait and fall
    * back to counting (correct, one extra job) rather than hang a bench
    * pass on a dropped listener event.
    */
  private def observedLong(
      obs: org.apache.spark.sql.Observation, key: String)
      (fallback: => Long): Long = {
    @volatile var got: Option[Long] = None
    val t = new Thread(() => got =
      obs.get.get(key).map(_.asInstanceOf[Long]))
    t.setDaemon(true)
    t.start()
    t.join(30000)
    got.getOrElse(fallback)
  }

  /** Driver-side union-find over the contracted residue graph with
    * union-by-minimum: the root of every set is its minimum member, so
    * `find` reproduces exactly the per-component minimum id the
    * distributed loop converges to. Returns only the moved mappings
    * (label → strictly smaller root); roots themselves are absent.
    */
  private def finishUnionFind(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toArray.flatMap { k =>
      val r = find(k)
      if (r != k) Some(k -> r) else None
    }
  }

  def componentsFromPairs(
      pairs: DataFrame,
      universe: DataFrame,
      idCol: String = "doc_id",
      maxIters: Int = 40): DataFrame = {
    // Materialize the pair set BEFORE symmetrizing: the union's two
    // branches would otherwise each re-evaluate the full candidate
    // lineage (shingle → LSH join, or the cosine bucket join) — the most
    // expensive stage of the whole operator, paid twice for nothing. The
    // materialized graph is tiny vs the corpus; the swap union over it is
    // a narrow op re-run cheaply by each round's join.
    val p = Materialize(pairs.select(col("a_id"), col("b_id")))
    // Hash-partitioned by the loop's join key and materialized ONCE: the
    // checkpointed frame carries its outputPartitioning, so every round's
    // edges⋈labels join shuffles only the (node-sized) label table — the
    // edge set, the big side at corpus scale, never re-enters an Exchange
    // after this point (guide §2.4: two operations keyed the same way
    // share one exchange; an iterative loop keyed the same way shares it
    // across ALL rounds).
    val edges = Materialize(p
      .union(p.select(col("b_id").alias("a_id"), col("a_id").alias("b_id")))
      .repartition(col("b_id")))
    // Iterate ONLY over candidate-graph nodes: every doc outside the graph
    // is a singleton whose label never moves, and at corpus scale the graph
    // is orders of magnitude smaller than the corpus — looping over full
    // labels would shuffle 100 TB worth of ids per round for nothing.
    // Singletons are attached once, after convergence.
    var labels = edges.select(col("a_id").alias("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").alias("cluster_id"))
      .transform(Materialize(_))
    var changed = 1L
    var iter = 0
    // `maxIters` is a runaway guard, not a silent truncation: hitting it
    // with labels still moving means the result would diverge from the
    // exact connected components (and the recursive-CTE oracle), so fail
    // loudly rather than return wrong cluster ids. With pointer jumping the
    // default 40 rounds covers component diameters up to ~2^40 (the sf10
    // probe's 200k-vector near-dup graph carries ~100k-long chains through
    // the cross-decade duplicate cliques and hit the old 20 at 6 moving
    // labels — converged loops exit early, so the higher guard is free).
    // One propagate-then-jump step as a PLAN transformation: take the min
    // of own and neighbors' labels, then shortcut through the label's own
    // label (pointer jumping / path compression — l1 always names a node
    // of the same component, so the jump stays in-component and labels
    // only ever decrease; the fixed point is exactly the per-component
    // minimum id, identical to the recursive-CTE oracle). `orig` rides
    // along untouched so the caller can detect movement without a join.
    def step(l: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(l.select(col("doc_id"), col("cluster_id")),
          edges("b_id") === col("doc_id"))
        .groupBy(edges("a_id").alias("doc_id"))
        .agg(min(col("cluster_id")).alias("nmin"))
      val propagated =
        least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
      val stepped = l
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("orig"), propagated.alias("l1"))
      val parent = l
        .select(col("doc_id").alias("p_id"), col("cluster_id").alias("p_label"))
      stepped
        .join(parent, col("l1") === col("p_id"), "left")
        .select(col("doc_id"), col("orig"),
          least(col("l1"), coalesce(col("p_label"), col("l1")))
            .alias("cluster_id"))
    }
    // The finish's collect casts labels to long: a non-integral id type
    // (numeric strings — "010" vs "10" would collapse) skips the finish
    // entirely and loops purely distributed (r21, advisor).
    val integralIds = labels.schema("cluster_id").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    var probeEvery = FinishProbeEvery
    var nextProbe = FinishProbeEvery
    withLoopAqe(labels.sparkSession) {
    while (changed > 0 && iter < maxIters) {
      // ONE step per materialize round. (An r20 experiment fused two
      // steps per round to halve the driver actions; it LOST on every
      // document graph — the duplicated edges subtree doubles broadcast
      // builds and plan time while shallow LSH graphs converge in 2-3
      // steps anyway — and only broke even on the long-chain image graph,
      // so the single step stays.) Labels decrease monotonically, so
      // `moved ⇔ new < round start` detects movement without a join —
      // and since r21 the moved COUNT rides the materialize job itself
      // via `observe` (one action per round, not two).
      val stepped = step(
        labels.withColumn("orig", col("cluster_id")))
      val obs = new org.apache.spark.sql.Observation()
      val updated = Materialize(
        stepped.select(col("doc_id"), col("cluster_id").alias("new_label"),
          (col("cluster_id") < col("orig")).alias("moved"))
          .observe(obs, count(when(col("moved"), lit(1))).alias("moved_n")))
      changed = observedLong(obs, "moved_n")(
        updated.where(col("moved")).count())
      labels = updated
        .select(col("doc_id"), col("new_label").alias("cluster_id"))
      iter += 1
      // CONTRACT-AND-FINISH for long-chain graphs (§1 probe evidence: the
      // image pHash graph ran 14 rounds of ~8 near-empty jobs each — the
      // loop's cost at bench scale is DRIVER ROUND-TRIPS, not data). Once
      // the easy graphs have exited (LSH document graphs converge in 2-3
      // rounds), contract the edge set through the current labels: the
      // quotient graph holds one node per current label and only the
      // inter-supernode edges — cliques are already gone, only chain
      // residue remains. If that residue is small enough to bound (cap
      // below, conf-overridable), finish it with a driver-side union-find
      // whose union rule keeps the SMALLER id as root — the fixed point
      // is the same per-component minimum id the distributed loop
      // converges to, so results are identical by construction (pinned by
      // ComponentsFinishSpec against the pure distributed path). A graph
      // whose residue exceeds the cap keeps looping distributed — the
      // 100 TB-safe fallback; the finish is the same bounded-driver-work
      // class as a broadcast-join build (guide §3.1), never a corpus
      // collect.
      if (changed > 0 && integralIds && iter == nextProbe) {
        val cap = labels.sparkSession.conf
          .get(FinishEdgeCapKey, FinishEdgeCapDefault.toString).toLong
        if (cap > 0) {
          val la = labels
            .select(col("doc_id").alias("a_id"), col("cluster_id").alias("ca"))
          val lb = labels
            .select(col("doc_id").alias("b_id"), col("cluster_id").alias("cb"))
          val obsR = new org.apache.spark.sql.Observation()
          val contracted = Materialize(p
            .join(la, "a_id").join(lb, "b_id")
            .select(col("ca").cast("long").alias("ca"),
              col("cb").cast("long").alias("cb"))
            .where(col("ca") =!= col("cb")).distinct()
            .observe(obsR, count(lit(1)).alias("edges_n")))
          val residue = observedLong(obsR, "edges_n")(contracted.count())
          if (residue == 0) {
            // Every edge already joins same-label nodes: labels are
            // component-consistent, and a consistent labeling under
            // monotone min-propagation IS the per-component minimum
            // (the min node's own label can never rise above itself).
            changed = 0
          } else if (residue <= cap) {
            // Typed collect (r21, advisor): 2M (Long, Long) tuples, not
            // 2M GenericRows — the transient driver heap matches the
            // FinishEdgeCapDefault sizing argument.
            val roots = finishUnionFind(contracted
              .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
                org.apache.spark.sql.Encoders.scalaLong,
                org.apache.spark.sql.Encoders.scalaLong))
              .collect())
            if (roots.nonEmpty) {
              val sess = labels.sparkSession
              val rootMap = broadcast(sess.createDataFrame(
                roots.toSeq).toDF("from_label", "to_label"))
              labels = labels
                .join(rootMap, col("cluster_id") === col("from_label"), "left")
                .select(col("doc_id"),
                  coalesce(col("to_label"), col("cluster_id"))
                    .alias("cluster_id"))
            }
            changed = 0
          } else {
            // Over cap: back off — re-probing a stubbornly-large residue
            // every 3rd round is a standing tax on exactly the loops the
            // cap protects.
            probeEvery *= 2
          }
        }
        nextProbe = iter + probeEvery
      }
    }
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"Dedup.componentsFromPairs did not converge in $maxIters rounds " +
          s"($changed labels still moving) — with pointer jumping this " +
          "needs component diameter > ~2^maxIters; raise maxIters")
    // Singletons (ids with no near-dup candidate) self-label — a single
    // left join, outside the loop.
    universe.select(col(s"`$idCol`").alias("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id").alias(idCol),
        coalesce(col("cluster_id"), col("doc_id")).alias("cluster_id"))
  }

  /** Connected components via alternating large-star / small-star — the
    * Kiveris et al. "Connected Components in MapReduce and Beyond"
    * algorithm, the industry-standard CC at web scale and an alternative
    * to [[clusters]]' label propagation. Same contract: every document
    * labeled with its component's minimum doc_id.
    *
    *   - large-star: each node connects its LARGER neighbors to the
    *     minimum of its neighborhood (incl. itself);
    *   - small-star: each node connects its smaller-or-self closure to
    *     that minimum.
    *
    * Both phases are a symmetrize → groupBy(min) → equi-join — no
    * cartesian anywhere — and each round strictly shrinks the potential
    * function of the paper, converging in O(log² n) rounds regardless of
    * component diameter (where plain propagation without pointer jumping
    * needs O(diameter)). Convergence is detected by a (count, hash-sum)
    * checksum of the edge set staying fixed across a round — the
    * GraphFrames-style criterion; a collision would need two distinct
    * edge sets with equal count AND equal 64-bit hash XOR in the same
    * round, vanishingly unlikely and caught by the oracle on fixtures.
    * A per-round [[Materialize]] truncates lineage exactly like
    * [[clusters]].
    */
  def clustersBigStar(
      docs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxIters: Int = 50): DataFrame = {
    // Candidate edges, normalized a < b, deduplicated.
    var edges = minhashCandidates(docs, k, bands, threshold)
      .select(least(col("a_id"), col("b_id")).alias("a"),
        greatest(col("a_id"), col("b_id")).alias("b"))
      .where(col("a") =!= col("b")).distinct()
      .transform(Materialize(_))

    // XOR, not SUM: a 64-bit sum overflows under ANSI mode, and XOR is
    // just as order-independent. Duplicate-pair cancellation cannot occur
    // (the edge set is distinct by construction).
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        bit_xor(xxhash64(col("a"), col("b")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // Large-star: for every node u (over the symmetrized adjacency), emit
    // (min(N(u) ∪ {u}), v) for each neighbor v > u. Output stays a-< b
    // normalized because m ≤ u < v.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").alias("u"), col("b").alias("v"))
        .union(e.select(col("b").alias("u"), col("a").alias("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).alias("mv"))
      sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(least(col("u"), col("mv")).alias("a"), col("v").alias("b"))
        .where(col("a") =!= col("b"))
        .distinct()
    }

    // Small-star: per node u over its SMALLER neighbors N = {v < u},
    // m = min(N); emit (m, v) for v ∈ N and (m, u). Self-loops (v = m)
    // drop; all outputs keep a < b because m is the minimum.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("b").alias("u")).agg(min(col("a")).alias("m"))
      val joined = e.select(col("b").alias("u"), col("a").alias("v"))
        .join(mins, "u")
      joined.select(col("v").alias("x"), col("m"))
        .union(joined.select(col("u").alias("x"), col("m")))
        .where(col("x") =!= col("m"))
        .select(col("m").alias("a"), col("x").alias("b"))
        .distinct()
    }

    var prev = checksum(edges)
    var iter = 0
    var converged = prev._1 == 0L // no edges → everything is a singleton
    while (!converged && iter < maxIters) {
      edges = Materialize(smallStar(largeStar(edges)))
      val cs = checksum(edges)
      converged = cs == prev
      prev = cs
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"Dedup.clustersBigStar did not converge in $maxIters rounds — " +
          "far past the O(log² n) bound; raise maxIters")
    // Fixpoint edges form stars (component_min, member); singletons
    // self-label via the left join.
    docs.select(col("doc_id"))
      .join(edges.select(col("b").alias("doc_id"), col("a").alias("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).alias("cluster_id"))
  }

  /** Streaming exact deduplication: drops rows whose `keys` repeat within
    * the watermark horizon, with per-key state evicted once the watermark
    * passes — the streaming face of [[exact]]/[[contentHash]]. Use a
    * content hash (sha2) as the key for payload dedup so state carries
    * fixed-width keys, exactly like the batch variant's shuffle argument.
    * Callers must `withWatermark` upstream; state is bounded by horizon ×
    * ingest rate, never corpus size.
    */
  def streamingExact(stream: DataFrame, keys: Seq[String]): DataFrame =
    stream.dropDuplicatesWithinWatermark(keys)

  /** Streaming face of [[lineDedup]] — with one honest, DELIBERATE
    * semantic shift. CCNet's batch rule drops ALL copies of a duplicated
    * line; over an append stream that is unimplementable: by the time the
    * second copy arrives, the first has already been emitted, and undoing
    * it would need retractions no append sink supports. Worse, a drop-all
    * rule's state can never be evicted — whether a line is duplicated
    * "across the corpus" is only known at end-of-corpus, so its state IS
    * the corpus. The streaming rule is therefore FIRST-WINS: the first
    * occurrence of an (eligible) line inside the watermark horizon
    * survives, later copies are dropped. The boilerplate the batch rule
    * exists to strip — headers, nav bars, cookie banners — repeats many
    * times, so the two rules converge on those lines and differ only on
    * the first sighting (SURVEY §5.3 carries this as the documented
    * batch/stream divergence; this is a different operator contract, not
    * an approximation of the batch one).
    *
    * Shape: lines explode map-side with their position; dedup state is
    * keyed by the 8-byte xxhash64 (the batch operator's Exchange
    * discipline), bounded by horizon × line rate and evicted by the
    * watermark. Ineligible short lines bypass state entirely (kept
    * verbatim — the batch eligibility rule). Callers `withWatermark`
    * upstream, run append mode, and rebuild documents per micro-batch
    * with [[rebuildFromKeptLines]] in `foreachBatch` (batch-local
    * groupBy; no cross-batch state — a document's lines all ride one
    * input row, so they land in one batch).
    */
  def streamingLineDedup(
      stream: DataFrame,
      minChars: Int = LineDedupMinChars): DataFrame = {
    val parts = split(coalesce(col("text"), lit("")), "\n")
    val lines = stream.select(
      col("doc_id"), col("event_time"),
      posexplode(parts).as(Seq("line_no", "line")),
      size(parts).alias("n_lines"))
    val eligible = lines
      .where(length(col("line")) >= minChars)
      .withColumn("h", xxhash64(col("line")))
      .dropDuplicatesWithinWatermark(Seq("h"))
      .drop("h")
    eligible.unionByName(lines.where(length(col("line")) < minChars))
  }

  /** Per-micro-batch document rebuild for [[streamingLineDedup]]'s kept
    * lines: one row per document with surviving lines re-joined in
    * position order — `(doc_id, n_lines, n_dropped, text_dedup)`, the
    * batch operator's output shape. */
  def rebuildFromKeptLines(kept: DataFrame): DataFrame =
    kept
      .groupBy(col("doc_id"), col("n_lines"))
      .agg(sort_array(collect_list(struct(col("line_no"), col("line"))))
        .alias("ls"))
      .select(
        col("doc_id"),
        col("n_lines"),
        (col("n_lines") - size(col("ls"))).alias("n_dropped"),
        array_join(transform(col("ls"), x => x("line")), "\n")
          .alias("text_dedup"))

  /** Consecutive word bigrams ("w1 w2"), order-preserving — native
    * codegen'd loop (graft.functions.Bigrams), bit-identical to the
    * interpreted `transform(sequence(...), concat_ws)` chain it replaced
    * (including the empty array for < 2 tokens, where the declarative form
    * needed a guard against `sequence(1, 0)` counting DOWN).
    */
  def bigramsOf(toks: Column): Column =
    graft.functions.Bigrams.wordBigrams(toks)

  /** Convenience: bigrams straight from raw text (fine for single use;
    * stage via [[shingleSets]] when the result feeds further lambdas).
    */
  def bigrams(text: Column): Column = bigramsOf(tokens(text))

  /** Minimum Jaccard for [[setSimJoin]] — higher than the LSH family's
    * 0.3 verify bar on purpose: the exact join is the auditor's tool
    * (no false negatives to hand-wave), and a tight threshold keeps the
    * provably-complete candidate set small.
    */
  val SetSimThreshold = 0.5

  /** Shingle width for the EXACT set-similarity family — w-token
    * shingles (Broder'97 resemblance uses w ≈ 4-10), NOT the engine's
    * bigram convention. Deliberate: prefix filtering's cost is governed
    * by the DISTINCT-shingle universe, and on a narrow vocabulary the
    * bigram universe is tiny (the sf1.0 fixture: ~40 words → ~1.6k
    * bigrams across 50k docs, so every doc holds ~9 % of the universe,
    * prefixes overlap structurally, and the candidate equi-join measured
    * into the billions of rows). At w=4 the universe is vocab⁴-scale,
    * per-shingle document frequency drops to single digits, and the join
    * degenerates to near-linear — the same reason MinHash shingling uses
    * wide windows. LSH-family operators keep bigrams (their candidates
    * come from banded signatures, never per-shingle joins).
    */
  val SetSimShingleW = 4

  /** (doc_id, grams): distinct w-token shingle sets ([[SetSimShingleW]]).
    * Tokenization staged before the shingle stage (the [[shingleSets]]
    * quadratic-HOF hazard); the sliding window itself is the native
    * codegen'd [[graft.functions.WordShingles]] — the interpreted-HOF
    * form (w element_ats + concat_ws per window) measured 14 s at sf0.1
    * and dominated the whole exact set-similarity family.
    */
  def shingleSetsW(docs: DataFrame, w: Int = SetSimShingleW): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).alias("toks"))
      .select(col("doc_id"),
        graft.functions.WordShingles.shingles(col("toks"), w).alias("grams"))

  /** EXACT set-similarity self-join (AllPairs/PPJoin prefix filtering,
    * Bayardo et al. WWW'07; Xiao et al. WWW'08): every pair of documents
    * with shingle-set Jaccard ≥ `threshold` — no LSH probability of a
    * missed pair, which is the difference between "we probably caught the
    * near-dups" and a licensing/contamination audit that must certify NONE
    * remain above the bar.
    *
    * Completeness without all-pairs: order each doc's shingles by a global
    * rare-first key (corpus document frequency asc, then 30-bit hash, then
    * shingle — fully deterministic), and take each doc's PREFIX of length
    * `|d| − ⌈τ·|d|⌉ + 1`. SSJoin Lemma 1 (Chaudhuri et al., ICDE'06): if
    * `|x∩y| ≥ α` then the first `|x|−α+1` of x and first `|y|−α+1` of y
    * share a token; with `α = ⌈τ/(1+τ)·(|x|+|y|)⌉` (≡ J ≥ τ) and the
    * length filter `τ·|x| ≤ |y|`, α ≥ ⌈τ·|x|⌉ — so the τ-prefixes above
    * are at least lemma-length and a PREFIX×PREFIX equi-join already sees
    * every qualifying pair. Exact `array_intersect` verification then
    * makes the output exactly `{(a,b) : J ≥ τ}`.
    *
    * The candidate join also applies PPJoin's POSITIONAL filter (Xiao et
    * al., WWW'08): a shared shingle at rare-first positions `(i, j)`
    * bounds the total overlap by `1 + min(|x|−i, |y|−j)`; rows under α
    * drop inside codegen before the distinct. Safe because the FIRST
    * shared shingle of a qualifying pair sits at lemma positions, where
    * the bound is ≥ α — some witness row always survives. This is what
    * holds the join together on DENSE shingle universes (the sf1.0
    * fixture: a 40-word vocabulary → ~1.6k distinct bigrams across 50k
    * docs, where per-shingle fan-out is structurally in the hundreds and
    * a full-stream×prefix join measured right into the billions of
    * candidate rows).
    *
    * Scale shape: one shingling pass (materialized — feeds the frequency
    * count, the candidate join, and both verify sides), document-frequency
    * ordering via a per-doc window (one shuffle on doc_id), candidates as
    * a shingle-hash equi-join carrying ONLY prefix tokens on both sides —
    * rare-first ordering pushes boilerplate shingles out of prefixes, and
    * the length + positional filters prune inside codegen before the
    * distinct's exchange. Cost stays output-sensitive: a corpus where
    * thousands of docs ARE mutual near-dups has a Θ(dups²) answer no
    * algorithm shrinks.
    */
  def setSimJoin(
      docs: DataFrame,
      threshold: Double = SetSimThreshold): DataFrame = {
    val grams = Materialize(
      shingleSetsW(docs).where(size(col("grams")) > 0))
    val ex = grams
      .select(col("doc_id"), size(col("grams")).alias("sz"),
        explode(col("grams")).alias("g"))
    val dfreq = ex.groupBy(col("g")).agg(count(lit(1)).alias("dfreq"))
    val rk = row_number().over(
      Window.partitionBy(col("doc_id"))
        .orderBy(col("dfreq"), baseHash30(col("g")), col("g")))
    val prefix = Materialize(ex.join(dfreq, "g")
      .select(col("doc_id"), col("sz"), col("g"), rk.alias("rk"))
      .where(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1))
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("a_sz") + col("b_sz")))
    val posBound = lit(1) +
      least(col("a_sz") - col("a_rk"), col("b_sz") - col("b_rk"))
    val cands = prefix
      .select(col("g"), col("doc_id").alias("a_id"),
        col("sz").alias("a_sz"), col("rk").alias("a_rk"))
      .join(prefix.select(col("g"), col("doc_id").alias("b_id"),
        col("sz").alias("b_sz"), col("rk").alias("b_rk")), "g")
      .where(col("a_id") < col("b_id"))
      .where(col("b_sz") * lit(threshold) <= col("a_sz") &&
        col("a_sz") * lit(threshold) <= col("b_sz"))
      .where(posBound >= alpha)
      .select(col("a_id"), col("b_id"))
      .distinct()
    val inter = size(array_intersect(col("grams_a"), col("grams_b")))
    val jac = inter.cast("double") /
      (size(col("grams_a")) + size(col("grams_b")) - inter)
    cands
      .join(grams.select(col("doc_id").alias("a_id"),
        col("grams").alias("grams_a")), "a_id")
      .join(grams.select(col("doc_id").alias("b_id"),
        col("grams").alias("grams_b")), "b_id")
      .select(col("a_id"), col("b_id"), round(jac, 6).alias("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Row-local hash-ordered τ-prefix of a shingle array: the first `keep`
    * grams under the (30-bit hash, gram) total order. Unlike the batch
    * joins' rare-first (corpus document frequency) order this needs NO
    * global statistics — a pure per-row projection an ARRIVING stream row
    * can compute without seeing the corpus — at the cost of weaker (but
    * still exact) pruning: prefix-filter completeness needs only that
    * some FIXED total order on tokens is applied consistently to every
    * prefixed side (SSJoin Lemma 1 quantifies over any global order; see
    * [[setSimJoin]]). Hashes come from the native [[baseHash30Array]]
    * kernel; only the zip/sort/slice run as interpreted HOFs, over one
    * document's gram list at a time.
    */
  private def hashPrefix(grams: Column, keep: Column): Column =
    slice(
      transform(
        array_sort(zip_with(baseHash30Array(grams), grams,
          (h, g) => struct(h.alias("h"), g.alias("g")))),
        e => e.getField("g")),
      lit(1), keep)

  /** τ-prefix length `|s| − ⌈τ·|s|⌉ + 1` (see [[setSimJoin]]'s lemma
    * discussion) as a column. */
  private def tauPrefixLen(sz: Column, threshold: Double): Column =
    (sz - ceil(lit(threshold) * sz) + 1).cast("int")

  /** Stream-side shingle frame: `(doc_id, event_time, grams, ssz)` with
    * empty-gram rows dropped — [[shingleSetsW]] with the event-time
    * column carried through for the watermarked dedup downstream.
    */
  private def streamGrams(stream: DataFrame, w: Int): DataFrame =
    stream.select(col("doc_id"), col("event_time"),
      tokens(col("text")).alias("toks"))
      .select(col("doc_id"), col("event_time"),
        graft.functions.WordShingles.shingles(col("toks"), w).alias("grams"))
      .where(size(col("grams")) > 0)
      .withColumn("ssz", size(col("grams")))

  /** Reference-df cap for the streaming screens' posting indexes — the
    * streaming port of the batch [[MaxDocsPerShingle]] boilerplate guard
    * (r16 verdict item 1): a gram held by more than this many reference
    * documents is HOT (boilerplate), excluded from the capped main-path
    * index, and served by the bounded fallback arm instead (see
    * [[streamingSetSimScreen]]). Cold-path fan-out per arriving prefix
    * gram is ≤ this cap BY CONSTRUCTION.
    */
  val StreamScreenMaxDocsPerGram = 64

  /** Bound on the hot-gram hash set collected to the driver when a
    * screen is built (a STATIC, construction-time collect — 8 bytes per
    * hot gram; 2M ⇒ 16 MB). Grams over the df cap are boilerplate by
    * definition, so real corpora sit far below this; hitting it means
    * the cap is set below the corpus's vocabulary knee, not that the
    * corpus is big.
    */
  val StreamScreenMaxHotGrams = 2000000

  /** Sorted 30-bit base-hash set of the reference grams whose document
    * frequency exceeds `cap` — hotness is defined BY HASH (collisions
    * promote a cold gram to hot, never the reverse), so the stream and
    * reference sides classify identically and the partition of the gram
    * universe into hot/cold is consistent everywhere, which is all the
    * split-lemma in [[streamingSetSimScreen]] needs. Bounded collect:
    * `limit(max + 1)` caps the driver transfer itself, not just the
    * post-hoc check.
    */
  private def hotGramHashes(rg: DataFrame, cap: Int): Array[Long] = {
    val hot = rg.select(explode(col("grams")).alias("g"))
      .select(baseHash30(col("g")).alias("h"))
      .groupBy(col("h")).agg(count(lit(1)).alias("df"))
      .where(col("df") > cap)
      .select(col("h"))
      .limit(StreamScreenMaxHotGrams + 1)
      .collect().map(_.getLong(0))
    require(hot.length <= StreamScreenMaxHotGrams,
      s"over $StreamScreenMaxHotGrams reference grams exceed the " +
        s"df cap $cap — the cap sits below the corpus vocabulary knee; " +
        "raise it (Dedup.StreamScreenMaxDocsPerGram)")
    java.util.Arrays.sort(hot)
    hot
  }

  /** Stream-side arm-tagged prefix explode shared by both screens: each
    * arriving document splits its gram set into COLD (reference df ≤ cap)
    * and HOT grams under the broadcast hot-hash set, emits its τ-prefix
    * over the COLD gram list (arm `"c"` — always), and, ONLY when hot
    * grams alone could satisfy the overlap bound (`hsz ≥ ⌈τ·|s|⌉` — a
    * boilerplate-dominated row), also its prefix over the HOT gram list
    * (arm `"h"` — the bounded fallback). One explode, one downstream
    * equi-join on `(arm, g)`; rows that aren't boilerplate-dominated
    * contribute zero hot-arm rows (`slice(…, 1, 0)` is empty, not null).
    *
    * Completeness of the split (why capping loses NOTHING — the union of
    * the two arms witnesses every qualifying pair, so results are
    * IDENTICAL to the uncapped screen): let H be the hot grams and
    * α = |s∩r| ≥ ⌈τ·|s|⌉ for a qualifying pair.
    *  - If the pair shares ≥ 1 cold gram: the SMALLEST shared cold gram
    *    c₁ (global (hash, gram) order) has all α′−1 other shared cold
    *    grams after it, so its position in s's cold list is
    *    ≤ |s∩Hᶜ| − α′ + 1 ≤ |s| − α + 1 ≤ |s| − ⌈τ·|s|⌉ + 1 (using
    *    α − α′ = |s∩r∩H| ≤ |s∩H|) — inside the cold-arm prefix; the
    *    same bound holds on the reference side, so the cold equi-join
    *    sees it.
    *  - Else s∩r ⊆ H, so α ≤ |s∩H| forces ⌈τ·|s|⌉ ≤ hsz — the row IS
    *    boilerplate-dominated and takes the fallback arm, where the
    *    smallest shared (hot) gram sits within the first
    *    hsz − ⌈τ·|s|⌉ + 1 hot grams by the same count.
    */
  private def routedStreamPrefix(
      stream: DataFrame, w: Int, threshold: Double,
      hot: Array[Long]): DataFrame = {
    def tag(arm: String, g: Column): Column =
      struct(lit(arm).alias("arm"), g.alias("g"))
    streamGrams(stream, w)
      .withColumn("grams_cold",
        graft.functions.HashSetFilter.reject(col("grams"), hot))
      .withColumn("needed", ceil(lit(threshold) * col("ssz")).cast("int"))
      .withColumn("hsz", col("ssz") - size(col("grams_cold")))
      .withColumn("ag", explode(concat(
        transform(
          hashPrefix(col("grams_cold"), col("ssz") - col("needed") + 1),
          g => tag("c", g)),
        transform(
          hashPrefix(array_except(col("grams"), col("grams_cold")),
            when(col("hsz") >= col("needed"),
              col("hsz") - col("needed") + 1).otherwise(lit(0))),
          g => tag("h", g)))))
      .select(col("doc_id"), col("event_time"), col("grams"),
        col("ssz"), col("needed"),
        col("ag.arm").alias("arm"), col("ag.g").alias("g"))
  }

  /** Streaming EXACT set-similarity screen against a STATIC reference
    * corpus (r15 verdict item 5): every arriving document is checked for
    * shingle Jaccard ≥ `threshold` against the reference — the ingest
    * face of [[setSimJoinCross]], emitting `(doc_id, ref_id, jaccard,
    * event_time)` per qualifying pair in append mode. ZERO false
    * negatives, like the batch certifier: candidates come from a
    * hash-ordered τ-prefix equi-join — the stream row's prefix against
    * the reference's prefix index, both under the SAME (hash, gram)
    * total order, complete by SSJoin Lemma 1 exactly as in
    * [[setSimJoin]] (after the length filter, α ≥ ⌈τ·|x|⌉ and
    * ≥ ⌈τ·|y|⌉, so both τ-prefixes are lemma-length). Rare-first
    * ordering is unavailable to a stream row (corpus df is a global
    * statistic), so pruning is weaker than the batch join's — the price
    * of arrival-time screening; the exact verification is identical.
    *
    * Scale shape: the reference prefix index is STATIC — built once,
    * materialized, shuffled only by the stream-static equi-join on the
    * gram (Spark broadcasts it when small; at 100 TB reference scale it
    * is the persisted posting index an ingest gate keeps anyway). The
    * stream side is a pure projection + explode of the arriving rows —
    * no window, no stream-side shuffle before the join (the only driver
    * collect is the bounded, construction-time hot-gram hash set).
    * Candidate duplicates (pairs sharing several prefix grams) are
    * dropped by [[streamingExact]]'s watermark-bounded state BEFORE the
    * verify join, so each candidate pair verifies once per watermark
    * horizon.
    *
    * Hot-gram cap (r16 verdict item 1 — the scale hazard this screen
    * had): one boilerplate gram held by df reference docs used to fan
    * every arrival whose prefix contained it into df candidate pairs,
    * each paying a state row. The index is now split at
    * `maxDocsPerGram` reference holders (the streaming port of the
    * batch [[MaxDocsPerShingle]] guard): the MAIN path joins cold
    * prefixes against the cold index — per-gram fan-out ≤ cap by
    * construction — and ONLY boilerplate-dominated rows (hot grams
    * alone could reach the overlap bound) take the fallback arm against
    * the hot index, which for Jaccard holds only boilerplate-dominated
    * REFERENCE docs (see the body comments). The split loses nothing:
    * [[routedStreamPrefix]]'s lemma shows the union of the arms
    * witnesses every qualifying pair, so output is IDENTICAL to the
    * uncapped screen ([[graft.ops.StreamScreenSpec]] pins equality to
    * the batch certifier, including under a boilerplate flood).
    *
    * @param stream watermarked `(doc_id, text, event_time)` rows
    * @param reference static `(doc_id, text)` corpus
    */
  def streamingSetSimScreen(
      stream: DataFrame,
      reference: DataFrame,
      threshold: Double = SetSimThreshold,
      w: Int = SetSimShingleW,
      maxDocsPerGram: Int = StreamScreenMaxDocsPerGram): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold — the τ-prefix " +
        "length formula is undefined outside it")
    val rg = Materialize(shingleSetsW(reference, w)
      .where(size(col("grams")) > 0))
    val hot = hotGramHashes(rg, maxDocsPerGram)
    val needR = ceil(lit(threshold) * col("rsz")).cast("int")
    // Cold arm of the static index: τ-prefix over each reference doc's
    // COLD grams (standard length |r| − ⌈τ·|r|⌉ + 1 — see
    // [[routedStreamPrefix]]'s lemma). Every cold gram has df ≤ cap, so
    // a stream prefix gram fans into ≤ cap candidates by construction.
    val rcold = rg
      .select(col("doc_id").alias("ref_id"),
        size(col("grams")).alias("rsz"),
        graft.functions.HashSetFilter.reject(col("grams"), hot).alias("gc"))
      .withColumn("g", explode(hashPrefix(col("gc"), col("rsz") - needR + 1)))
      .select(lit("c").alias("arm"), col("g"), col("ref_id"), col("rsz"))
    // Hot arm: a pair whose ENTIRE overlap is hot grams needs
    // α ≤ |r∩H| and α ≥ ⌈τ·|r|⌉ — only boilerplate-dominated reference
    // docs can participate, so the hot index holds ONLY those, prefixed
    // over their hot gram lists. Both fallback sides are bounded by the
    // measured boilerplate-dominated fractions, not by gram df.
    val rhot = rg
      .select(col("doc_id").alias("ref_id"),
        size(col("grams")).alias("rsz"),
        graft.functions.HashSetFilter.keep(col("grams"), hot).alias("gh"))
      .withColumn("rhsz", size(col("gh")))
      .where(col("rhsz") >= needR)
      .withColumn("g", explode(hashPrefix(col("gh"), col("rhsz") - needR + 1)))
      .select(lit("h").alias("arm"), col("g"), col("ref_id"), col("rsz"))
    val ridx = Materialize(rcold.unionByName(rhot))
    val spre = routedStreamPrefix(stream, w, threshold, hot)
    val cands = spre.join(ridx, Seq("arm", "g"))
      // Jaccard ≥ τ forces the size ratio into [τ, 1/τ] — prune inside
      // codegen before any state or verify work.
      .where(col("rsz") * lit(threshold) <= col("ssz") &&
        col("ssz") * lit(threshold) <= col("rsz"))
      .select(col("doc_id"), col("event_time"), col("grams"), col("ref_id"))
    val once = streamingExact(cands, Seq("doc_id", "ref_id"))
    val inter = size(array_intersect(col("grams"), col("ref_grams")))
    val jac = inter.cast("double") /
      (size(col("grams")) + size(col("ref_grams")) - inter)
    once
      .join(rg.select(col("doc_id").alias("ref_id"),
        col("grams").alias("ref_grams")), "ref_id")
      .select(col("doc_id"), col("ref_id"),
        round(jac, 6).alias("jaccard"), col("event_time"))
      .where(col("jaccard") >= threshold)
  }

  /** Streaming EXACT containment screen against a static reference: every
    * arriving document whose shingle set is ≥ `threshold` CONTAINED in
    * some reference document — `|s∩r| / |s| ≥ τ` — emitted as
    * `(doc_id, ref_id, containment, event_time)`. This is the streaming
    * face of contamination gating: an arriving training document mostly
    * made of benchmark text is flagged at ingest, not at the next batch
    * decontamination sweep.
    *
    * Candidates: the stream row's hash-ordered τ-prefix (α = ⌈τ·|s|⌉ is
    * known per row — containment denominates by the STREAM side) against
    * the reference's posting index. The reference side cannot be
    * PREFIXED here: α carries no lower bound in |r|, so a reference
    * prefix could exclude exactly the witnessed grams (the asymmetry
    * between this screen and the Jaccard one). Completeness is the
    * pigeonhole form of the lemma: an overlap of α grams cannot avoid a
    * prefix that excludes only α − 1 of the stream row's grams. But the
    * index IS df-capped (r16 verdict item 1): grams held by more than
    * `maxDocsPerGram` reference docs route through the hot fallback arm,
    * reached only by boilerplate-dominated arrivals — see the body
    * comments and [[routedStreamPrefix]] for why the split is lossless.
    * The index is static, built once; everything stream-side is a
    * projection + explode, dedup state watermark-bounded as above.
    */
  def streamingContainmentScreen(
      stream: DataFrame,
      reference: DataFrame,
      threshold: Double = 0.5,
      w: Int = SetSimShingleW,
      maxDocsPerGram: Int = StreamScreenMaxDocsPerGram): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold — the τ-prefix " +
        "length formula is undefined outside it")
    val rg = Materialize(shingleSetsW(reference, w)
      .where(size(col("grams")) > 0))
    val hot = hotGramHashes(rg, maxDocsPerGram)
    // Containment denominates by the STREAM side, so the reference index
    // can't be prefixed (see above) — but it CAN be df-capped: the cold
    // arm carries full COLD postings (≤ cap holders each — the batch
    // [[MaxDocsPerShingle]] posture), and the hot postings are reached
    // only by boilerplate-dominated arrivals via the fallback arm of
    // [[routedStreamPrefix]] (a pair whose overlap is all hot grams
    // forces ⌈τ·|s|⌉ ≤ |s∩H| on the ARRIVAL — the reference side needs
    // no condition, so hot postings stay full-length; the fallback's
    // bound is the measured boilerplate-dominated arrival rate, and its
    // emissions are true-output-shaped: a mostly-boilerplate arrival
    // genuinely IS contained in every reference doc sharing the block).
    val rcold = rg
      .select(col("doc_id").alias("ref_id"),
        size(col("grams")).alias("rsz"),
        explode(graft.functions.HashSetFilter.reject(col("grams"), hot))
          .alias("g"))
      .select(lit("c").alias("arm"), col("g"), col("ref_id"), col("rsz"))
    val rhot = rg
      .select(col("doc_id").alias("ref_id"),
        size(col("grams")).alias("rsz"),
        explode(graft.functions.HashSetFilter.keep(col("grams"), hot))
          .alias("g"))
      .select(lit("h").alias("arm"), col("g"), col("ref_id"), col("rsz"))
    val ridx = Materialize(rcold.unionByName(rhot))
    val spre = routedStreamPrefix(stream, w, threshold, hot)
    val cands = spre.join(ridx, Seq("arm", "g"))
      // |s∩r| ≥ ⌈τ·|s|⌉ needs |r| ≥ ⌈τ·|s|⌉ — prune in codegen before
      // any state is paid.
      .where(col("rsz") >= col("needed"))
      .select(col("doc_id"), col("event_time"), col("grams"), col("ref_id"))
    val once = streamingExact(cands, Seq("doc_id", "ref_id"))
    val containment =
      size(array_intersect(col("grams"), col("ref_grams"))).cast("double") /
        size(col("grams"))
    once
      .join(rg.select(col("doc_id").alias("ref_id"),
        col("grams").alias("ref_grams")), "ref_id")
      .select(col("doc_id"), col("ref_id"),
        round(containment, 6).alias("containment"), col("event_time"))
      .where(col("containment") >= threshold)
  }

  /** Number of fixed PageRank rounds both engines replay — an iteration
    * COUNT, not a tolerance (see [[pagerankFromPairs]]: fixed rounds are
    * the bit-exact cross-engine contract; convergence tests are not).
    */
  val PagerankIters = 10

  /** Cross-corpus EXACT set-similarity join: every (left, right) pair
    * with shingle Jaccard ≥ `threshold` — the R×S face of [[setSimJoin]]
    * and the certifier behind exact decontamination (every benchmark doc
    * a corpus doc still resembles above the bar IS found; Bloom and LSH
    * screens promise only probability).
    *
    * Same machinery as [[setSimJoin]]: rare-first global order over the
    * UNION vocabulary of both corpora (a shared view both engines derive
    * identically), τ-prefixes on BOTH sides (complete by SSJoin Lemma 1 —
    * see the self-join scaladoc), PPJoin positional filter inside
    * codegen, exact verification on the candidates.
    *
    * Scale: one shingling pass per side (each materialized: feeds
    * df-count, join, verify), candidates as a shingle equi-join carrying
    * only prefix tokens of either side.
    */
  def setSimJoinCross(
      left: DataFrame,
      right: DataFrame,
      threshold: Double = SetSimThreshold): DataFrame = {
    val lg = Materialize(shingleSetsW(left).where(size(col("grams")) > 0))
    val rg = Materialize(shingleSetsW(right).where(size(col("grams")) > 0))
    val lex = lg.select(col("doc_id").alias("left_id"),
      size(col("grams")).alias("lsz"), explode(col("grams")).alias("g"))
    val rex = rg.select(col("doc_id").alias("right_id"),
      size(col("grams")).alias("rsz"), explode(col("grams")).alias("g"))
    val dfreq = lex.select(col("g")).union(rex.select(col("g")))
      .groupBy(col("g")).agg(count(lit(1)).alias("dfreq"))
    val lrk = row_number().over(
      Window.partitionBy(col("left_id"))
        .orderBy(col("dfreq"), baseHash30(col("g")), col("g")))
    val rrk = row_number().over(
      Window.partitionBy(col("right_id"))
        .orderBy(col("dfreq"), baseHash30(col("g")), col("g")))
    val lprefix = lex.join(dfreq, "g")
      .select(col("left_id"), col("lsz"), col("g"), lrk.alias("lrk"))
      .where(col("lrk") <= col("lsz") - ceil(lit(threshold) * col("lsz")) + 1)
    val rprefix = rex.join(dfreq, "g")
      .select(col("right_id"), col("rsz"), col("g"), rrk.alias("rrk"))
      .where(col("rrk") <= col("rsz") - ceil(lit(threshold) * col("rsz")) + 1)
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("lsz") + col("rsz")))
    val posBound = lit(1) +
      least(col("lsz") - col("lrk"), col("rsz") - col("rrk"))
    val cands = lprefix
      .join(rprefix, "g")
      .where(col("rsz") * lit(threshold) <= col("lsz") &&
        col("lsz") * lit(threshold) <= col("rsz"))
      .where(posBound >= alpha)
      .select(col("left_id"), col("right_id"))
      .distinct()
    val inter = size(array_intersect(col("grams_l"), col("grams_r")))
    val jac = inter.cast("double") /
      (size(col("grams_l")) + size(col("grams_r")) - inter)
    cands
      .join(lg.select(col("doc_id").alias("left_id"),
        col("grams").alias("grams_l")), "left_id")
      .join(rg.select(col("doc_id").alias("right_id"),
        col("grams").alias("grams_r")), "right_id")
      .select(col("left_id"), col("right_id"),
        round(jac, 6).alias("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Fixed-round integer PageRank over an undirected pair graph — the
    * centrality face of keeper selection: inside a near-dup cluster the
    * doc most linked to everything else is the canonical copy (the one
    * every crawl variant resembles), a materially better keeper signal
    * than min-id when variants differ in quality.
    *
    * Determinism across engines is by construction: ranks live in integer
    * MICRO-units, each round computes
    * `r'(v) = 150000 + 85·(Σ_{u~v} ⌊r(u)/deg(u)⌋)/100` with floor
    * division at both steps — no float accumulation order to diverge, so
    * the DuckDB recursive-CTE twin reproduces every round bit-exactly.
    * Rounds are FIXED (`iters`), not converged: a fixed iteration count is
    * the contract both engines can replay exactly.
    *
    * Scale shape: the graph lives once ([[Materialize]]d pairs), each
    * round is one equi-join + groupBy over EDGES (not the corpus), each
    * round's result is materialized so lineage stays flat — the
    * [[componentsFromPairs]] discipline. Nodes outside the pair graph are
    * singletons that would hold the base rank forever; they are excluded
    * (callers attach them at base rank if needed), so 100 TB of singleton
    * ids never shuffle through the loop.
    *
    * @param pairs `(a_id, b_id)` undirected candidate/verified pairs
    * @return `(doc_id, rank_micro)` for every graph node
    */
  def pagerankFromPairs(
      pairs: DataFrame,
      iters: Int = PagerankIters): DataFrame = {
    require(iters >= 1 && iters <= 50,
      s"pagerankFromPairs iters=$iters out of [1, 50] — fixed-round " +
        "integer PageRank is a replayable contract, not a convergence loop")
    val p = Materialize(pairs.select(col("a_id"), col("b_id")))
    val sym = p
      .union(p.select(col("b_id").alias("a_id"), col("a_id").alias("b_id")))
      .select(col("a_id").alias("src"), col("b_id").alias("dst"))
    val deg = Materialize(
      sym.groupBy(col("src")).agg(count(lit(1)).alias("deg")))
    // Degree is loop-INVARIANT: attach it to the edge set once, and
    // hash-partition the combined frame by `src` so each of the `iters`
    // rounds joins only the (node-sized) rank table into the edges'
    // standing partitioning — previously every round re-joined deg AND
    // re-shuffled the edge set, `iters` extra edge-scale exchanges for
    // the same integer arithmetic.
    val edgesDeg = Materialize(
      sym.join(deg, "src").repartition(col("src")))
    var ranks = deg.select(col("src").alias("doc_id"),
      lit(1000000L).alias("rank_micro"))
    // Rounds run with AQE off (see [[LoopAqeKey]]): every frame in here
    // is the materialized hash-partitioned graph, and AQE's per-shuffle
    // sub-jobs were the measured per-round cost (§1 probe: one stage job
    // per round on a kilobyte-scale rank table).
    withLoopAqe(ranks.sparkSession) {
    for (i <- 1 to iters) {
      val contrib = edgesDeg
        .join(ranks, edgesDeg("src") === ranks("doc_id"))
        .select(col("dst"),
          expr("rank_micro DIV deg").alias("c"))
      val next = contrib
        .groupBy(col("dst").alias("doc_id"))
        .agg((lit(150000L) + expr("85 * sum(c) DIV 100"))
          .alias("rank_micro"))
      // Checkpoint every THIRD round (and the last), not every round: the
      // rank lineage grows LINEARLY (each round adds one join + one agg —
      // edgesDeg is a checkpointed leaf, never re-expanded), so a 3-round
      // chain keeps the plan shallow while cutting the per-round driver
      // action — a localCheckpoint job plus its scheduling latency, the
      // dominant per-round cost on an already-tiny graph (§1: the probe
      // showed ~100 near-empty jobs; §2.4 batch work between actions).
      // Results are bit-identical: checkpointing changes WHEN rounds
      // evaluate, not what they compute (integer micro-unit arithmetic).
      ranks = if (i % 3 == 0 || i == iters) Materialize(next) else next
    }
    }
    ranks
  }

  /** The dedup DECISION table from centrality: connected components over
    * the VERIFIED near-dup graph, keeper per cluster = highest
    * [[pagerankFromPairs]] rank (doc_id tie-break) — the variant every
    * crawl copy resembles most wins, instead of min-id's arbitrary pick.
    * Both consumers share ONE materialized pair set; components and ranks
    * each iterate over the (tiny) graph only; the final keeper window
    * partitions by cluster_id carrying three id/long columns — never
    * text. Singletons (and clusters whose members all miss a rank —
    * impossible by construction, but the NULLS LAST order makes it
    * harmless) keep themselves.
    *
    * @return `(doc_id, cluster_id, rank_micro nullable, keeper_id, keep)`
    */
  def pagerankKeepers(
      docs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      estThreshold: Double = 0.5,
      jaccardThreshold: Double = 0.3): DataFrame = {
    val pairs = Materialize(
      ngramJaccard(docs, k, bands, estThreshold, jaccardThreshold)
        .select(col("a_id"), col("b_id")))
    val labels = componentsFromPairs(pairs, docs)
    val ranks = pagerankFromPairs(pairs)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("rank_micro").desc_nulls_last, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    labels.join(ranks, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"), col("rank_micro"),
        first(col("doc_id")).over(w).alias("keeper_id"))
      .withColumn("keep", col("doc_id") === col("keeper_id"))
  }
}
