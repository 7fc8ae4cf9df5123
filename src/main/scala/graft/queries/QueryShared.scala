package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.harness.StandIn
import graft.ops.{AlertLifecycle, AlertRules, Aggregates, Bpe, Curation, Dedup, Multimodal, Parse, Profile, Sessionize, Similarity, TextAnalysis, TextRules}

/** Cross-family shared constants and DuckDB SQL fragments (tokenizer
  * CTEs, minhash/bucket/component chains, BPE and quality-model train
  * chains, SRP/IVF geometry). One definition serves every family so the
  * Spark operators and their oracle twins cannot drift apart.
  */
object QueryShared {

  private[queries] val MinhashK = 16

  private[queries] val MinhashBands = 4

  private[queries] val MinhashEstThreshold = 0.5

  // Non-distinct twin of Dedup.tokens — term statistics and quality metrics
  // are multiset-based.
  private[queries] val rawToksSql =
    """toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
      |           w -> len(w) > 0) AS t
      |  FROM documents
      |)""".stripMargin

  private[queries] def hashSql(prefixExpr: String, wVar: String = "w"): String =
    s"CAST(concat('0x', substr(md5(concat($prefixExpr, $wVar)), 1, 15)) AS BIGINT)"

  // Shared twin of BOTH line-dedup regimes (lineDedup / lineDedupJoin):
  // one SQL string, so the broadcast-set and join-rebuild variants are
  // pinned to byte-identical output.

  // Word-bigram shingle sets (Dedup.bigrams, distinct) — the minhash
  // shingling unit.
  private[queries] val gramsSql =
    """grams AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(tt) >= 2
      |           THEN list_transform(range(1, len(tt)),
      |                i -> concat(tt[CAST(i AS INT)], ' ',
      |                            tt[CAST(i AS INT) + 1]))
      |           ELSE [] END) AS g
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
      |            w -> len(w) > 0) AS tt
      |        FROM documents)
      |)""".stripMargin

  // Twin of Dedup.shingleSetsW (w = SetSimShingleW = 4): the exact
  // set-similarity family's WIDE shingles (Broder resemblance windows) —
  // range(1, len-2) yields starts 1..len-3, i.e. len-w+1 shingles, the
  // same count as Spark's sequence(0, size-w).
  private[queries] val setsimGramsSql =
    """sgrams AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(tt) >= 4
      |           THEN list_transform(range(1, len(tt) - 2),
      |                i -> concat(tt[CAST(i AS INT)], ' ',
      |                            tt[CAST(i AS INT) + 1], ' ',
      |                            tt[CAST(i AS INT) + 2], ' ',
      |                            tt[CAST(i AS INT) + 3]))
      |           ELSE [] END) AS g
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
      |            w -> len(w) > 0) AS tt
      |        FROM documents)
      |)""".stripMargin

  // Base-hash + affine family twin of Dedup.minhashSignatures: one md5 per
  // shingle, k affine transforms. Constants come from Dedup.affineParams so
  // both engines agree bit-for-bit.
  private[queries] val sigSql = {
    val entries = Dedup.affineParams(MinhashK).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % ${Dedup.AffineMod}))"
    }.mkString(",\n    ")
    s"""bh AS (
       |  SELECT doc_id,
       |         list_transform(g, w -> ${hashSql("'0:'")} & ${(1L << 30) - 1})
       |           AS hs
       |  FROM grams
       |), sigs AS (
       |  SELECT doc_id, [
       |    $entries
       |  ] AS sig FROM bh
       |)""".stripMargin
  }

  private[queries] val bucketsSql = {
    val r = MinhashK / MinhashBands
    s"""buckets AS (
       |  SELECT doc_id, sig, b.band AS band,
       |         md5(array_to_string(list_transform(
       |           sig[b.band * $r + 1 : b.band * $r + $r],
       |           x -> CAST(x AS VARCHAR)), '-')) AS bucket
       |  FROM sigs, (SELECT unnest(range(0, $MinhashBands)) AS band) b
       |)""".stripMargin
  }

  private[queries] val candidatePairsSql =
    s"""pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM buckets a
       |  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
       |                AND a.doc_id < b.doc_id
       |), est AS (
       |  SELECT p.a_id, p.b_id,
       |         len(list_filter(range(1, ${MinhashK + 1}),
       |             i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]))
       |           / ${MinhashK.toDouble} AS est_sim
       |  FROM pairs p
       |  JOIN sigs sa ON sa.doc_id = p.a_id
       |  JOIN sigs sb ON sb.doc_id = p.b_id
       |)""".stripMargin

  // Connected components of the LSH candidate graph (recursive twin of
  // Dedup.clusters): edges → transitive reach → min-label per doc. Shared
  // by dedup_clusters / dedup_keepers / corpus_curate so the three oracles
  // cannot drift apart.
  private[queries] val componentsSql =
    s"""edges AS (
       |  SELECT a_id, b_id FROM est WHERE est_sim >= $MinhashEstThreshold
       |  UNION ALL
       |  SELECT b_id, a_id FROM est WHERE est_sim >= $MinhashEstThreshold
       |), reach(doc_id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.a_id, r.label FROM edges e JOIN reach r ON r.doc_id = e.b_id
       |), labels AS (
       |  SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
       |)""".stripMargin

  // Quality-gate CTEs (twin of TextAnalysis.qualityGate, thresholds
  // interpolated from the shared constants); expects `toks` in scope.
  // Shared by text_quality_gate / corpus_curate.
  private[queries] val gateSql = {
    val stop = TextAnalysis.LangMarkers.flatMap(_._2)
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""q AS (
       |  SELECT d.doc_id,
       |         length(d.text) AS n_chars,
       |         len(k.t) AS n_tokens,
       |         round(len(list_filter(k.t, w -> list_contains($stop, w)))
       |           / CAST(greatest(len(k.t), 1) AS DOUBLE), 6) AS stopword_ratio,
       |         round((length(d.text)
       |           - length(regexp_replace(d.text, '[.,!?;:]', '', 'g')))
       |           / CAST(greatest(length(d.text), 1) AS DOUBLE), 6) AS punct_ratio,
       |         length(d.text)
       |           / CAST(greatest(len(k.t), 1) AS DOUBLE) AS cpt
       |  FROM documents d JOIN toks k ON d.doc_id = k.doc_id
       |), gated AS (
       |  SELECT doc_id,
       |         CASE WHEN n_chars < ${TextAnalysis.GateMinChars} THEN 'too_short'
       |              WHEN n_tokens < ${TextAnalysis.GateMinTokens} THEN 'too_few_tokens'
       |              WHEN stopword_ratio > ${TextAnalysis.GateMaxStopwordRatio} THEN 'stopword_heavy'
       |              WHEN punct_ratio > ${TextAnalysis.GateMaxPunctRatio} THEN 'punct_heavy'
       |              WHEN cpt > ${TextAnalysis.GateMaxCharsPerToken} THEN 'tokens_too_long'
       |              ELSE NULL END AS reject_reason
       |  FROM q
       |)""".stripMargin
  }

  // DSIR CTEs shared by text_dsir_weights / corpus_select_dsir: hashed
  // token buckets tagged with the inlined gate verdict, raw + target
  // histograms (≤ DsirBuckets rows each), add-one-smoothed mean log-ratio
  // per document — Curation.dsirWeights mirrored term for term.
  private[queries] lazy val dsirCtesSql = {
    val B = Curation.DsirBuckets
    s"""$rawToksSql, $gateSql, dex AS (
       |  SELECT doc_id, unnest(t) AS w FROM toks
       |), dbk AS (
       |  SELECT doc_id, ${hashSql("'0:'")} % $B AS b FROM dex
       |), tagged AS (
       |  SELECT dbk.doc_id, b, (g.reject_reason IS NULL) AS passed
       |  FROM dbk JOIN gated g ON dbk.doc_id = g.doc_id
       |), draw AS (SELECT b, count(*) AS cr FROM tagged GROUP BY b),
       |dtgt AS (SELECT b, count(*) AS ct FROM tagged WHERE passed GROUP BY b),
       |dtot AS (SELECT (SELECT sum(cr) FROM draw) AS nr,
       |                (SELECT sum(ct) FROM dtgt) AS nt),
       |dscored AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |         round(avg(
       |           log10(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / (nt + $B))
       |           - log10(CAST(cr + 1 AS DOUBLE) / (nr + $B))), 6) + 0.0
       |           AS dsir_logratio
       |  FROM tagged JOIN draw USING (b) LEFT JOIN dtgt USING (b), dtot
       |  GROUP BY doc_id
       |)""".stripMargin
  }

  // ─── north-star: similarity search over embeddings ─────────────────────

  private[queries] val SrpBits = 6

  private[queries] val NearDupClusterCosine = 0.4

  private[queries] val IvfCells = 8

  // Decontamination parameters shared with the oracle twin: benchmark =
  // every 10th doc, rare = gram df ≤ 20 (the synthetic corpus has a small
  // shared vocabulary — median gram df is 28 — so "rare" sits below that),
  // flag at ≥ 3 shared grams.
  private[queries] def decontaminate(s: SparkSession, dir: String): DataFrame =
    Curation.contamination(StandIn.documents(s, dir),
      col("doc_id") % 10 === 0, minShared = 3, dfCap = 20)

  // Bloom-prefiltered decontamination: identical output (the Bloom filter
  // only prunes the shuffle; false positives die in the exact join), so it
  // shares decontaminate's oracle SQL verbatim.

  /** Chain of `replace` calls applying [[Bpe.FixedMerges]] in table order
    * to a spaced symbol string. */
  private[queries] def bpeReplaceChain(inner: String): String =
    Bpe.FixedMerges.foldLeft(inner) { case (acc, (a, b)) =>
      s"replace($acc, ' $a $b ', ' $a$b ')"
    }

  /** Spaced code-point symbols of a word expression. */
  private[queries] def bpeSpacedSql(wVar: String): String =
    s"' ' || array_to_string(regexp_extract_all($wVar, '.'), ' ') || ' '"

  /** Per-document lowercase `[a-z]+` word list (Bpe.words). */
  private[queries] val bpeWordsSql =
    "regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')"

  /** Encoded-symbol string of one word under the fixed table. */
  private[queries] val bpeWordSymsSql = s"trim(${bpeReplaceChain(bpeSpacedSql("w"))})"

  /** BPE chunk budget shared with the corpus_chunk_bpe twin. */

  /** Per-document BPE token count under the fixed table (Bpe.tokenCounts):
    * sum of per-word symbol counts, 0 for wordless documents. */
  private[queries] val bpeTokensSql =
    s"""CAST(list_reduce(list_prepend(0, list_transform($bpeWordsSql,
       |    w -> len(string_split($bpeWordSymsSql, ' ')))),
       |    (a, b) -> a + b) AS INT)""".stripMargin

  // ─── DuckDB twins of ops/QualityModel.scala ───────────────────────────
  // The rounded-GD optimization replayed step by step: every literal is
  // CAST to DOUBLE (DuckDB bare `1.0` is DECIMAL — a silent cross-engine
  // type split), gradients and weights round to 6 decimals per step
  // exactly like the Spark loop, and ws{t} CTEs are MATERIALIZED (each is
  // referenced twice — next gradient + next update — so inlining would
  // expand the chain exponentially).

  /** Design-matrix CTEs (qf): TextAnalysis.quality signals + inlined gate
    * label, every feature rounded to 6 decimals on both engines. */
  private[queries] val qmFeaturesSql = {
    val stop = TextAnalysis.LangMarkers.flatMap(_._2)
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""qf0 AS (
       |  SELECT d.doc_id,
       |         length(d.text) AS n_chars,
       |         len(k.t) AS n_tokens,
       |         round(len(list_filter(k.t, w -> list_contains($stop, w)))
       |           / CAST(greatest(len(k.t), 1) AS DOUBLE), 6) AS x1,
       |         round((length(d.text)
       |           - length(regexp_replace(d.text, '[.,!?;:]', '', 'g')))
       |           / CAST(greatest(length(d.text), 1) AS DOUBLE), 6) AS x2,
       |         length(d.text)
       |           / CAST(greatest(len(k.t), 1) AS DOUBLE) AS cpt
       |  FROM documents d JOIN toks k ON d.doc_id = k.doc_id
       |), qf AS MATERIALIZED (
       |  SELECT doc_id, CAST(1.0 AS DOUBLE) AS x0, x1, x2,
       |         round(least(n_tokens, 20) / CAST(20.0 AS DOUBLE), 6) AS x3,
       |         round(least(cpt, CAST(24.0 AS DOUBLE))
       |           / CAST(24.0 AS DOUBLE), 6) AS x4,
       |         round(least(n_chars, 128) / CAST(128.0 AS DOUBLE), 6) AS x5,
       |         CASE WHEN n_chars >= ${TextAnalysis.GateMinChars}
       |                AND n_tokens >= ${TextAnalysis.GateMinTokens}
       |                AND x1 <= ${TextAnalysis.GateMaxStopwordRatio}
       |                AND x2 <= ${TextAnalysis.GateMaxPunctRatio}
       |                AND cpt <= ${TextAnalysis.GateMaxCharsPerToken}
       |              THEN CAST(1.0 AS DOUBLE)
       |              ELSE CAST(0.0 AS DOUBLE) END AS y
       |  FROM qf0
       |)""".stripMargin
  }

  /** The [[graft.ops.QualityModel.Steps]] unrolled GD updates; ends at
    * CTE `ws{Steps}` holding the final weight row (w0..w4). */
  private[queries] val qmTrainChainSql = {
    val d = graft.ops.QualityModel.Dim
    val dot = (0 until d).map(j => s"w$j*x$j").mkString(" + ")
    val init = (0 until d).map(j => s"CAST(0.0 AS DOUBLE) AS w$j")
      .mkString(", ")
    val steps = (1 to graft.ops.QualityModel.Steps).map { t =>
      val g = (0 until d).map(j =>
        s"round(avg((1.0 / (1.0 + exp(-($dot))) - y) * x$j), 6) AS g$j")
        .mkString(",\n         ")
      val w = (0 until d).map(j =>
        s"round(w$j - CAST(${graft.ops.QualityModel.Lr} AS DOUBLE) * g$j, 6) AS w$j")
        .mkString(",\n         ")
      s""", gs$t AS (
         |  SELECT $g
         |  FROM qf, ws${t - 1}
         |), ws$t AS MATERIALIZED (
         |  SELECT $w
         |  FROM ws${t - 1}, gs$t
         |)""".stripMargin
    }.mkString
    s"""WITH $rawToksSql, $qmFeaturesSql, ws0 AS (SELECT $init)$steps"""
  }

  /** Training replayed round by round: vocab{r} CTEs are MATERIALIZED —
    * each is referenced twice (next round's pair count + next vocab), so
    * inlining would expand the chain exponentially. Pair counts enumerate
    * ALL adjacent positions via list index unnest; the argmax tiebreak
    * (count desc, a, b) is binary-collation string order on both engines
    * for the `[a-z]+` alphabet. */
  private[queries] val bpeTrainChainSql = {
    val head =
      s"""WITH words AS (
         |  SELECT lower(t.w) AS word, count(*) AS cnt
         |  FROM documents d,
         |       unnest(regexp_extract_all(lower(coalesce(d.text, '')),
         |              '[a-z]+')) AS t(w)
         |  GROUP BY 1
         |), vocab0 AS MATERIALIZED (
         |  SELECT word, cnt, ${bpeSpacedSql("word")} AS spaced
         |  FROM words ORDER BY cnt DESC, word LIMIT ${Bpe.VocabCap}
         |)""".stripMargin
    val rounds = (1 to Bpe.NumMerges).map { r =>
      val p = r - 1
      s""", pl$r AS (
         |  SELECT string_split(trim(spaced), ' ') AS l, cnt FROM vocab$p
         |), pe$r AS (
         |  SELECT unnest(generate_series(1, len(l) - 1)) AS i, l, cnt
         |  FROM pl$r
         |), best$r AS (
         |  SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT) + 1] AS b,
         |         sum(cnt) AS pc
         |  FROM pe$r GROUP BY 1, 2 ORDER BY pc DESC, a, b LIMIT 1
         |), vocab$r AS MATERIALIZED (
         |  SELECT word, cnt, replace(spaced,
         |    ' ' || (SELECT a FROM best$r) || ' ' ||
         |           (SELECT b FROM best$r) || ' ',
         |    ' ' || (SELECT a FROM best$r) ||
         |           (SELECT b FROM best$r) || ' ') AS spaced
         |  FROM vocab$p
         |)""".stripMargin
    }.mkString
    s"$head$rounds"
  }

  // ─── Byte-level BPE twins (ops/Bpe.scala byte family) ────────────────
  // The GPT-2 byte map collapses to replace(' ', 'Ġ') on printable-ASCII
  // corpora (every other fixture byte maps to itself; BpeKernelsSpec pins
  // the full 256-entry table against the published spec). The pretoken
  // pattern contains an apostrophe — escaped for the SQL literal.

  /** Per-document byte-level pretoken list (Bpe.bytePretokens). */
  private[queries] val bpeBytesWordsSql =
    "regexp_extract_all(replace(coalesce(text, ''), ' ', 'Ġ'), '" +
      Bpe.BytePretokenPattern.replace("'", "''") + "')"

  /** Chain of `replace` calls applying [[Bpe.FixedByteMerges]] in table
    * order to a spaced symbol string. */
  private[queries] def bpeBytesReplaceChain(inner: String): String =
    Bpe.FixedByteMerges.foldLeft(inner) { case (acc, (a, b)) =>
      s"replace($acc, ' $a $b ', ' $a$b ')"
    }

  /** Encoded-symbol string of one byte pretoken under the fixed table. */
  private[queries] val bpeBytesWordSymsSql =
    s"trim(${bpeBytesReplaceChain(bpeSpacedSql("w"))})"

  /** Per-document byte-BPE token count under the fixed table
    * (Bpe.tokenCountsBytes), 0 for empty documents. */
  private[queries] val bpeBytesTokensSql =
    s"""CAST(list_reduce(list_prepend(0, list_transform($bpeBytesWordsSql,
       |    w -> len(string_split($bpeBytesWordSymsSql, ' ')))),
       |    (a, b) -> a + b) AS INT)""".stripMargin

  /** [[bpeTrainChainSql]] over byte pretokens — disjoint CTE namespace
    * (bwords/bvocab/bpl/bpee/bbest) so both chains can splice into one
    * statement (the three-tokenizer card). Same spaced-symbol merge
    * replay: a mapped pretoken's code points ARE its bytes. */
  private[queries] val bpeBytesTrainChainSql = {
    val head =
      s"""WITH bwords AS (
         |  SELECT t.w AS word, count(*) AS cnt
         |  FROM documents d,
         |       unnest($bpeBytesWordsSql) AS t(w)
         |  GROUP BY 1
         |), bvocab0 AS MATERIALIZED (
         |  SELECT word, cnt, ${bpeSpacedSql("word")} AS spaced
         |  FROM bwords ORDER BY cnt DESC, word LIMIT ${Bpe.VocabCap}
         |)""".stripMargin
    val rounds = (1 to Bpe.NumMerges).map { r =>
      val p = r - 1
      s""", bpl$r AS (
         |  SELECT string_split(trim(spaced), ' ') AS l, cnt FROM bvocab$p
         |), bpee$r AS (
         |  SELECT unnest(generate_series(1, len(l) - 1)) AS i, l, cnt
         |  FROM bpl$r
         |), bbest$r AS (
         |  SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT) + 1] AS b,
         |         sum(cnt) AS pc
         |  FROM bpee$r GROUP BY 1, 2 ORDER BY pc DESC, a, b LIMIT 1
         |), bvocab$r AS MATERIALIZED (
         |  SELECT word, cnt, replace(spaced,
         |    ' ' || (SELECT a FROM bbest$r) || ' ' ||
         |           (SELECT b FROM bbest$r) || ' ',
         |    ' ' || (SELECT a FROM bbest$r) ||
         |           (SELECT b FROM bbest$r) || ' ') AS spaced
         |  FROM bvocab$p
         |)""".stripMargin
    }.mkString
    s"$head$rounds"
  }

  // DuckDB twins of ops/Similarity.scala. `list_reduce` folds left like
  // Spark's `aggregate`, so double summation order (and thus bits) match.
  private[queries] val prepSql =
    s"""prep AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings
      |), prepn AS (
      |  SELECT vec_id, vec,
      |         sqrt(list_reduce(list_transform(vec, x -> x * x),
      |              (a, b) -> a + b)) AS norm
      |  FROM prep
      |), queries AS (
      |  SELECT vec_id AS q_id, vec AS q_vec, norm AS q_norm
      |  FROM prepn
      |  ORDER BY ${hashSql(s"'${Similarity.QueryHashMember}:'",
                            "CAST(vec_id AS VARCHAR)")}, vec_id
      |  LIMIT ${Similarity.NumQueries}
      |)""".stripMargin

  private[queries] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${Similarity.Dim + 1}),
       |  i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)]), (x, y) -> x + y)"""
      .stripMargin

  private[queries] def planeLiteral(p: Seq[Double]): String =
    p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  private[queries] val bucketsSimSql = {
    val bitTerms = Similarity.planes(SrpBits).zipWithIndex.map { case (p, j) =>
      s"""CASE WHEN round(${dotSql("vec", planeLiteral(p))}, 6) > 0
         |     THEN ${1 << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""bsim AS (
       |  SELECT vec_id, vec, norm, $bitTerms AS bucket FROM prepn
       |)""".stripMargin
  }

  private[queries] def cosSql(av: String, an: String, bv: String, bn: String): String =
    s"round(${dotSql(av, bv)} / ($an * $bn), 6)"

  // IVF coarse cells: argmax (first-wins) of rounded dots against the
  // seed-7 Rademacher vectors — twin of Similarity.ivfCell.
  private[queries] val ivfCellsSql = {
    val dots = Similarity.planes(IvfCells, seed = 7L)
      .map(p => s"round(${dotSql("vec", planeLiteral(p))}, 6)")
      .mkString("[", ",\n    ", "]")
    s"""ivf AS (
       |  SELECT vec_id, vec, norm,
       |         CAST(list_position(d, list_max(d)) AS INT) AS cell
       |  FROM (SELECT vec_id, vec, norm, $dots AS d FROM prepn)
       |)""".stripMargin
  }

  // ─── north-star: text analysis over documents ──────────────────────────

  private[queries] def langListSql(lang: String): String =
    TextAnalysis.LangMarkers.toMap.apply(lang)
      .map(w => s"'$w'").mkString("[", ", ", "]")

  private[queries] val langScoresSql = TextAnalysis.LangMarkers.map { case (lang, _) =>
    s"""len(list_filter(t, w -> list_contains(${langListSql(lang)}, w)))
       |  / CAST(greatest(len(t), 1) AS DOUBLE) AS ${lang}_score"""
      .stripMargin
  }.mkString(",\n")

  // ─── oracle SQL (DuckDB) ───────────────────────────────────────────────

  /** Hashed-gram quality-score chain (twin of TextAnalysis.qualityScore):
    * unigrams + word bigrams → 60-bit hash → modular bucket weight →
    * exact integer sum → one logistic + round. Ends at CTE
    * `qsout(doc_id, n_grams, raw_score, quality_score)`. Shared by
    * text_quality_score and the curriculum twin. Docs with no grams
    * (empty/null text) score sigmoid(0) = 0.5 via the left join's
    * coalesce — mirroring the Spark side's per-row kernel over an empty
    * array. */
  private[queries] val qualityScoreCtesSql = {
    val d = TextAnalysis.QualityScoreDim
    s"""$rawToksSql, qg AS (
       |  SELECT doc_id,
       |         list_concat(t, CASE WHEN len(t) >= 2
       |           THEN list_transform(range(1, len(t)),
       |                i -> concat(t[CAST(i AS INT)], ' ',
       |                            t[CAST(i AS INT) + 1]))
       |           ELSE [] END) AS g
       |  FROM toks
       |), qex AS (SELECT doc_id, unnest(g) AS w FROM qg),
       |qscored AS (
       |  SELECT doc_id, count(*) AS n_grams,
       |         sum(((${hashSql("'0:'")} % $d) * 1315423911) % 17 - 8)
       |           AS raw
       |  FROM qex GROUP BY 1
       |), qsout AS MATERIALIZED (
       |  SELECT g.doc_id,
       |         CAST(coalesce(s.n_grams, 0) AS INT) AS n_grams,
       |         CAST(coalesce(s.raw, 0) AS BIGINT) AS raw_score,
       |         round(1.0 / (1.0 + exp(-(coalesce(s.raw, 0) /
       |           (greatest(coalesce(s.n_grams, 0), 1) * 8.0)))), 6)
       |           AS quality_score
       |  FROM qg g LEFT JOIN qscored s USING (doc_id)
       |)""".stripMargin
  }

  /** Encoding-screen verdict as a 3-CTE chain ending at
    * `pflag(doc_id, enc_ok)` — twin of [[graft.ops.TextRules.encodingSuspect]]
    * (the Column form composites inline); same substring counts, same
    * ROUNDED control-ratio threshold from the shared constants. */
  private[queries] val encFlagCtesSql = {
    val moji = TextRules.MojibakeSignatures
      .map(sig =>
        s"(length(t) - length(replace(t, '$sig', ''))) // ${sig.length}")
      .mkString(" + ")
    s"""peb AS (
       |  SELECT doc_id, coalesce(text, '') AS t FROM documents
       |), pem AS (
       |  SELECT doc_id, length(t) AS n,
       |         length(t) - length(replace(t, '�', '')) AS n_repl,
       |         length(t) - length(regexp_replace(t,
       |           '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'))
       |           AS n_ctl,
       |         $moji AS n_moji
       |  FROM peb
       |), pflag AS MATERIALIZED (
       |  SELECT doc_id,
       |         NOT (n_repl > 0 OR n_moji > 0
       |              OR round(n_ctl / CAST(greatest(n, 1) AS DOUBLE), 6)
       |                 > ${TextRules.EncMaxControlRatio}) AS enc_ok
       |  FROM pem
       |)""".stripMargin
  }

  // ─── unigram-LM (SentencePiece) twins of ops/Ulm.scala ─────────────────
  // Viterbi replayed as recursive-CTE path ENUMERATION: every segmentation
  // of a word is a path pos→pos+len(piece); the best is
  // `ORDER BY cost, np, seg LIMIT 1` per word — exactly the kernel's
  // (cost, piece_count, seg_string) tiebreak. Costs are BIGINT micro-nats
  // on both engines, so path comparison is exact integer arithmetic.

  /** Walk + best CTEs for one Viterbi pass: enumerate all segmentations of
    * `$wordsCte` (columns `word` + optionally `cnt`) under piece table
    * `$scoreCte` (columns `piece`, `cost`), keep the best per word. */
  private[queries] def ulmWalkSql(
      r: String, wordsCte: String, scoreCte: String,
      withCnt: Boolean): String = {
    val cntAnchor = if (withCnt) "w.cnt, " else ""
    val cntStep = if (withCnt) "s.cnt, " else ""
    val cntOut = if (withCnt) "cnt, " else ""
    s""", uwalk$r AS (
       |  SELECT w.word, ${cntAnchor}CAST(0 AS BIGINT) AS pos,
       |         CAST(0 AS BIGINT) AS cost, 0 AS np, '' AS seg
       |  FROM $wordsCte w
       |  UNION ALL
       |  SELECT s.word, ${cntStep}s.pos + len(v.piece), s.cost + v.cost,
       |         s.np + 1,
       |         CASE WHEN s.seg = '' THEN v.piece
       |              ELSE s.seg || ' ' || v.piece END
       |  FROM uwalk$r s JOIN $scoreCte v
       |    ON v.piece = substr(s.word, CAST(s.pos + 1 AS INT),
       |                        CAST(len(v.piece) AS INT))
       |  WHERE s.pos < len(s.word)
       |), ubest$r AS MATERIALIZED (
       |  SELECT word, ${cntOut}np, seg FROM (
       |    SELECT word, ${cntOut}np, seg,
       |           row_number() OVER (PARTITION BY word
       |             ORDER BY cost, np, seg) AS rn
       |    FROM uwalk$r WHERE pos = len(word)) q
       |  WHERE rn = 1
       |)""".stripMargin
  }

  /** Piece costs of a vocab CTE (`piece`, `cnt`): add-one smoothed
    * `-round(ln((cnt+1)/total)·10⁶)` — [[graft.ops.Ulm.scoreMicro]]
    * negated, term for term. */
  private[queries] def ulmScoreSql(name: String, vocabCte: String): String =
    s""", $name AS MATERIALIZED (
       |  SELECT piece,
       |         CAST(-round(ln((cnt + 1.0) /
       |           (SELECT sum(cnt + 1.0) FROM $vocabCte)) * 1000000)
       |           AS BIGINT) AS cost
       |  FROM $vocabCte
       |)""".stripMargin

  /** Training replayed round by round (Ulm.train): seed substring counts →
    * [EmRounds × (score → Viterbi walk → usage → prune)]. Ends at CTE
    * `uv{EmRounds}` (`piece`, `cnt`). MATERIALIZED everywhere a CTE is
    * read twice, like the BPE chain. */
  private[queries] val ulmTrainChainSql: String = {
    import graft.ops.Ulm
    val head =
      s"""WITH RECURSIVE uwords AS (
         |  SELECT lower(t.w) AS word, count(*) AS cnt
         |  FROM documents d,
         |       unnest(regexp_extract_all(lower(coalesce(d.text, '')),
         |              '[a-z]+')) AS t(w)
         |  GROUP BY 1
         |), uvw AS MATERIALIZED (
         |  SELECT word, cnt FROM uwords
         |  ORDER BY cnt DESC, word LIMIT ${Ulm.VocabCap}
         |), usub AS MATERIALIZED (
         |  SELECT substr(w.word, CAST(s.i AS INT), CAST(ks.k AS INT))
         |           AS piece,
         |         sum(w.cnt) AS cnt
         |  FROM uvw w,
         |       unnest(generate_series(1, ${Ulm.MaxPieceLen})) AS ks(k),
         |       unnest(generate_series(1, len(w.word))) AS s(i)
         |  WHERE CAST(s.i AS INT) + CAST(ks.k AS INT) - 1 <= len(w.word)
         |  GROUP BY 1
         |), uch AS MATERIALIZED (
         |  SELECT piece FROM usub WHERE len(piece) = 1
         |), uv0 AS MATERIALIZED (
         |  SELECT piece, cnt FROM usub WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt FROM usub WHERE len(piece) >= 2
         |    ORDER BY cnt DESC, piece LIMIT ${Ulm.SeedCap}) q
         |)""".stripMargin
    val rounds = (1 to Ulm.EmRounds).map { r =>
      val p = r - 1
      ulmScoreSql(s"usc$p", s"uv$p") +
        ulmWalkSql(r.toString, "uvw", s"usc$p", withCnt = true) +
        s""", uuse$r AS MATERIALIZED (
           |  SELECT t.piece, sum(b.cnt) AS cnt
           |  FROM ubest$r b, unnest(string_split(b.seg, ' ')) AS t(piece)
           |  GROUP BY 1
           |), uv$r AS MATERIALIZED (
           |  SELECT c.piece, coalesce(u.cnt, 0) AS cnt
           |  FROM uch c LEFT JOIN uuse$r u ON u.piece = c.piece
           |  UNION ALL
           |  SELECT piece, cnt FROM (
           |    SELECT piece, cnt FROM uuse$r WHERE len(piece) >= 2
           |    ORDER BY cnt DESC, piece LIMIT ${Ulm.KeepCap}) q
           |)""".stripMargin
    }.mkString
    head + rounds
  }

  /** Augment a trained score CTE with UNK-cost rows for corpus-alphabet
    * chars the trained vocab lacks — the oracle mirror of
    * [[graft.functions.UlmViterbi]]'s k==1 fallback. Without this, a
    * corpus word containing a char absent from the top-VocabCap training
    * words' alphabet has no complete walk path and silently drops from
    * the oracle's piece stream while the kernel still counts it. Needs
    * `ucw` (distinct corpus words) in scope. */
  private[queries] def ulmUnkAugSql(name: String, scoreCte: String): String =
    s""", $name AS MATERIALIZED (
       |  SELECT piece, cost FROM $scoreCte
       |  UNION ALL
       |  SELECT u.piece,
       |         CAST(${graft.functions.UlmViterbi.UnkCost} AS BIGINT) AS cost
       |  FROM (SELECT DISTINCT substr(w.word, CAST(g.i AS INT), 1) AS piece
       |        FROM ucw w,
       |             unnest(generate_series(1, len(w.word))) AS g(i)) u
       |  WHERE u.piece NOT IN
       |    (SELECT piece FROM $scoreCte WHERE len(piece) = 1)
       |)""".stripMargin

  /** Final trained-vocab projection — `corpus_ulm_train`'s output row
    * shape, hash-checked piece for piece. */
  private[queries] val ulmTrainFinalSql: String = {
    import graft.ops.Ulm
    val R = Ulm.EmRounds
    s"""SELECT piece, CAST(cnt AS BIGINT) AS freq,
       |       CAST(round(ln((cnt + 1.0) /
       |         (SELECT sum(cnt + 1.0) FROM uv$R)) * 1000000)
       |         AS BIGINT) AS score_micro
       |FROM uv$R""".stripMargin
  }

  /** [[graft.ops.Ulm.FixedVocab]] as a VALUES piece table. */
  private[queries] val ulmFixedVocabSql: String = {
    val values = graft.ops.Ulm.FixedVocab
      .map { case (p, c) => s"('$p', CAST($c AS BIGINT))" }
      .mkString(",\n    ")
    s"""uvoc AS MATERIALIZED (
       |  SELECT * FROM (VALUES
       |    $values) AS v(piece, cost)
       |)""".stripMargin
  }

  /** Corpus word stream + distinct-word CTEs shared by the encode twins:
    * `utoks(doc_id, ws)` and `ucw(word)`. */
  private[queries] val ulmCorpusWordsSql =
    """utoks AS MATERIALIZED (
      |  SELECT doc_id,
      |         regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS ws
      |  FROM documents
      |), ucw AS MATERIALIZED (
      |  SELECT DISTINCT t.w AS word FROM utoks, unnest(ws) AS t(w)
      |)""".stripMargin

}
