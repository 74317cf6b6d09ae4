package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Ann, DomainFilter, Loops}

/** Text analysis and corpus curation: token statistics, language and
  * quality scores, splitting, decontamination, PII scrubbing, packing,
  * tokenizer training and mixture sampling over `documents`. */
object TextQueries extends QueryFamily {
  import Shared._

  /** The q55/q69 first-fit packing walk from inside the `t` CTE: documents in
    * 64-id groups with their token counts, and the recursive `rec` carrying
    * each group's (bin, fill) state in row order with the 256-token break
    * rule, up to the recursive step's `FROM`, which the caller adds. */
  private val firstFitPackSql: String =
    s"""|  SELECT doc_id, doc_id // 64 AS grp,
      |    CASE WHEN trim(coalesce(text,'')) = '' THEN 0
      |         ELSE len($tokensSql) END AS tokens,
      |    row_number() OVER (PARTITION BY doc_id // 64 ORDER BY doc_id) AS rn
      |  FROM documents),
      |rec AS (
      |  SELECT grp, rn, doc_id, tokens, CAST(0 AS BIGINT) AS bin,
      |    CAST(tokens AS BIGINT) AS fill
      |  FROM t WHERE rn = 1
      |  UNION ALL
      |  SELECT t.grp, t.rn, t.doc_id, t.tokens,
      |    CASE WHEN r.fill > 0 AND r.fill + t.tokens > 256
      |         THEN r.bin + 1 ELSE r.bin END,
      |    CASE WHEN r.fill > 0 AND r.fill + t.tokens > 256
      |         THEN t.tokens ELSE r.fill + t.tokens END""".stripMargin

  /** The q18 quality score over the `qualityFeatures` columns. */
  private val qualityScoreSql: String =
    """|    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
      |    + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
      |    + CASE WHEN stop_hits > 0 THEN 0.2 ELSE 0.0 END
      |    + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END AS quality_score""".stripMargin

  /** Shared DuckDB CTE chain (q52/q57): the q51 content-hash split collapsed
    * to train/eval, the tokenizer mirror, and DISTINCT 8-gram shingles per
    * doc, ending in `sh(doc_id, split, s)`. One definition so the two
    * decontamination oracles screen the identical partitions and criterion —
    * mirrors the single `Decontamination.shingled` on the Spark side. */
  private val decontaminationCte: String =
    s"""sp AS (
      |  SELECT doc_id, text,
      |    CASE WHEN substr(md5(coalesce(text,'')),1,2) < '1a' THEN 'eval'
      |         ELSE 'train' END AS split
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, split,
      |    unnest($tokensSql) AS w,
      |    unnest(range(1, len($tokensSql) + 1)) AS ord
      |  FROM sp
      |  WHERE len($tokensSql) >= 8
      |    AND trim(coalesce(text,'')) <> ''),
      |sh AS (
      |  SELECT DISTINCT doc_id, split,
      |    w||' '||l1||' '||l2||' '||l3||' '||l4||' '||l5||' '||l6||' '||l7 AS s
      |  FROM (
      |    SELECT doc_id, split, w,
      |      lead(w,1) OVER win AS l1, lead(w,2) OVER win AS l2,
      |      lead(w,3) OVER win AS l3, lead(w,4) OVER win AS l4,
      |      lead(w,5) OVER win AS l5, lead(w,6) OVER win AS l6,
      |      lead(w,7) OVER win AS l7
      |    FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY ord))
      |  WHERE l7 IS NOT NULL)""".stripMargin

  /** The boilerplate cap (Curation.DeconMaxShingleDf) mirrored relationally:
    * the allowed-shingle set — train shingles whose train-corpus document
    * frequency is within the cap. Shared by the q52/q57 oracles so the cap
    * value cannot drift between the Spark side and the oracle. */
  private val decontaminationTdfCte: String =
    "tdf AS (SELECT s FROM sh WHERE split = 'train' GROUP BY s " +
      s"HAVING count(*) <= ${graft.functions.Curation.DeconMaxShingleDf})"

  /** Shared by q52 and q113: the bloom prescreen provably changes nothing
    * (no false negatives; false positives die in the exact join), so both
    * run against the ONE oracle — the strongest statement of the prescreen's
    * exactness the driver can check. */
  private val decontaminateOracle: String =
    s"""WITH $decontaminationCte,
       |$decontaminationTdfCte,
       |ev AS (SELECT DISTINCT s FROM sh
       |       WHERE split = 'eval' AND s IN (SELECT s FROM tdf))
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM sh t JOIN ev ON ev.s = t.s
       |WHERE t.split = 'train'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** CURRICULUM ORDERING — difficulty-stratified epoch order for a training
    * export: documents rank into quality DECILES (ntile semantics over the
    * q18 score, doc_id tie-break — a total order), then the training
    * position round-robins across deciles (all the deciles' first
    * documents, then their seconds, …) so every consecutive training
    * window sees the full difficulty mixture with a flat average — the
    * interleaved variant of curriculum scheduling (Bengio et al. ICML'09
    * ordering, stratified so no window is all-easy or all-hard).
    *
    * DISTRIBUTED FORM — the oracle SPECIFIES the semantics as the naive
    * ntile + two more global windows; the implementation computes the
    * identical values with ZERO corpus-sized windows (the PlanSpec
    * single-partition-window sweep stands over this query like every
    * other): (1) the global rank r over (score, doc_id) is the
    * [[graft.operators.Budget]] two-phase prefix rank — value buckets
    * `floor(score·256)` (monotone in score, so (bucket, score, id) orders
    * identically to (score, id)), per-bucket totals, exclusive offsets
    * over the ≤ 257-row totals table, within-bucket windows only; (2)
    * decile, within-decile position, and the round-robin position are then
    * CLOSED-FORM integer arithmetic in (r, n): with q = n div 10,
    * rem = n mod 10, ntile's first `rem` deciles hold q+1 rows, so
    * bucket/w fall out of r by two integer divisions and training_pos =
    * 10·(w−1) + bucket exactly (every round w ≤ q has one slot per decile;
    * the final partial round w = q+1 exists precisely in the first `rem`
    * deciles). The one-row corpus count broadcasts (the q74/q139
    * global-anchor pattern). Everything is exact integer/IEEE-exact
    * arithmetic after the proven q18 score — no rounding. */
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val scored = T(s, dir, "documents")
      .select(col("doc_id"), Text.qualityScore(col("text")).as("quality_score"))
    // __budget_bucket: the sanctioned bounded-prefix-bucket marker — the
    // PlanSpec window sweep admits empty-partition windows ONLY above an
    // aggregate grouped by this column (≤ 257 rows at any corpus size)
    val b = scored.withColumn("__budget_bucket",
      floor(col("quality_score") * 256).cast("int"))
    val wOffset = Window.orderBy("__budget_bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy("__budget_bucket").agg(count(lit(1)).as("__bt"))
      .withColumn("__off", coalesce(sum("__bt").over(wOffset), lit(0L)))
      .drop("__bt")
    val wBucket = Window.partitionBy("__budget_bucket")
      .orderBy(col("quality_score"), col("doc_id"))
    val n1 = scored.agg(count(lit(1)).as("__n"))
    val ranked = b.join(broadcast(offs), Seq("__budget_bucket"))
      .withColumn("__r", col("__off") + row_number().over(wBucket))
      .crossJoin(broadcast(n1))
    val q = floor(col("__n") / 10)
    val rem = pmod(col("__n"), lit(10))
    val boundary = rem * (q + 1)
    val bucket = when(col("__r") <= boundary,
        floor((col("__r") - 1) / (q + 1)) + 1)
      .otherwise(rem + floor(
        (col("__r") - boundary - 1) / greatest(q, lit(1L))) + 1)
    ranked
      .withColumn("bucket", bucket.cast("long"))
      .withColumn("__w", when(col("__r") <= boundary,
          col("__r") - (col("bucket") - 1) * (q + 1))
        .otherwise(col("__r") - boundary - (col("bucket") - rem - 1) * q))
      .withColumn("training_pos",
        ((col("__w") - 1) * 10 + col("bucket")).cast("long"))
      .select("training_pos", "doc_id", "bucket", "quality_score")
      .orderBy("training_pos")
  }
  // q179: the q18 score feeds pure integer window logic — ntile/row_number
  // semantics are SQL-standard on both engines; (wpos, bucket) is a total
  // order (wpos unique within bucket), so every rank is deterministic.
  query("q179_curriculum_order", curriculumOrder, bench = true, oracle = OracleSql(
    s"""WITH q AS (
      |  SELECT doc_id,
      |$qualityScoreSql
      |  FROM (SELECT doc_id,
      |$qualityFeatures
      |        FROM documents)),
      |b AS (
      |  SELECT doc_id, quality_score,
      |    CAST(ntile(10) OVER (ORDER BY quality_score, doc_id) AS BIGINT)
      |      AS bucket
      |  FROM q),
      |w AS (
      |  SELECT *, row_number() OVER (PARTITION BY bucket
      |    ORDER BY quality_score, doc_id) AS wpos
      |  FROM b)
      |SELECT CAST(row_number() OVER (ORDER BY wpos, bucket) AS BIGINT)
      |    AS training_pos,
      |  doc_id, bucket, quality_score
      |FROM w ORDER BY training_pos""".stripMargin))

  /** Distributed quality-classifier TRAINING as a registered query
    * ([[graft.operators.Classifier]]): the GPT-3-recipe statistical filter
    * — distill the rule-based C4 gate (q73's label) into a smooth
    * logistic-model score over heuristic page features. Three full-batch
    * gradient-descent steps, EACH ONE AGGREGATION over the corpus
    * (map-side partial gradients; numFeatures + 2 scalars reach the
    * driver per step), on a once-persisted narrow feature projection — the
    * 100 TB shape: one text scan total, no vector library, no driver data.
    *
    * The DuckDB oracle REPLAYS TRAINING (three unrolled CTE layers) and
    * scores the corpus with the learned weights: gradient sums are
    * 6dp-rounded DECIMAL (exact, order-independent), weight updates are
    * fixed-order IEEE chains on exactly-convertible sums, and the softsign
    * link is rational arithmetic — so the WEIGHTS are bit-identical across
    * engines (not approximately: exactly), and only the final score rounds
    * (6dp, the q94 policy). The logistic link stays the production default
    * in the operator; the registered row uses softsign because exp's last
    * ulp is libm-specific (the q146 argument at zero slack). */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val feats = classifierFeatures
    val label = graft.functions.Heuristics.c4Keep(col("text"))
    val proj = T(s, dir, "documents").select(
      col("doc_id") +: label.cast("double").as("__y") +:
        feats.map { case (n, c) => c.as(n) }: _*)
    proj.persist()
    try {
      val model = graft.operators.Classifier.train(
        proj, feats.map(_._1), "__y", iters = 3, lr = 0.5,
        link = graft.operators.Classifier.Link.Softsign)
      val scored = round(model.score(feats.map { case (n, _) => col(n) }), 6)
      Loops.checkpoint(proj.select(
          col("doc_id"), col("__y").cast("long").as("label"),
          scored.as("score"), (scored >= lit(0.5)).as("predicted"))
        .orderBy("doc_id"), eager = true) // materialize off the persisted projection
    } finally { proj.unpersist(); () }
  }
  // q161: the oracle replays TRAINING (3 unrolled GD layers) — weights
  // come out bit-identical across engines (decimal-exact gradient sums +
  // fixed-order IEEE updates + rational link; see classifierOracleSql).
  query("q161_quality_classifier", qualityClassifier, bench = true,
    oracle = OracleSql(classifierOracleSql(3)))

  /** CORPUS CARD — the one-row release summary a dataset card publishes
    * (docs, whitespace tokens, languages, sources, exact-duplicate rate,
    * mean quality), each a proven mirror composed into ONE corpus scan:
    * the multi-count-distinct plans through Expand (the q170 trade), the
    * duplicate rate is 1 − distinct(md5)/docs (two exact longs, one
    * bit-stable division), and mean quality routes the q18 score through
    * round-6dp → DECIMAL so the sum is exact and order-independent before
    * its single division. The 100 TB shape: one scan, a bounded aggregate
    * row, nothing else. */
  def corpusCard(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    d.agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text"))).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(md5(col("text").cast("binary"))).as("__uniq"),
        sum(round(Text.qualityScore(col("text")), 6).cast("decimal(10,6)"))
          .as("__qsum"))
      .select(
        col("n_docs"), col("n_tokens"), col("n_langs"), col("n_sources"),
        round(lit(1.0) - (col("__uniq").cast("double") / col("n_docs").cast("double")), 6)
          .as("dup_rate"),
        round(col("__qsum").cast("double") / col("n_docs").cast("double"), 6)
          .as("mean_quality"))
  }
  query("q171_corpus_card", corpusCard, bench = true, oracle = OracleSql(
    """WITH q AS (
      |  SELECT doc_id, text, lang, source,
      |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
      |    least(CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS DOUBLE) / 100.0, 1.0) * 0.4
      |    + CASE WHEN length(coalesce(text, '')) BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
      |    + CASE WHEN len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b'))
      |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b'))
      |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b'))
      |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) > 0 THEN 0.2 ELSE 0.0 END
      |    + CASE WHEN length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) > 0 THEN 0.1 ELSE 0.0 END AS quality_score
      |  FROM documents)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  round(1.0 - (CAST(count(DISTINCT md5(text)) AS DOUBLE)
      |               / CAST(count(*) AS DOUBLE)), 6) AS dup_rate,
      |  round(CAST(sum(CAST(round(quality_score, 6) AS DECIMAL(10,6))) AS DOUBLE)
      |        / CAST(count(*) AS DOUBLE), 6) AS mean_quality
      |FROM q""".stripMargin))

  /** MIXTURE-BALANCED resampling — the DoReMi-lite corpus rebalancer: each
    * document weighs target_share / actual_share of its source (target =
    * uniform over sources), then ONE GLOBAL Efraimidis–Spirakis sample of
    * k = 100 ([[graft.operators.Sampling.weightedSample]], strata-less
    * form) draws a corpus whose expected source mix is uniform —
    * over-represented sources are down-sampled, rare sources surface. The
    * scale shape: per-source counts are one map-side-combined rollup
    * broadcast back onto the scan (source is low-cardinality by
    * definition), the E-S key is scan-local, and the global top-k folds
    * through the bounded heap — no stratum-wide sort, no corpus shuffle.
    * Weights are two divisions on exact longs (bit-stable); the oracle
    * restates the md5-nibble key verbatim (the q143 machinery). */
  def mixtureResample(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select(col("doc_id"), col("source"))
    graft.operators.Mixture.resampleUniform(d, "doc_id", "source", k = 100)
      .join(d.withColumnRenamed("doc_id", "id"), Seq("id"))
      .select("rank", "id", "source", "weight", "score")
      .orderBy("rank")
  }
  // q169: the q143 E-S key restated verbatim; the mixture weight is two
  // divisions on exact longs mirrored in the same operation order. The
  // count lookup joins NULL-SAFE (IS NOT DISTINCT FROM — the operator's
  // <=> join): a NULL stratum is its own group, never dropped.
  query("q169_mixture_resample", mixtureResample, bench = true, oracle = OracleSql(
    """WITH d AS (SELECT doc_id, source FROM documents),
      |c AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS nsrc,
      |             CAST(sum(cnt) AS BIGINT) AS tot FROM c),
      |w AS (
      |  SELECT d.doc_id, d.source,
      |    (CAST(t.tot AS DOUBLE) / CAST(t.nsrc AS DOUBLE))
      |      / CAST(c.cnt AS DOUBLE) AS wgt
      |  FROM d JOIN c ON d.source IS NOT DISTINCT FROM c.source
      |  CROSS JOIN t),
      |nib AS (
      |  SELECT doc_id,
      |    sum(CAST(strpos('0123456789abcdef',
      |          substr(md5(CAST(doc_id AS VARCHAR)),
      |                 CAST(i.i AS INTEGER) + 1, 1)) - 1 AS BIGINT)
      |        << ((12 - CAST(i.i AS INTEGER)) * 4)) AS h
      |  FROM w, range(13) i(i) GROUP BY doc_id),
      |sc AS (
      |  SELECT w.doc_id, w.source, w.wgt,
      |    round(-ln((CAST(nib.h AS DOUBLE) + 0.5) / 4503599627370496.0)
      |          / w.wgt, 6) AS score
      |  FROM w JOIN nib USING (doc_id)),
      |rk AS (
      |  SELECT doc_id, source, wgt, score,
      |    row_number() OVER (ORDER BY score, doc_id) AS rk
      |  FROM sc)
      |SELECT CAST(rk AS BIGINT) AS rank, doc_id AS id, source,
      |  wgt AS weight, score
      |FROM rk WHERE rk <= 100 ORDER BY rank""".stripMargin))

  /** BPE TRAIN → ENCODE end-to-end on the planted Sennrich corpus
    * ([[graft.operators.Bpe.train]] + [[graft.operators.Bpe.encode]]): the
    * inference half of the tokenizer family (q78 counts pairs, q79 trains
    * the merge table, this row applies it). The corpus is the classic
    * low/lower/newest/widest example whose 4 merges are hand-derivable —
    * (e,s) w9, (es,t) w9 (weight tie, left-asc break), (l,o) w7, (lo,w) w7
    * — so the oracle states the ENCODED PROBES as frozen VALUES
    * (the q19/q39 fixture pattern): a regression anywhere in the
    * train-merge ordering, the greedy leftmost single-pass rewrite, or the
    * word split surfaces as a hash mismatch against hand-checked constants.
    * Probes cover in-vocab composition ("lowest" → low est), the trained
    * words, a prefix the merges only partially reach ("slower" → s low e
    * r), multi-word flatten, and the empty-string row-count contract. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = Seq(
      1L -> "low low low low low",
      2L -> "lower lower",
      3L -> "newest newest newest newest newest newest",
      4L -> "widest widest widest").toDF("doc_id", "text")
    val merges = graft.operators.Bpe.train(corpus, "text", merges = 4)
    val probes = Seq(
      1L -> "lowest", 2L -> "newest", 3L -> "slower",
      4L -> "low lowest", 5L -> "").toDF("probe_id", "text")
    graft.operators.Bpe.encode(probes, "text", merges)
      .select(col("probe_id"),
        concat_ws(" ", col("bpe_tokens")).as("encoded"),
        size(col("bpe_tokens")).cast("long").as("n_sub"))
      .orderBy("probe_id")
  }
  // q164: frozen VALUES over the planted Sennrich corpus — the merges and
  // encodings are hand-derived in bpeEncode's Scaladoc (q19 pattern).
  query("q164_bpe_encode", bpeEncode, bench = false, oracle = OracleSql(
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'low est', CAST(2 AS BIGINT)),
      |  (2, 'n e w est', 4),
      |  (3, 's low e r', 4),
      |  (4, 'low low est', 3),
      |  (5, '', 0)
      |) v(probe_id, encoded, n_sub) ORDER BY probe_id""".stripMargin))

  /** Token / char / punctuation statistics per document — whitespace tokens
    * AND the BPE-style sub-word count (letter/digit/symbol runs). */
  def textStats(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.subwordTokenCount(col("text")).as("n_subword_tokens"),
        length(coalesce(col("text"), lit(""))).cast("long").as("n_chars"),
        Text.punctCount(col("text")).as("n_punct"))
      .orderBy("doc_id")
  query("q16_text_stats", textStats, bench = true, oracle = OracleSql(
    """SELECT doc_id,
      |  CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |       ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
      |  CAST(len(regexp_extract_all(coalesce(text, ''),
      |    '\p{L}+|\p{N}+|[^ \t\n\f\r\p{L}\p{N}]+')) AS BIGINT) AS n_subword_tokens,
      |  CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
      |  CAST(length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS BIGINT) AS n_punct
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** Heuristic language ID (CJK share + stopword argmax). */
  def langId(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")
  query("q17_lang_id", langId, bench = false, oracle = OracleSql(
    """SELECT doc_id,
      |  CASE
      |    WHEN length(regexp_replace(coalesce(text, ''), '[^\x{4e00}-\x{9fff}]', '', 'g')) * 5
      |         > length(coalesce(text, '')) THEN 'zh'
      |    WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
      |    WHEN en >= es AND en >= de AND en >= fr THEN 'en'
      |    WHEN es >= de AND es >= fr THEN 'es'
      |    WHEN de >= fr THEN 'de'
      |    ELSE 'fr' END AS lang_pred
      |FROM (SELECT doc_id, text,
      |        len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b')) AS en,
      |        len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b')) AS es,
      |        len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b')) AS de,
      |        len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS fr
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin))

  /** Composite document quality score in [0, 1]. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), Text.qualityScore(col("text")).as("quality_score"))
      .orderBy("doc_id")
  query("q18_quality_score", qualityScore, bench = false, oracle = OracleSql(
    """SELECT doc_id,
      |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
      |  + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
      |  + CASE WHEN stop_hits > 0 THEN 0.2 ELSE 0.0 END
      |  + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END AS quality_score
      |FROM (SELECT doc_id,
      |        CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |             ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
      |        length(coalesce(text, '')) AS n_chars,
      |        len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b'))
      |        + len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b'))
      |        + len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b'))
      |        + len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS stop_hits,
      |        length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS n_punct
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin))

  /** End-to-end training-data CURATION decision per document — the composite
    * the individual text operators exist for: language gate (en), quality
    * gate (score >= 0.5), token-budget gate (5..1000), exact-dedup
    * canonicalization (smallest doc_id per content hash wins), with the
    * FIRST failing rule as the recorded reason. Fully DuckDB-oracled because
    * every part is one of the proven bit-exact mirrors (q15/q16/q17/q18).
    * Scale shape: one scan computes all features; the only shuffle is ONE
    * content-hash exchange for the canonical-selection window. */
  def curation(s: SparkSession, dir: String): DataFrame =
    graft.functions.Curation.decisions(T(s, dir, "documents"))
  // q41: the curation chain stated from the SAME proven mirrors as
  // q15/q16/q17/q18 (token class, stopword regexes, CJK branch, score
  // arithmetic, md5 canonicalization) composed via CTEs.
  query("q41_curation", curation, bench = true, oracle = OracleSql(
    s"""WITH base AS (
      |$curationBaseSql
      |  SELECT doc_id,
      |$curationFeatSql
      |    CAST(n_tokens AS BIGINT) AS n_tokens,
      |    coalesce(md5(text), '') AS fp
      |  FROM base),
      |canon AS (SELECT fp, min(doc_id) AS keep_id FROM feat GROUP BY fp),
      |flagged AS (
      |  SELECT f.doc_id, f.lang_pred, f.quality_score, f.n_tokens,
      |    CASE WHEN f.lang_pred <> 'en' THEN 'lang'
      |         WHEN f.quality_score < 0.5 THEN 'quality'
      |         WHEN f.n_tokens < 5 OR f.n_tokens > 1000 THEN 'length'
      |         WHEN f.doc_id <> c.keep_id THEN 'duplicate'
      |         ELSE 'keep' END AS reason
      |  FROM feat f JOIN canon c USING (fp))
      |SELECT doc_id, lang_pred, quality_score, n_tokens,
      |  (reason = 'keep') AS keep, reason
      |FROM flagged ORDER BY doc_id""".stripMargin))

  /** Planted multi-line web pages for the C4 heuristic screen — the real
    * corpus is single-line punctuation-free prose, so every flag branch
    * (good lines, braces, lorem ipsum, the line-level javascript rule, the
    * keep decision's both outcomes) is driven by this fixture while the
    * real rows prove corpus-scale pass-through. */
  private[graft] def c4Fixture(s: SparkSession): DataFrame = {
    import s.implicits._
    val good = "this sentence has enough words to pass the line filter."
    Seq(
      9200001L -> s"$good\n$good\n$good",
      9200002L -> s"$good\n$good\n$good\nfunction f() { return 1; }",
      9200003L -> s"$good\n$good\n$good\nLorem Ipsum dolor sit amet.",
      9200004L -> "short line.\nno punctuation here at all\nanother fragment",
      9200005L -> s"$good\n$good\n$good\nplease enable JavaScript to view this page",
      9200006L -> s"$good\n$good",
      9200007L -> ""
    ).toDF("doc_id", "text")
  }

  /** C4-style heuristic page screen ([[graft.functions.Heuristics]], Raffel
    * et al. 2020 §2.2) over the real corpus ∪ the planted fixture: per-doc
    * line counts, well-formed-line counts (terminal punctuation + ≥5 words,
    * javascript lines excluded — the C4 LINE-level rule), page-level
    * blacklist flags (brace / lorem-ipsum; `has_js` is reported but is not
    * a page-level kill), and the composite keep decision (≥3 good lines, no
    * page flags). Entirely scan-local codegen'd expressions — zero shuffles
    * beyond the presentation sort. */
  def c4Filter(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Heuristics._
    T(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionAll(c4Fixture(s))
      .select(
        col("doc_id"),
        lineCount(col("text")).as("n_lines"),
        goodLineCount(col("text")).as("n_good_lines"),
        hasBrace(col("text")).as("has_brace"),
        hasLorem(col("text")).as("has_lorem"),
        hasJavascript(col("text")).as("has_js"),
        c4Keep(col("text")).as("keep"))
      .orderBy("doc_id")
  }
  // q73: line predicates mirror Heuristics 1:1 (Java∩RE2 regexes; [ \t]
  // tokenizer, [.!?]$ search). The fixture VALUES are byte-identical to
  // the Spark-side c4Fixture.
  query("q73_c4_filter", c4Filter, bench = true, oracle = OracleSql(
    """WITH uni AS (
      |  SELECT doc_id, coalesce(text, '') AS text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9200001 AS BIGINT), 'this sentence has enough words to pass the line filter.' || chr(10) || 'this sentence has enough words to pass the line filter.' || chr(10) || 'this sentence has enough words to pass the line filter.'),
      |    (9200002, 'this sentence has enough words to pass the line filter.' || chr(10) || 'this sentence has enough words to pass the line filter.' || chr(10) || 'this sentence has enough words to pass the line filter.' || chr(10) || 'function f() { return 1; }'),
      |    (9200003, 'this sentence has enough words to pass the line filter.' || chr(10) || 'this sentence has enough words to pass the line filter.' || chr(10) || 'this sentence has enough words to pass the line filter.' || chr(10) || 'Lorem Ipsum dolor sit amet.'),
      |    (9200004, 'short line.' || chr(10) || 'no punctuation here at all' || chr(10) || 'another fragment'),
      |    (9200005, 'this sentence has enough words to pass the line filter.' || chr(10) || 'this sentence has enough words to pass the line filter.' || chr(10) || 'this sentence has enough words to pass the line filter.' || chr(10) || 'please enable JavaScript to view this page'),
      |    (9200006, 'this sentence has enough words to pass the line filter.' || chr(10) || 'this sentence has enough words to pass the line filter.'),
      |    (9200007, '')
      |  ) v(doc_id, text)),
      |scored AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(string_split(text, chr(10)), x ->
      |      regexp_matches(trim(x), '[.!?]$')
      |      AND len(regexp_split_to_array(trim(x), '[ \t]+')) >= 5
      |      AND trim(x) <> ''
      |      AND NOT contains(lower(x), 'javascript'))) AS BIGINT) AS n_good_lines,
      |    contains(text, '{') AS has_brace,
      |    contains(lower(text), 'lorem ipsum') AS has_lorem,
      |    contains(lower(text), 'javascript') AS has_js
      |  FROM uni)
      |SELECT doc_id, n_lines, n_good_lines, has_brace, has_lorem, has_js,
      |  (n_good_lines >= 3 AND NOT has_brace AND NOT has_lorem) AS keep
      |FROM scored ORDER BY doc_id""".stripMargin))

  /** Hapax/blank fixture for the unigram-LM score: the real corpus draws
    * from a small shared vocabulary (no hapax tokens), so the rare-token and
    * blank-document branches come from here. */
  private[graft] def unigramFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      9300001L -> "zzuniquealpha zzuniquebeta zzuniquegamma the table scan",
      9300002L -> "",
      9300003L -> "table table scan scan the the"
    ).toDF("doc_id", "text")
  }

  /** Corpus-trained unigram LM scoring ([[graft.operators.UnigramLm]],
    * CCNet-family statistical quality gate) over the real corpus ∪ the
    * planted hapax/blank fixture: per-document corpus-frequency mass,
    * hapax-token count, and mean unigram probability (exact-integer sums,
    * ONE final IEEE division — bit-equal across engines where a log
    * formulation would not be). Vocabulary-keyed join + two partial
    * aggregations; the corpus total is the documented 1-row dim probe. */
  def unigramLmQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.UnigramLm.score(
      T(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(unigramFixture(s)),
      "doc_id", "text")
      .orderBy("doc_id")
  // q74: exact-integer sums; the ONE division (and the exact product
  // feeding it) mirrors the Spark expression order so the double is
  // bit-identical.
  query("q74_unigram_lm", unigramLmQ, bench = true, oracle = OracleSql(
    """WITH uni AS (
      |  SELECT doc_id, coalesce(text, '') AS text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9300001 AS BIGINT), 'zzuniquealpha zzuniquebeta zzuniquegamma the table scan'),
      |    (9300002, ''),
      |    (9300003, 'table table scan scan the the')
      |  ) v(doc_id, text)),
      |toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+')) AS tok
      |  FROM uni WHERE trim(text) <> ''),
      |freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks),
      |perdoc AS (
      |  SELECT t.doc_id,
      |    CAST(sum(f.df) AS BIGINT) AS sum_df,
      |    CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      |  FROM toks t JOIN freq f USING (tok) GROUP BY t.doc_id),
      |base AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN trim(text) = '' THEN 0
      |         ELSE len(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+'))
      |         END AS BIGINT) AS n_tokens
      |  FROM uni)
      |SELECT b.doc_id, b.n_tokens,
      |  coalesce(p.sum_df, 0) AS sum_df,
      |  coalesce(p.n_hapax, 0) AS n_hapax,
      |  CASE WHEN b.n_tokens > 0
      |       THEN CAST(p.sum_df AS DOUBLE) /
      |            (CAST(b.n_tokens AS DOUBLE) * CAST(t.n_total AS DOUBLE))
      |  END AS mean_tok_prob
      |FROM base b LEFT JOIN perdoc p USING (doc_id) CROSS JOIN tot t
      |ORDER BY doc_id""".stripMargin))

  /** Per-source quality-percentile selection (FineWeb-style "keep the top p
    * of each source by quality score") — the dynamic-threshold form of the
    * static q18 gate, built the way it must be at 100 TB: the per-document
    * rank is NEVER computed (a per-source sort window puts a whole source in
    * one task); instead the distinct-score rollup (one map-side-combined
    * aggregation, ≤ a few hundred rows per source since the q18 score is a
    * discrete function of integer counts) carries a per-source running count
    * in score-descending order, the cutoff is the highest score at which the
    * running count reaches ⌈p·n_source⌉, and the one-row-per-(source,score)
    * decision broadcasts back onto the corpus. Contract: keeps AT LEAST the
    * top p fraction — every document tied at the cutoff score is kept
    * (deterministic and engine-identical; a tie-broken exact-p cut would
    * need the per-doc rank this design exists to avoid). */
  def qualityCutoff(s: SparkSession, dir: String, p: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.Text.qualityScore(col("text")).as("quality_score"))
    val rollup = docs.groupBy("source", "quality_score")
      .agg(count(lit(1)).as("__n"))
    val wSrc = Window.partitionBy("source")
    val wCum = wSrc.orderBy(col("quality_score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cutoffs = rollup
      .withColumn("__cum", sum("__n").over(wCum))
      .withColumn("__total", sum("__n").over(wSrc))
      .filter(col("__cum") >= ceil(lit(p) * col("__total")))
      .groupBy("source")
      .agg(max("quality_score").as("cutoff"), max("__total").as("src_n"))
    docs.join(broadcast(cutoffs), Seq("source"))
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("src_n"), col("cutoff"),
        (col("quality_score") >= col("cutoff")).as("keep"))
      .orderBy("doc_id")
  }
  // q77: the q18 score mirror feeding the distinct-score rollup; window
  // sums CAST to BIGINT (DuckDB widens sum(BIGINT) to HUGEINT, Spark
  // keeps long); ceil(0.3·n) is the same double → ceil on both engines.
  query("q77_quality_cutoff", (s, dir) => qualityCutoff(s, dir), bench = true, oracle = OracleSql(
    s"""WITH scored AS (
      |  SELECT doc_id, source,
      |$qualityScoreSql
      |  FROM (SELECT doc_id, source,
      |$qualityFeatures
      |        FROM documents)),
      |rollup AS (
      |  SELECT source, quality_score, CAST(count(*) AS BIGINT) AS n
      |  FROM scored GROUP BY 1, 2),
      |cum AS (
      |  SELECT source, quality_score,
      |    CAST(sum(n) OVER (PARTITION BY source ORDER BY quality_score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumn,
      |    CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS total
      |  FROM rollup),
      |cut AS (
      |  SELECT source, max(quality_score) AS cutoff, max(total) AS src_n
      |  FROM cum WHERE cumn >= ceil(0.3 * total) GROUP BY source)
      |SELECT s.doc_id, s.source, s.quality_score, c.src_n, c.cutoff,
      |  s.quality_score >= c.cutoff AS keep
      |FROM scored s JOIN cut c USING (source)
      |ORDER BY doc_id""".stripMargin))

  /** BPE merge-candidate pair counts — the distributed kernel of one byte-
    * pair-encoding training iteration (Sennrich et al. 2016): corpus word
    * frequencies first (the classic BPE preprocessing — pair statistics are
    * weighted by word count, never recomputed per occurrence), then every
    * adjacent character pair of each distinct word weighted by that word's
    * frequency. The full merge LOOP is inherently iterative driver logic;
    * the expensive, data-sized step is exactly this pair-count aggregation,
    * re-runnable per iteration on the rewritten vocabulary. Top pairs by
    * (weight desc, pair) — the next merge candidates.
    *
    * Scale shape: token explode is scan-local; the word-frequency rollup is
    * one map-side-combined groupBy whose OUTPUT is the distinct vocabulary
    * (corpus-size-independent); the bigram explode runs over that vocabulary
    * table, not the corpus; the final count is a second tiny rollup +
    * TakeOrderedAndProject (no global sort). */
  def bpePairs(s: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    val words = T(s, dir, "documents")
      .select(explode(graft.functions.Text.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("__n"))
    words
      .filter(length(col("word")) >= 2) // sequence(1, len-1) must ascend
      .select(col("__n"), explode(
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("__n").as("weight"))
      .orderBy(desc("weight"), col("pair"))
      .limit(topK)
  }
  // q78: the tokenizer mirror feeds a word-frequency rollup; unnest(range)
  // replays the adjacent-pair walk (range(1, len) = starts 1..len-1, the
  // same ascending guard as Spark's length>=2 filter); (weight DESC, pair)
  // is a total order so the LIMIT is deterministic.
  query("q78_bpe_pairs", (s, dir) => bpePairs(s, dir), bench = true, oracle = OracleSql(
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+')) AS word
      |  FROM documents WHERE trim(coalesce(text, '')) <> ''),
      |words AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS n
      |  FROM toks WHERE word <> '' GROUP BY word),
      |pairs AS (
      |  SELECT n, substr(word, CAST(unnest(range(1, length(word))) AS INT), 2) AS pair
      |  FROM words WHERE length(word) >= 2)
      |SELECT pair, CAST(sum(n) AS BIGINT) AS weight
      |FROM pairs GROUP BY pair
      |ORDER BY weight DESC, pair
      |LIMIT 100""".stripMargin))

  /** Planted docs exercising every q81 branch in a tiny private language:
    * a blank doc (bucket `blank`, reached through the LEFT cutoff join), and
    * three docs of distinct typicality so the 3-doc language puts exactly one
    * doc in each tercile (ceil(3/3)=1, ceil(6/3)=2). */
  private[graft] def perplexityFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (9400001L, "", "zz"),
      (9400002L, "the the the", "zz"),
      (9400003L, "qqrareuniq1 qqrareuniq2", "zz"),
      (9400004L, "the scan of qqmidrare", "zz")
    ).toDF("doc_id", "text", "lang")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2019 §4.3): each
    * language's documents split into head/middle/tail terciles by language-
    * model score — CCNet keeps head+middle and drops (or down-weights) the
    * tail; surfacing the bucket as a column leaves that policy to the
    * caller. The score is the q74 unigram `mean_tok_prob` (the linear-space
    * LM signal — exact-integer sums, ONE IEEE division, so cutoff
    * comparisons are bit-deterministic); blank documents surface as bucket
    * `blank`, never silently dropped. `lang_n` counts the language's SCORED
    * documents (the tercile denominator).
    *
    * Scale shape: the tercile cutoffs ride the q77 rank-free pattern — no
    * per-document rank; the per-language window runs over the distinct
    * (lang, score) ROLLUP (rows ≪ docs), both cutoffs fall out of one
    * conditional-max aggregate, and the ≤|langs|-row cutoff table broadcasts
    * back. Tercile boundary ties spill INTO the better bucket (every doc
    * sharing the cutoff score keeps the higher bucket) — deterministic and
    * rank-free. The cutoff join is LEFT and null-safe: an all-blank language
    * has no cutoff row but its documents still surface (bucket `blank`,
    * `lang_n` NULL), and a NULL language is its own group end-to-end. */
  def perplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      .unionAll(perplexityFixture(s))
    // scored is referenced twice (cutoff rollup + final bucket join); it is
    // DOC-sized (one stats row per document — the LM stats table a pipeline
    // would persist anyway), so materialize it once rather than re-running
    // the whole score pipeline (vocab rollup + token join) per consumer
    val scored = Loops.checkpoint(
      graft.operators.UnigramLm.score(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")), eager = true)
    val wLang = Window.partitionBy("lang")
    val wCum = wLang.orderBy(col("mean_tok_prob").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = scored.filter(col("mean_tok_prob").isNotNull)
      .groupBy("lang", "mean_tok_prob").agg(count(lit(1)).as("__n"))
      .withColumn("__cum", sum("__n").over(wCum))
      .withColumn("__total", sum("__n").over(wLang))
      .groupBy("lang")
      .agg(
        max(when(col("__cum") >= ceil(col("__total") / lit(3.0)),
          col("mean_tok_prob"))).as("__c_head"),
        max(when(col("__cum") >= ceil(col("__total") * lit(2.0) / lit(3.0)),
          col("mean_tok_prob"))).as("__c_mid"),
        max("__total").as("lang_n"))
      .withColumnRenamed("lang", "__cut_lang")
    scored.join(broadcast(cuts), col("lang") <=> col("__cut_lang"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("mean_tok_prob"),
        col("lang_n"),
        when(col("mean_tok_prob").isNull, lit("blank"))
          .when(col("mean_tok_prob") >= col("__c_head"), lit("head"))
          .when(col("mean_tok_prob") >= col("__c_mid"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy("doc_id")
  }
  // q81: the q74 unigram mirror feeds the q77 rank-free cutoff idiom —
  // both tercile cutoffs via conditional max over the windowed rollup;
  // IS NOT DISTINCT FROM mirrors Spark's null-safe left cutoff join.
  query("q81_perplexity_buckets", perplexityBuckets, bench = true, oracle = OracleSql(
    """WITH uni AS (
      |  SELECT doc_id, coalesce(text, '') AS text, lang FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9400001 AS BIGINT), '', 'zz'),
      |    (9400002, 'the the the', 'zz'),
      |    (9400003, 'qqrareuniq1 qqrareuniq2', 'zz'),
      |    (9400004, 'the scan of qqmidrare', 'zz')
      |  ) v(doc_id, text, lang)),
      |toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+')) AS tok
      |  FROM uni WHERE trim(text) <> ''),
      |freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks),
      |base AS (
      |  SELECT doc_id, lang,
      |    CAST(CASE WHEN trim(text) = '' THEN 0
      |         ELSE len(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+'))
      |         END AS BIGINT) AS n_tokens
      |  FROM uni),
      |perdoc AS (
      |  SELECT t.doc_id, CAST(sum(f.df) AS BIGINT) AS sum_df
      |  FROM toks t JOIN freq f USING (tok) GROUP BY t.doc_id),
      |scored AS (
      |  SELECT b.doc_id, b.lang, b.n_tokens,
      |    CASE WHEN b.n_tokens > 0
      |         THEN CAST(p.sum_df AS DOUBLE) /
      |              (CAST(b.n_tokens AS DOUBLE) * CAST(t.n_total AS DOUBLE))
      |    END AS mean_tok_prob
      |  FROM base b LEFT JOIN perdoc p USING (doc_id) CROSS JOIN tot t),
      |rollup AS (
      |  SELECT lang, mean_tok_prob, CAST(count(*) AS BIGINT) AS n
      |  FROM scored WHERE mean_tok_prob IS NOT NULL GROUP BY 1, 2),
      |cum AS (
      |  SELECT lang, mean_tok_prob,
      |    CAST(sum(n) OVER (PARTITION BY lang ORDER BY mean_tok_prob DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumn,
      |    CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS total
      |  FROM rollup),
      |cut AS (
      |  SELECT lang,
      |    max(CASE WHEN cumn >= ceil(total / 3.0) THEN mean_tok_prob END) AS c_head,
      |    max(CASE WHEN cumn >= ceil(total * 2.0 / 3.0) THEN mean_tok_prob END) AS c_mid,
      |    max(total) AS lang_n
      |  FROM cum GROUP BY lang)
      |SELECT s.doc_id, s.lang, s.n_tokens, s.mean_tok_prob, c.lang_n,
      |  CASE WHEN s.mean_tok_prob IS NULL THEN 'blank'
      |       WHEN s.mean_tok_prob >= c.c_head THEN 'head'
      |       WHEN s.mean_tok_prob >= c.c_mid THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM scored s LEFT JOIN cut c ON s.lang IS NOT DISTINCT FROM c.lang
      |ORDER BY doc_id""".stripMargin))

  /** Planted rows driving every q82 branch (BMP-only, so both engines count
    * identical code points): NFD combining sequence (recomposes), singleton
    * decomposition U+212B→U+00C5, control chars (stripped), U+FFFD (counted,
    * kept), tab/space runs (collapsed), line-trailing spaces, blank and NULL
    * text. */
  private[graft] def normalizeFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (9410001L, "cafe\u0301 menu"),
      (9410002L, "unit \u212B test"),
      (9410003L, "ctrl\u0001chars\u0007here"),
      (9410004L, "bad \uFFFD byte \uFFFD"),
      (9410005L, " trailing \t spaces  \nline \n"),
      (9410006L, ""),
      (9410007L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
  }

  /** Unicode/text normalization report ([[graft.functions.Normalize]], the
    * ftfy/OSCAR cleanup family): cleaned text (control-strip → NFC →
    * whitespace collapse) plus the audit counts (raw/clean lengths, control
    * chars removed, U+FFFD garble markers) and a changed flag. Scan-local,
    * zero shuffles, codegen end-to-end (native NFC expression + Catalyst
    * regexp chains in the Java∩RE2 dialect) — at 100 TB this is a pure map
    * over the scan, and running it FIRST is what makes downstream hashing
    * (dedup, splits, sampling) see canonical bytes. */
  def normalizeText(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Normalize
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionAll(normalizeFixture(s))
    val s0 = coalesce(col("text"), lit(""))
    docs.select(
      col("doc_id"),
      Normalize.cleanText(col("text")).as("text_clean"),
      length(s0).cast("long").as("n_chars_raw"),
      Normalize.controlCount(col("text")).cast("long").as("n_control"),
      Normalize.replacementCount(col("text")).cast("long").as("n_fffd"),
      (Normalize.cleanText(col("text")) =!= s0).as("changed"))
      .withColumn("n_chars_clean", length(col("text_clean")).cast("long"))
      .orderBy("doc_id")
  }
  // q82: identical Java∩RE2 patterns on both engines (the q54 precedent);
  // nfc_normalize is DuckDB's Unicode NFC, the same standard algorithm as
  // java.text.Normalizer; fixture chars are built with chr() since plain
  // SQL literals don't escape. trim(x, ' ') pins space-only trimming.
  query("q82_normalize_text", normalizeText, bench = true, oracle = OracleSql(
    """WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9410001 AS BIGINT), 'cafe' || chr(769) || ' menu'),
      |    (9410002, 'unit ' || chr(8491) || ' test'),
      |    (9410003, 'ctrl' || chr(1) || 'chars' || chr(7) || 'here'),
      |    (9410004, 'bad ' || chr(65533) || ' byte ' || chr(65533)),
      |    (9410005, ' trailing ' || chr(9) || ' spaces  ' || chr(10) || 'line ' || chr(10)),
      |    (9410006, ''),
      |    (9410007, CAST(NULL AS VARCHAR))
      |  ) v(doc_id, text)),
      |base AS (SELECT doc_id, coalesce(text, '') AS s0 FROM uni),
      |clean AS (
      |  SELECT doc_id, s0,
      |    trim(
      |      regexp_replace(
      |        regexp_replace(
      |          nfc_normalize(
      |            regexp_replace(s0, '[\x00-\x08\x0B\x0E-\x1F\x7F]', '', 'g')),
      |          '[ \t]+', ' ', 'g'),
      |        ' +\n', chr(10), 'g'),
      |      ' ') AS text_clean
      |  FROM base)
      |SELECT doc_id, text_clean,
      |  CAST(length(s0) AS BIGINT) AS n_chars_raw,
      |  CAST(length(s0) -
      |    length(regexp_replace(s0, '[\x00-\x08\x0B\x0E-\x1F\x7F]', '', 'g'))
      |    AS BIGINT) AS n_control,
      |  CAST(length(s0) - length(regexp_replace(s0, '\x{FFFD}', '', 'g'))
      |    AS BIGINT) AS n_fffd,
      |  text_clean <> s0 AS changed,
      |  CAST(length(text_clean) AS BIGINT) AS n_chars_clean
      |FROM clean
      |ORDER BY doc_id""".stripMargin))

  /** q83 fixture: a blank doc (no features, NULL score) and a one-token doc
    * (unigram-only branch — the bigram explode must contribute nothing). */
  private[graft] def dsirFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(9420001L -> "", 9420002L -> "solo").toDF("doc_id", "text")
  }

  /** DSIR-style importance weighting ([[graft.operators.Dsir]], Xie et al.
    * 2023) of every document against the q18 quality gate as the target
    * distribution: hashed unigram+bigram feature mass ratios, exact-long
    * internals, two IEEE divisions. High scores = documents whose n-gram
    * profile matches the high-quality subset — the resampling priority for
    * data selection. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionAll(dsirFixture(s))
    graft.operators.Dsir.importanceWeights(docs, "doc_id", "text",
      graft.functions.Text.qualityScore(col("text")) >= 0.5)
      .orderBy("doc_id")
  }
  // q83: quality CTE is the proven q77 mirror; the bigram walk is the q78
  // unnest(range) idiom over the token LIST; buckets are md5 prefixes
  // (portable-hash precedent, q50/q51); score = (a/b)*(c/d) in fixed
  // order — bit-equal doubles on both engines.
  query("q83_dsir_weights", dsirWeights, bench = true, oracle = OracleSql(
    s"""WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9420001 AS BIGINT), ''),
      |    (9420002, 'solo')
      |  ) v(doc_id, text)),
      |q AS (
      |  SELECT doc_id,
      |$qualityScoreSql
      |  FROM (SELECT doc_id,
      |$qualityFeatures
      |        FROM uni)),
      |tgt AS (SELECT doc_id FROM q WHERE quality_score >= 0.5),
      |toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS t
      |  FROM uni WHERE trim(coalesce(text, '')) <> ''),
      |feats AS (
      |  SELECT doc_id, unnest(t) AS f FROM toks
      |  UNION ALL
      |  SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS f
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
      |        FROM toks WHERE len(t) >= 2)),
      |b AS (SELECT doc_id, substr(md5(f), 1, 3) AS bk FROM feats),
      |rawcnt AS (SELECT bk, CAST(count(*) AS BIGINT) AS n_raw FROM b GROUP BY bk),
      |tgtcnt AS (SELECT bk, CAST(count(*) AS BIGINT) AS n_t
      |           FROM b JOIN tgt USING (doc_id) GROUP BY bk),
      |tot AS (SELECT
      |  (SELECT CAST(coalesce(sum(n_raw), 0) AS BIGINT) FROM rawcnt) AS nr,
      |  (SELECT CAST(coalesce(sum(n_t), 0) AS BIGINT) FROM tgtcnt) AS nt),
      |perdoc AS (
      |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
      |    CAST(sum(coalesce(t.n_t, 0)) AS BIGINT) AS sum_target,
      |    CAST(sum(r.n_raw) AS BIGINT) AS sum_raw
      |  FROM b JOIN rawcnt r USING (bk) LEFT JOIN tgtcnt t USING (bk)
      |  GROUP BY b.doc_id)
      |SELECT u.doc_id,
      |  coalesce(p.n_feats, 0) AS n_feats,
      |  coalesce(p.sum_target, 0) AS sum_target,
      |  coalesce(p.sum_raw, 0) AS sum_raw,
      |  CASE WHEN coalesce(p.sum_raw, 0) > 0 AND tt.nt > 0
      |       THEN (CAST(p.sum_target AS DOUBLE) / CAST(p.sum_raw AS DOUBLE)) *
      |            (CAST(tt.nr AS DOUBLE) / CAST(tt.nt AS DOUBLE)) END AS dsir_score
      |FROM uni u LEFT JOIN perdoc p USING (doc_id) CROSS JOIN tot tt
      |ORDER BY u.doc_id""".stripMargin))

  /** Token-balanced shard assignment ([[graft.operators.Budget.assignShards]])
    * for the training export: documents in salted-hash epoch order cut into
    * consecutive 5000-token shards. The salt ("shard") is distinct from the
    * split/sample salts — the shard layout is decorrelated from every other
    * pipeline decision (the q56 lesson). Bucketed two-phase prefix sum, no
    * global window; the DuckDB oracle replays it as one plain window. */
  def shardAssign(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(
      col("doc_id"),
      graft.functions.Text.tokenCount(col("text")).as("n_tokens"),
      graft.functions.Curation.saltedHash(col("text"), "shard").as("__pri"))
    graft.operators.Budget
      .assignShards(docs, "doc_id", "n_tokens", "__pri", tokensPerShard = 5000L)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"), col("shard_id"))
      .orderBy("doc_id")
  }
  // q84: the q63/q65 single-window replay — one running sum in
  // (md5 priority, doc_id) order verifies the bucketed decomposition
  // bit-for-bit; floor(x / 5000.0) routes through double on both engines
  // (CAST alone would ROUND in DuckDB).
  query("q84_shard_assign", shardAssign, bench = true, oracle = OracleSql(
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+'))
      |         END AS BIGINT) AS n_tokens,
      |    md5('shard:' || coalesce(text, '')) AS pri
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (ORDER BY pri, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_tokens
      |  FROM d)
      |SELECT doc_id, n_tokens, cum_tokens,
      |  CAST(floor((cum_tokens - n_tokens) / 5000.0) AS BIGINT) AS shard_id
      |FROM w
      |ORDER BY doc_id""".stripMargin))

  /** q85 fixture: a blank doc (zero keyword rows on both engines) and a doc
    * whose repeated corpus-unique term must dominate its common terms. */
  private[graft] def tfidfFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(9430001L -> "", 9430002L -> "zzrareterm zzrareterm the the the")
      .toDF("doc_id", "text")
  }

  /** Per-document TF-IDF keyword extraction (Spärck Jones 1972 family): the
    * top-3 terms of every document by `tf · (N / df)` — term frequency
    * weighted by LINEAR inverse document frequency (the log-free analogue,
    * same within-document ordering as log-idf since log is monotone; exact
    * longs until one fixed-order double expression, so the oracle matches
    * bit-for-bit). Ties break on the term itself — a total order. Blank
    * documents have no keywords and emit no rows (not a silent drop: the
    * row-count contract is part of the oracle).
    *
    * Scale shape: token explode scan-local; tf = groupBy(doc, term); df =
    * map-side-combined distinct-doc count per term over the VOCABULARY-sized
    * rollup; the tf→df join is term-keyed (AQE broadcasts the df dim); N
    * rides the 1-row broadcast probe; top-3 via the BOUNDED heap aggregate
    * ([[graft.functions.TopK]], O(k) buffer, partial-merged map-side)
    * INSIDE the per-doc aggregate — no corpus-wide rank window, no buffer
    * proportional to a document's term count. (__neg score, term) is a
    * total order per doc, so the heap keeps the identical top-3. */
  def tfidfKeywords(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionAll(tfidfFixture(s))
    val toks = docs
      .filter(graft.functions.Text.tokenCount(col("text")) > 0L)
      .select(col("doc_id"),
        explode(graft.functions.Text.tokens(col("text"))).as("__tok"))
    val tf = toks.groupBy("doc_id", "__tok").agg(count(lit(1)).as("tf"))
    val df = toks.groupBy("__tok")
      .agg(count_distinct(col("doc_id")).as("df"))
    val n = toks.agg(count_distinct(col("doc_id")).as("__n"))
    val scored = tf.join(df, Seq("__tok")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("__tok"), col("tf"), col("df"),
        ((col("tf").cast("double") * col("__n").cast("double")) /
          col("df").cast("double")).as("score"))
    scored
      .groupBy("doc_id")
      .agg(graft.functions.TopK.topKAsc(struct(
        (col("score") * lit(-1.0)).as("__neg"),
        col("__tok").as("term"),
        col("tf"), col("df"), col("score")), k).as("__top"))
      .select(col("doc_id"), posexplode(col("__top")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.term").as("term"), col("col.tf").as("tf"),
        col("col.df").as("df"), col("col.score").as("score"))
      .orderBy("doc_id", "rank")
  }
  // q85: row_number() replays Spark's in-aggregate slice(sort_array) —
  // (score DESC, term) is a total order because (doc, term) determines
  // tf/df/score; the score expression is (tf·N)/df in fixed double order
  // on both engines.
  query("q85_tfidf_keywords", (s, dir) => tfidfKeywords(s, dir), bench = true, oracle = OracleSql(
    """WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9430001 AS BIGINT), ''),
      |    (9430002, 'zzrareterm zzrareterm the the the')
      |  ) v(doc_id, text)),
      |toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+')) AS tok
      |  FROM uni WHERE trim(coalesce(text, '')) <> ''),
      |tf AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY 1, 2),
      |df AS (
      |  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM toks GROUP BY 1),
      |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM toks),
      |scored AS (
      |  SELECT t.doc_id, t.tok, t.tf, d.df,
      |    (CAST(t.tf AS DOUBLE) * CAST(nn.n AS DOUBLE)) / CAST(d.df AS DOUBLE)
      |      AS score
      |  FROM tf t JOIN df d USING (tok) CROSS JOIN n nn),
      |ranked AS (
      |  SELECT doc_id, tok, tf, df, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok)
      |      AS rk
      |  FROM scored)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rank, tok AS term, tf, df, score
      |FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, rank""".stripMargin))

  /** Feature-hashed document embeddings ([[graft.operators.HashedEmbedding]],
    * Weinberger et al. 2009 hashing trick) in the sparse oracle form: one
    * row per (doc, md5-bucket) with the L2-normalized count weight — the
    * model-free text→vector bridge into the ANN/SemDedup surface. Exact-long
    * counts; the only float ops are one correctly-rounded sqrt and one
    * division, so DuckDB reproduces every weight bit-for-bit. The blank
    * fixture doc emits no rows (no direction) — part of the row-count
    * contract. */
  def hashedEmbeddingQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionAll(Seq(9440001L -> "", 9440002L -> "the the scan").toDF("doc_id", "text"))
    graft.operators.HashedEmbedding.sparse(docs, "doc_id", "text")
      .orderBy("doc_id", "bucket")
  }
  // q86: two-hex-char strpos ladder = Spark's conv(md5 prefix) bucket;
  // sqrt is correctly rounded on both engines per IEEE-754, so the
  // normalized weights match bit-for-bit.
  query("q86_hashed_embedding", hashedEmbeddingQ, bench = true, oracle = OracleSql(
    """WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9440001 AS BIGINT), ''),
      |    (9440002, 'the the scan')
      |  ) v(doc_id, text)),
      |toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+')) AS tok
      |  FROM uni WHERE trim(coalesce(text, '')) <> ''),
      |cnt AS (
      |  SELECT doc_id,
      |    CAST((strpos('0123456789abcdef', substr(md5(tok),1,1))-1) * 16
      |       + (strpos('0123456789abcdef', substr(md5(tok),2,1))-1)
      |      AS BIGINT) AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM toks GROUP BY 1, 2),
      |ss AS (SELECT doc_id, CAST(sum(cnt*cnt) AS BIGINT) AS ss
      |       FROM cnt GROUP BY 1)
      |SELECT c.doc_id, c.bucket,
      |  CAST(c.cnt AS DOUBLE) / sqrt(CAST(s.ss AS DOUBLE)) AS weight
      |FROM cnt c JOIN ss s USING (doc_id)
      |ORDER BY doc_id, bucket""".stripMargin))

  /** Temperature-smoothed source mixing weights
    * ([[graft.operators.Mixture.samplingWeights]], Conneau & Lample 2019
    * §3.1) at α = 0.5 over the q16 whitespace token counts: the mixing
    * table a pretraining sampler consumes. Bit-deterministic end to end —
    * exact counts, one division for p, a correctly-rounded sqrt for the
    * smoothing, and the single cross-source sum folded in sorted source
    * order (mirrored by the oracle's recursive-CTE walk). */
  def mixtureWeights(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mixture.samplingWeights(
      T(s, dir, "documents"), "source",
      graft.functions.Text.tokenCount(col("text")), alpha = 0.5)
      .orderBy("stratum")
  // q93: the one cross-source float sum is replayed as a recursive-CTE
  // walk in row_number-by-source order — the same left-to-right sequence
  // as Spark's aggregate(array_sort(collect_list)) fold; sqrt is
  // correctly rounded on both engines, so every double is bit-equal.
  query("q93_mixture_weights", mixtureWeights, bench = true, oracle = OracleSql(
    """WITH RECURSIVE t AS (
      |  SELECT source,
      |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))),
      |                  '[ \t\n\f\r]+')) END AS toks
      |  FROM documents),
      |s AS (SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(toks) AS BIGINT) AS n_tokens
      |      FROM t GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM s),
      |sh AS (SELECT stratum, n_docs, n_tokens,
      |         CAST(n_tokens AS DOUBLE) / total AS p,
      |         sqrt(CAST(n_tokens AS DOUBLE) / total) AS sp,
      |         row_number() OVER (ORDER BY stratum NULLS FIRST) AS rn
      |       FROM s, tot),
      |f AS (
      |  SELECT CAST(0 AS BIGINT) AS rn, CAST(0 AS DOUBLE) AS acc
      |  UNION ALL
      |  SELECT sh.rn, f.acc + sh.sp FROM f JOIN sh ON sh.rn = f.rn + 1),
      |d AS (SELECT acc AS denom FROM f ORDER BY rn DESC LIMIT 1)
      |SELECT stratum, n_docs, n_tokens, p, sp / denom AS weight,
      |  CASE WHEN p > 0 THEN (sp / denom) / p END AS sample_factor
      |FROM sh, d ORDER BY stratum NULLS FIRST""".stripMargin))

  def tokenEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.UnigramLm.tokenEntropy(
      T(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(Seq(
          9460001L -> "",                // blank branch: n 0, NULL entropy
          9460002L -> "the the the the", // zero entropy, top_token_frac 1
          9460003L -> "a b c d"          // max entropy: log2(4) = 2 exactly
        ).toDF("doc_id", "text")))
      .orderBy("doc_id")
  }
  // q94: the per-doc entropy sum folds over list(... ORDER BY tok) —
  // the same addition sequence as Spark's sorted 0.0-seeded fold; 6dp
  // round absorbs log2's last-ulp libm variation.
  query("q94_token_entropy", tokenEntropy, bench = true, oracle = OracleSql(
    """WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9460001 AS BIGINT), ''),
      |    (9460002, 'the the the the'),
      |    (9460003, 'a b c d')
      |  ) v(doc_id, text)),
      |toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+')) AS tok
      |  FROM uni WHERE trim(coalesce(text, '')) <> ''),
      |tc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      |       FROM toks GROUP BY 1, 2),
      |ag AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(count(*) AS BIGINT) AS vocab_size, max(c) AS mx,
      |    list_reduce(
      |      list(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)) ORDER BY tok),
      |      (a, b) -> a + b) AS scc
      |  FROM tc GROUP BY 1)
      |SELECT u.doc_id, coalesce(n_tokens, 0) AS n_tokens,
      |  coalesce(vocab_size, 0) AS vocab_size,
      |  round(log2(CAST(n_tokens AS DOUBLE)) - scc / n_tokens, 6) AS entropy,
      |  CAST(mx AS DOUBLE) / n_tokens AS top_token_frac
      |FROM uni u LEFT JOIN ag USING (doc_id)
      |ORDER BY doc_id""".stripMargin))

  /** Per-source weighted document sample ([[graft.operators.Sampling
    * .weightedSample]], Efraimidis–Spirakis): 10 documents per source with
    * inclusion odds ∝ n_chars — the quality/length-weighted downsampling a
    * mixing pipeline runs per domain. Deterministic md5-derived uniforms;
    * the one libm `ln` rounds 6dp (q94 policy); ranked on (score, id) — a
    * total order both engines replay. One scan-local key pass + one
    * stratum-keyed BOUNDED aggregate (O(k) buffer per source via
    * [[graft.functions.TopK]]) — never a stratum-wide sort. */
  def weightedSampleQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(
      T(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      "doc_id", "n_chars", Seq("source"), k = 10)
      .orderBy("source", "rank")
  // q143: the E-S key restated verbatim — the 52-bit md5 integer via the
  // q50 nibble-parse pattern (exact on both engines), u = (h + 0.5)/2^52
  // exact double arithmetic, one libm ln rounded 6dp, rank on
  // (score, doc_id). DuckDB sum(BIGINT) widens to HUGEINT; the cast back
  // to DOUBLE is exact below 2^52.
  query("q143_weighted_sample", weightedSampleQ, bench = true, oracle = OracleSql(
    """WITH d AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |  WHERE n_chars IS NOT NULL AND n_chars > 0),
      |nib AS (
      |  SELECT doc_id,
      |    sum(CAST(strpos('0123456789abcdef',
      |          substr(md5(CAST(doc_id AS VARCHAR)),
      |                 CAST(i.i AS INTEGER) + 1, 1)) - 1 AS BIGINT)
      |        << ((12 - CAST(i.i AS INTEGER)) * 4)) AS h
      |  FROM d, range(13) i(i) GROUP BY doc_id),
      |sc AS (
      |  SELECT d.source, d.doc_id, CAST(d.n_chars AS DOUBLE) AS weight,
      |    round(-ln((CAST(nib.h AS DOUBLE) + 0.5) / 4503599627370496.0)
      |          / CAST(d.n_chars AS DOUBLE), 6) AS score
      |  FROM d JOIN nib USING (doc_id)),
      |rk AS (
      |  SELECT source, doc_id, weight, score,
      |    row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rk
      |  FROM sc)
      |SELECT source, CAST(rk AS BIGINT) AS rank, doc_id AS id, weight, score
      |FROM rk WHERE rk <= 10
      |ORDER BY source, rank""".stripMargin))

  /** Kernel of q98: capped inverted index over whitespace tokens — one row
    * per term with document frequency and the head of its sorted posting
    * list (the `headLen` smallest doc ids, comma-joined — a STRING so the
    * oracle hash-compares it; full postings at 100 TB live partitioned,
    * never in one row). Per-doc distinct tokens (a posting is membership,
    * not occurrence). Scale shape: ONE term-keyed aggregate carries both the
    * df count and the head — the head through the bounded heap
    * ([[graft.functions.TopK]], O(headLen) buffer, map-side partial merge),
    * so the hottest (stopword) term costs headLen slots per partition, not a
    * partition-wide rank sort; an earlier revision paid a row_number window
    * plus a second rollup over a second exchange for the same rows. */
  private[graft] def invertedIndexOf(
      docs: DataFrame, minDf: Long, headLen: Int): DataFrame = {
    val toks = docs
      .filter(trim(coalesce(col("text"), lit(""))) =!= "")
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.Text.tokens(col("text")))).as("term"))
    toks.groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        concat_ws(",",
          transform(graft.functions.TopK.topKAsc(col("doc_id"), headLen),
            _.cast("string"))).as("postings_head"))
      .filter(col("df") >= minDf)
  }

  /** Capped inverted index over the real corpus (df ≥ 5, 32-posting head):
    * the retrieval-side complement of the q62 vocabulary report. */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    invertedIndexOf(T(s, dir, "documents"), minDf = 5L, headLen = 32)
      .orderBy("term")
  // q98: DISTINCT (doc, tok) = per-doc distinct tokens; the sorted
  // posting head is a list slice joined to a string on both engines.
  query("q98_inverted_index", invertedIndex, bench = true, oracle = OracleSql(
    """WITH toks AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+'))
      |      AS term
      |  FROM documents WHERE trim(coalesce(text, '')) <> ''),
      |c AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY 1),
      |h AS (SELECT term,
      |        array_to_string(list_sort(list(doc_id))[1:32], ',')
      |          AS postings_head
      |      FROM toks GROUP BY 1)
      |SELECT c.term, c.df, h.postings_head
      |FROM c JOIN h USING (term) WHERE df >= 5
      |ORDER BY term""".stripMargin))

  /** The classic BPE walkthrough corpus (Sennrich et al. 2016, §3.2 figure:
    * low×5, lower×2, newest×6, widest×3) as weighted running text — every
    * merge decision and tie-break of the first 8 iterations is hand-
    * checkable, so the trained table freezes as a VALUES oracle. */
  private[graft] def bpeFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      9500101L -> (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" "),
      9500102L -> (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    ).toDF("doc_id", "text")
  }

  /** BPE merge-loop training ([[graft.operators.Bpe.train]], Sennrich et
    * al. 2016) on the planted walkthrough corpus: 8 iterations of count →
    * merge → re-count, the iterated form of the q78 pair kernel (iteration
    * 1's decision IS q78's top row). Fixture-oracled (frozen VALUES) like
    * the other deterministic-kernel twins: the corpus-scale half (the one
    * corpus-sized word rollup) is exactly q78's, already DuckDB-oracled on
    * real data. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.train(bpeFixture(s), "text", merges = 8)
      .orderBy("step")
  // q79: frozen-VALUES oracle — the trainer is deterministic end-to-end
  // on the planted Sennrich corpus (see bpeFixture's scaladoc); the
  // expected table is the paper's own walkthrough, independently recomputed
  // by a reference implementation before freezing.
  query("q79_bpe_train", bpeTrain, bench = false, oracle = OracleSql(
    """SELECT * FROM (VALUES
      |  (CAST(1 AS INT), 'e',  's',   'es',     CAST(9 AS BIGINT)),
      |  (2,              'es', 't',   'est',    9),
      |  (3,              'l',  'o',   'lo',     7),
      |  (4,              'lo', 'w',   'low',    7),
      |  (5,              'e',  'w',   'ew',     6),
      |  (6,              'ew', 'est', 'ewest',  6),
      |  (7,              'n',  'ewest', 'newest', 6),
      |  (8,              'd',  'est', 'dest',   3)
      |) v(step, "left", "right", merged, weight)
      |ORDER BY step""".stripMargin))

  /** Boundary fixture for chunking: a document of exactly maxTokens tokens
    * (single full window), a blank document (no chunks), and a two-window
    * document — the real corpus supplies the bulk distribution. */
  private[graft] def chunkFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      9400001L -> ("w " * 64).trim,
      9400002L -> "",
      9400003L -> ("v " * 70).trim
    ).toDF("doc_id", "text")
  }

  /** Context-window chunking ([[graft.operators.Chunking]]): every document
    * cut into overlapping ≤64-token windows starting every 48 tokens
    * (16-token overlap), over the real corpus ∪ the boundary fixture.
    * Scan-local (the token array materializes once per row; zero data
    * shuffles); (doc_id, chunk_id) is the stable global key. */
  def docChunk(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.chunkDocs(
      T(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(chunkFixture(s)),
      "doc_id", "text", maxTokens = 64, stride = 48)
      .orderBy("doc_id", "chunk_id")
  // q75: range() replays the stride walk; list slicing is 1-based
  // inclusive on both engines' formulations here (Spark slice(start+1,
  // maxTokens) == DuckDB t[start+1 : least(start+64, n)]).
  query("q75_doc_chunk", docChunk, bench = true, oracle = OracleSql(
    """WITH uni AS (
      |  SELECT doc_id, coalesce(text, '') AS text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9400001 AS BIGINT), trim(repeat('w ', 64))),
      |    (9400002, ''),
      |    (9400003, trim(repeat('v ', 70)))
      |  ) v(doc_id, text)),
      |d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+') AS t
      |  FROM uni WHERE trim(text) <> ''),
      |s AS (
      |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
      |    unnest(range(0, greatest(CAST(len(t) AS BIGINT) - 16, 1), 48)) AS start
      |  FROM d)
      |SELECT doc_id,
      |  start // 48 AS chunk_id,
      |  least(64, n - start) AS n_chunk_tokens,
      |  array_to_string(t[CAST(start + 1 AS INT) : CAST(least(start + 64, n) AS INT)], ' ') AS chunk_text
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin))

  /** Domain-level quality filter ([[graft.operators.DomainFilter]]): every
    * document annotated with its SOURCE's rollup — doc count, good-doc count
    * (quality_score ≥ 0.5), good_share (exact integer ratio, one final
    * division) — and the keep decision at min good_share 0.5. The
    * RefinedWeb-style "is this source worth crawling?" screen; on this corpus
    * the 20 sources split both ways (shares 0.36–0.80 at sf0.01). One
    * map-side-combined shuffle + a broadcast join back (pinned). */
  def sourceQualityQ(s: SparkSession, dir: String): DataFrame =
    DomainFilter.annotateBySource(
      T(s, dir, "documents"), "source", "text")
      .select(
        col("doc_id"), col("source"), col("n_docs"), col("n_good"),
        col("good_share"), col("source_kept"))
      .orderBy("doc_id")

  // q70: the q18 quality formula (proven bit-exact there) rolled up per
  // source; good_share is one integer-ratio division, bit-deterministic
  // regardless of aggregation order.
  query("q70_source_quality", sourceQualityQ, bench = true, oracle = OracleSql(
    s"""WITH q AS (
      |  SELECT doc_id, source,
      |$qualityScoreSql
      |  FROM (SELECT doc_id, source,
      |$qualityFeatures
      |        FROM documents)),
      |agg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_good
      |  FROM q GROUP BY 1)
      |SELECT q.doc_id, q.source, a.n_docs, a.n_good,
      |  CAST(a.n_good AS DOUBLE) / CAST(a.n_docs AS DOUBLE) AS good_share,
      |  CAST(a.n_good AS DOUBLE) / CAST(a.n_docs AS DOUBLE) >= 0.5 AS source_kept
      |FROM q JOIN agg a USING (source)
      |ORDER BY doc_id""".stripMargin))

  /** Deterministic content-hash train/val/test split ([[Curation.splitAssign]]):
    * every document's split is a pure function of its text bytes, so the
    * assignment is reproducible run-over-run, stable under re-ingestion and
    * re-partitioning, and exact duplicates can never straddle a split
    * boundary. Scan-local and shuffle-free (pinned) — the 100 TB split is
    * free. Oracled: DuckDB recomputes the identical md5 buckets. */
  def splitAssignQ(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(
        col("doc_id"),
        graft.functions.Curation.splitBucket(col("text")).as("bucket"),
        graft.functions.Curation.splitAssign(col("text")).as("split"))
      .orderBy("doc_id")
  // q51: content-hash split restated directly — md5 hex and its ASCII
  // ordering are engine-independent, so the cut points mean the same thing.
  query("q51_split_assign", splitAssignQ, bench = false, oracle = OracleSql(
    """SELECT doc_id, substr(md5(coalesce(text,'')),1,2) AS bucket,
      |  CASE WHEN substr(md5(coalesce(text,'')),1,2) < '0d' THEN 'test'
      |       WHEN substr(md5(coalesce(text,'')),1,2) < '1a' THEN 'val'
      |       ELSE 'train' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** Train/eval decontamination over the REAL corpus
    * ([[graft.operators.Decontamination]]): the q51 content-hash split
    * partitions `documents` into train (~90%) and eval (test+val, ~10%);
    * training docs sharing any 8-word-gram with an eval doc are flagged with
    * their shared-shingle count. On this corpus the hits are exactly the
    * planted near-duplicates that straddle the split — the leakage the screen
    * exists to catch. DuckDB-oracled end-to-end (split, shingling, and
    * overlap all recomputed relationally there). */
  /** The q51 content-hash split applied to `documents`, as the (train, eval)
    * pair q52 and q57 both screen — ONE definition so the two queries (and
    * their shared oracle CTE) cannot drift onto different partitions. */
  private def splitCorpus(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        graft.functions.Curation.splitAssign(col("text")).as("split"))
    (docs.filter(col("split") === "train"), docs.filter(col("split") =!= "train"))
  }

  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val (train, eval) = splitCorpus(s, dir)
    graft.operators.Decontamination.sharedShingleCounts(
      train, eval, "doc_id", "text", n = graft.functions.Curation.DeconNgram,
      maxShingleDf = graft.functions.Curation.DeconMaxShingleDf)
      .orderBy("doc_id")
  }
  // q52: the full decontamination pipeline recomputed relationally — the
  // q51 split, 8-gram shingling (lead×7 mirror of the zipped-slice
  // shingler), eval-side distinct, and the per-train-doc overlap count.
  // The sp/tok/sh chain is shared with q57 (decontaminationCte below).
  query("q52_decontaminate", decontaminate, bench = true, oracle = OracleSql(decontaminateOracle))

  /** q52 with the bloom-filter prescreen
    * ([[graft.operators.Decontamination.sharedShingleCountsBloom]]): the
    * eval shingle set is sketched into a fixed-size bloom (one bounded
    * collect, ≤1 MiB here) and the TRAIN shingle stream is pruned by a
    * codegen'd `might_contain` probe before the exact equi-join — the
    * explicit semi-join reduction for the scale regime where the reference
    * side outgrows the broadcast threshold and the join would otherwise
    * shuffle every training shingle. Same split, same 8-gram criterion,
    * same df cap — and the SAME DuckDB oracle as q52: no false negatives
    * means the prescreen is output-invariant, which the driver verifies. */
  def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val (train, eval) = splitCorpus(s, dir)
    graft.operators.Decontamination.sharedShingleCountsBloom(
      train, eval, "doc_id", "text", n = graft.functions.Curation.DeconNgram,
      maxShingleDf = graft.functions.Curation.DeconMaxShingleDf)
      .orderBy("doc_id")
  }
  query("q113_decontaminate_bloom", decontaminateBloom, bench = true,
    oracle = OracleSql(decontaminateOracle))

  /** Pair-level decontamination ([[Decontamination.contaminationPairs]]):
    * q52's screen resolved to (train doc, eval doc, shared-shingle count) —
    * the shape that decides remediation (drop the training doc vs retire the
    * leaked eval item). Same split, same 8-gram criterion, same DuckDB
    * end-to-end oracle with the eval id carried through the shingle join. */
  def decontaminatePairs(s: SparkSession, dir: String): DataFrame = {
    val (train, eval) = splitCorpus(s, dir)
    graft.operators.Decontamination.contaminationPairs(
      train, eval, "doc_id", "text", n = graft.functions.Curation.DeconNgram,
      maxShingleDf = graft.functions.Curation.DeconMaxShingleDf)
      .orderBy("doc_id", "eval_doc_id")
  }
  // q57: the SAME sp/tok/sh chain with the eval doc id carried through the
  // shingle join — one row per contaminated (train, eval) pair.
  query("q57_decontaminate_pairs", decontaminatePairs, bench = false, oracle = OracleSql(
    s"""WITH $decontaminationCte,
       |$decontaminationTdfCte
       |SELECT t.doc_id, e.doc_id AS eval_doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM sh t JOIN sh e ON e.s = t.s AND e.split = 'eval'
       |WHERE t.split = 'train' AND t.s IN (SELECT s FROM tdf)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** SEMANTIC train/eval decontamination — q52/q57's leakage screen
    * lifted from lexical 8-grams to EMBEDDING space, the modern
    * pipeline's second screen: a paraphrased or translated eval item
    * shares no 8-gram with its training twin but sits at high cosine, so
    * n-gram decontamination alone under-reports leakage. The q51
    * content-hash split partitions the corpus; every (train, eval) pair
    * with exact cosine ≥ 0.3 over the document embeddings is the
    * remediation list (drop the training doc or retire the eval item) —
    * q57's output shape in embedding space. EXACT end to end: the pair
    * scan is q27's block-partitioned kernel (no BNLJ, no O(n²) row
    * materialization) and the split filter keeps cross-split survivors
    * oriented train→eval; cosine rounds to 6dp with q27's measured
    * threshold-stability margin, so the DuckDB oracle recomputes split,
    * cosines, and orientation end-to-end. At the scale where the
    * all-pairs scan stops being affordable the same screen runs behind
    * the q28/q80 ANN prescreens — this row pins the exact semantics
    * those prescreens must preserve (their recall is measured against
    * exactly this kernel). */
  def semanticDecontamination(s: SparkSession, dir: String): DataFrame = {
    // eval = test ∪ val, i.e. bucket < '1a' — the q51/q52 cut, one
    // definition away from drifting only via Curation itself
    val split = T(s, dir, "documents").select(col("doc_id"),
      (graft.functions.Curation.splitBucket(col("text")) < "1a").as("__ev"))
    val pairs = Ann.blockPairsAbove(
      T(s, dir, "embeddings").filter(col("embedding").isNotNull),
      "vec_id", "embedding", 0.3)
    pairs
      .join(split.select(col("doc_id").as("id_a"), col("__ev").as("__ea")),
        Seq("id_a"))
      .join(split.select(col("doc_id").as("id_b"), col("__ev").as("__eb")),
        Seq("id_b"))
      .filter(col("__ea") =!= col("__eb"))
      .select(
        when(col("__ea"), col("id_b")).otherwise(col("id_a"))
          .as("train_doc_id"),
        when(col("__ea"), col("id_a")).otherwise(col("id_b"))
          .as("eval_doc_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("train_doc_id", "eval_doc_id")
  }
  // q224: the q27 cosine oracle composed with the q51 split cut — the
  // cross-split survivors oriented train→eval (semantic leakage list).
  query("q224_semantic_decon", semanticDecontamination, bench = true, oracle = OracleSql(
    """WITH sp AS (
      |  SELECT doc_id,
      |    substr(md5(coalesce(text,'')),1,2) < '1a' AS ev
      |  FROM documents),
      |raw AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                           CAST(b.embedding AS DOUBLE[])) AS c0
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT id_a, id_b, CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END AS c
      |  FROM raw)
      |SELECT
      |  CASE WHEN sa.ev THEN s.id_b ELSE s.id_a END AS train_doc_id,
      |  CASE WHEN sa.ev THEN s.id_a ELSE s.id_b END AS eval_doc_id,
      |  round(c, 6) AS cosine
      |FROM scored s
      |JOIN sp sa ON sa.doc_id = s.id_a
      |JOIN sp sb ON sb.doc_id = s.id_b
      |WHERE c >= 0.3 AND sa.ev <> sb.ev
      |ORDER BY 1, 2""".stripMargin))

  /** Corpus report — the standard pipeline-health rollup: documents, total
    * tokens, and high-quality count per (split, language). Composes the
    * proven q51/q17/q16/q18 kernels; every aggregate is integer-exact
    * (counts + long sums — no order-dependent float aggregation), so the
    * rollup hash-compares bit-equal against DuckDB recomputing the same
    * mirrors. One scan + one partial-agg exchange — the 100 TB corpus
    * report costs a single pass. */
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(
        graft.functions.Curation.splitAssign(col("text")).as("split"),
        Text.langId(col("text")).as("lang_pred"),
        Text.tokenCount(col("text")).as("n_tokens"),
        (Text.qualityScore(col("text")) >=
          graft.functions.Curation.GateMinQuality).as("__hq"))
      .groupBy("split", "lang_pred")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum(when(col("__hq"), 1L).otherwise(0L)).as("n_high_quality"))
      .orderBy("split", "lang_pred")
  // q60: the corpus report recomposed from the PROVEN q51/q17/q16/q18
  // mirrors (split CASE, stopword lang vote, whitespace token count,
  // quality formula) — integer-exact aggregates only, so the rollup
  // hash-compares with no float-order caveat.
  query("q60_corpus_stats", corpusStats, bench = true, oracle = OracleSql(
    """WITH scored AS (
      |  SELECT
      |    CASE WHEN substr(md5(coalesce(text,'')),1,2) < '0d' THEN 'test'
      |         WHEN substr(md5(coalesce(text,'')),1,2) < '1a' THEN 'val'
      |         ELSE 'train' END AS split,
      |    CASE
      |      WHEN length(regexp_replace(coalesce(text, ''), '[^\x{4e00}-\x{9fff}]', '', 'g')) * 5
      |           > length(coalesce(text, '')) THEN 'zh'
      |      WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
      |      WHEN en >= es AND en >= de AND en >= fr THEN 'en'
      |      WHEN es >= de AND es >= fr THEN 'es'
      |      WHEN de >= fr THEN 'de'
      |      ELSE 'fr' END AS lang_pred,
      |    n_tokens,
      |    (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
      |     + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
      |     + CASE WHEN en + es + de + fr > 0 THEN 0.2 ELSE 0.0 END
      |     + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END) >= 0.5 AS hq
      |  FROM (SELECT text,
      |          CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |               ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
      |          length(coalesce(text, '')) AS n_chars,
      |          length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS n_punct,
      |          len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b')) AS en,
      |          len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b')) AS es,
      |          len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b')) AS de,
      |          len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS fr
      |        FROM documents))
      |SELECT split, lang_pred,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(sum(CASE WHEN hq THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality
      |FROM scored
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin))

  /** Corpus vocabulary report — top-`k` tokens by occurrence with a total
    * order (count desc, then token), the standard stopword/vocab audit over
    * a training corpus. Scale shape: explode is scan-local, the count's
    * map-side partial aggregation collapses each task to one row per
    * distinct token before the exchange, and the top-k is a
    * TakeOrderedAndProject (per-partition heads, no global sort
    * materialization). */
  def vocabTopK(s: SparkSession, dir: String, k: Int = 50): DataFrame =
    T(s, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)
  // q62: same tokenizer mirror as q16/q26 (explicit whitespace class —
  // see Text.tokens' dialect note); the (count desc, token) total order
  // makes the LIMIT deterministic in both engines.
  query("q62_vocab_topk", (s, dir) => vocabTopK(s, dir), bench = false, oracle = OracleSql(
    s"""WITH tok AS (
      |  SELECT unnest($tokensSql) AS token
      |  FROM documents
      |  WHERE trim(coalesce(text,'')) <> '')
      |SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM tok WHERE token <> ''
      |GROUP BY 1
      |ORDER BY 2 DESC, 1
      |LIMIT 50""".stripMargin))

  /** CORPUS DRIFT REPORT ([[graft.operators.Drift.categoricalDrift]]):
    * the top-20 tokens by total-variation contribution between two corpus
    * snapshots (documents split by doc_id parity — the stand-in for
    * crawl-N vs crawl-N+1), the release-gate diff a pipeline reads before
    * swapping in a refreshed source. Drift ranks by the EXACT
    * cross-multiplied integer `|cnt_a·N_b − cnt_b·N_a|` with a token
    * tie-break (a total order both engines sort identically — the q62
    * LIMIT discipline); same q62/q16 tokenizer mirror. A token absent
    * from one snapshot IS signal (full-outer, zero-filled), and the
    * one-row totals broadcast is the documented global-anchor exemption. */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val toks = T(s, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    graft.operators.Drift.categoricalDrift(
        toks.filter(pmod(col("doc_id"), lit(2)) === 0).select("token"),
        toks.filter(pmod(col("doc_id"), lit(2)) === 1).select("token"),
        "token")
      .orderBy(col("drift_num").desc, col("token"))
      .limit(20)
  }
  // q193: the identical cross-multiplied drift arithmetic over the q62
  // tokenizer mirror — parity split, zero-filled full-outer, integer
  // rank with token tie-break, one exact-integer division for `drift`.
  query("q193_corpus_drift", corpusDrift, bench = true, oracle = OracleSql(
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(coalesce(text, ''))),
      |      '[ \t\n\f\r]+')) AS token
      |  FROM documents WHERE trim(coalesce(text, '')) <> ''),
      |t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
      |ca AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt_a
      |       FROM t WHERE doc_id % 2 = 0 GROUP BY 1),
      |cb AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt_b
      |       FROM t WHERE doc_id % 2 = 1 GROUP BY 1),
      |tot AS (SELECT
      |  CAST((SELECT count(*) FROM t WHERE doc_id % 2 = 0) AS BIGINT) AS n_a,
      |  CAST((SELECT count(*) FROM t WHERE doc_id % 2 = 1) AS BIGINT) AS n_b),
      |j AS (SELECT coalesce(ca.token, cb.token) AS token,
      |        coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
      |      FROM ca FULL OUTER JOIN cb ON cb.token = ca.token)
      |SELECT j.token, j.cnt_a, j.cnt_b, tot.n_a, tot.n_b,
      |  abs(j.cnt_a * tot.n_b - j.cnt_b * tot.n_a) AS drift_num,
      |  CAST(abs(j.cnt_a * tot.n_b - j.cnt_b * tot.n_a) AS DOUBLE)
      |    / CAST(tot.n_a * tot.n_b AS DOUBLE) AS drift
      |FROM j, tot
      |ORDER BY drift_num DESC, token
      |LIMIT 20""".stripMargin))

  /** Per-document vocabulary coverage — the fraction of a document's token
    * occurrences that fall in the corpus top-`k` vocabulary. The cheap
    * LM-free fluency proxy of the CCNet family: natural prose is dominated
    * by the corpus head (stopwords), while gibberish, code dumps, and
    * wrong-language text fall out of it. Exact by construction: both counts
    * are longs and the coverage is a SINGLE IEEE division, so the DuckDB
    * mirror hash-compares bit-equal; blank documents get NULL coverage
    * rather than a 0/0. Scale shape: the vocabulary is a top-k
    * (TakeOrderedAndProject over map-side partial counts, no global sort)
    * broadcast into a scan-local semi-join — the corpus is read twice but
    * never shuffled beyond the token partial-agg. */
  def vocabCoverage(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = T(s, dir, "documents")
    val toks = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val vocab = toks.groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
      .select("token")
    val hits = toks.join(broadcast(vocab), Seq("token"), "leftsemi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_in_vocab"))
    docs
      .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_in_vocab", coalesce(col("n_in_vocab"), lit(0L)))
      .withColumn("vocab_coverage",
        when(col("n_tokens") > 0,
          col("n_in_vocab").cast("double") / col("n_tokens")))
      .orderBy("doc_id")
  }
  // q67: same tokenizer mirror as q16/q62; the top-10 vocabulary is a
  // deterministic (count desc, token) head, coverage is one IEEE division
  // of exact longs — bit-equal across engines. Blank docs → NULL coverage.
  query("q67_vocab_coverage", (s, dir) => vocabCoverage(s, dir), bench = true, oracle = OracleSql(
    s"""WITH tok AS (
      |  SELECT doc_id,
      |    unnest($tokensSql) AS token
      |  FROM documents
      |  WHERE trim(coalesce(text,'')) <> ''),
      |vocab AS (
      |  SELECT token FROM tok WHERE token <> ''
      |  GROUP BY 1 ORDER BY count(*) DESC, token LIMIT 10),
      |hits AS (
      |  SELECT doc_id, count(*) AS n_in_vocab FROM tok
      |  WHERE token IN (SELECT token FROM vocab)
      |  GROUP BY 1),
      |base AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(coalesce(text,'')) = '' THEN 0
      |         ELSE len($tokensSql) END AS n_tokens
      |  FROM documents)
      |SELECT b.doc_id,
      |  CAST(b.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(coalesce(h.n_in_vocab, 0) AS BIGINT) AS n_in_vocab,
      |  CASE WHEN b.n_tokens > 0
      |       THEN CAST(coalesce(h.n_in_vocab, 0) AS DOUBLE) / b.n_tokens
      |       ELSE NULL END AS vocab_coverage
      |FROM base b LEFT JOIN hits h ON h.doc_id = b.doc_id
      |ORDER BY b.doc_id""".stripMargin))

  /** Token-budget corpus selection ([[graft.operators.Budget]]): each source
    * is capped at a token budget — the five "priority" sources at 1000
    * tokens, the rest at 700 (a mixture-weight ladder; per-source totals run
    * ~1.1–1.6k tokens at sf0.01, so every source exercises both the admitted
    * and the budget-exhausted branch) — admitting documents in salted
    * content-hash priority order. The bucketed two-phase prefix sum keeps
    * every window task at stratum/256 rows; the DuckDB oracle recomputes the
    * same running sum as ONE plain window per source, verifying the
    * decomposition bit-for-bit (exact long arithmetic throughout). */
  def tokenBudgetQ(s: SparkSession, dir: String): DataFrame = {
    val C = graft.functions.Curation
    val base = T(s, dir, "documents").select(
      col("doc_id"), col("source"),
      Text.tokenCount(col("text")).as("n_tokens"),
      C.saltedHash(col("text"), "budget").as("prio"))
    val budget =
      when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 1000L)
        .otherwise(700L)
    graft.operators.Budget.selectWithinBudget(
      base, "doc_id", "source", "n_tokens", "prio", budget)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("kept"))
      .orderBy("doc_id")
  }
  // q63: the bucketed two-phase prefix sum stated as ONE plain running-sum
  // window per source — DuckDB verifies the decomposition bit-for-bit.
  // Same tokenizer mirror as q16, same salted-md5 mirror as q56; sum() of
  // BIGINT is HUGEINT in DuckDB, cast back.
  query("q63_token_budget", tokenBudgetQ, bench = true, oracle = OracleSql(
    """WITH base AS (
      |  SELECT doc_id, source,
      |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
      |    md5('budget:' || coalesce(text, '')) AS prio
      |  FROM documents),
      |cum AS (
      |  SELECT doc_id, source, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY prio, doc_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM base)
      |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
      |  cum_tokens <= CASE WHEN source IN ('src0','src1','src2','src3','src4')
      |                     THEN 1000 ELSE 700 END AS kept
      |FROM cum ORDER BY doc_id""".stripMargin))

  /** Global deterministic shuffle rank ([[graft.operators.Budget.shuffleRank]]):
    * every document gets a dense 1-based epoch-order rank in salted
    * content-hash order — the reproducible training-shuffle assignment,
    * decorrelated from ingest order and from the q51/q56 hash domains by its
    * own salt. Computed as the bucketed distributed prefix COUNT (no global
    * window, no single-task sort); the DuckDB oracle is the plain
    * `row_number()` over the same order, verifying the decomposition on
    * every row. */
  def shuffleRankQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Budget.shuffleRank(
      T(s, dir, "documents").select(col("doc_id"),
        graft.functions.Curation.saltedHash(col("text"), "shuffle").as("prio")),
      "doc_id", "prio")
      .select(col("doc_id"), col("shuffle_rank"))
      .orderBy("doc_id")
  // q65: the distributed prefix count stated as the plain global
  // row_number over the identical (salted-md5, doc_id) order.
  query("q65_shuffle_rank", shuffleRankQ, bench = true, oracle = OracleSql(
    """WITH p AS (
      |  SELECT doc_id, md5('shuffle:' || coalesce(text, '')) AS prio
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(row_number() OVER (ORDER BY prio, doc_id) AS BIGINT) AS shuffle_rank
      |FROM p ORDER BY doc_id""".stripMargin))

  /** Multi-line planted rows for [[lineDedupQ]] — the real corpus is
    * single-line with unique texts (verified at every SF), so these rows
    * carry the sub-document branches: a footer line shared by FOUR documents
    * (over the cap → removed everywhere, including a document that is
    * nothing but the footer), a line shared by exactly THREE documents (at
    * the cap → kept, the boundary), a blank interior line (structural →
    * kept), and unique lines riding alongside removed ones. */
  private[graft] def boilerplateFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    val footer = "subscribe to the newsletter at news example com"
    val trio = "this line appears in exactly three documents"
    Seq(
      9100001L -> s"alpha unique content one\n$footer",
      9100002L -> s"beta unique content two\n$footer\nextra tail line",
      9100003L -> s"$footer\ngamma unique content three",
      9100004L -> footer,
      9100005L -> s"delta unique content four\n$trio",
      9100006L -> s"$trio\nepsilon unique content five",
      9100007L -> s"zeta unique content six\n$trio",
      9100008L -> "top line\n\nbottom line"
    ).toDF("doc_id", "text")
  }

  /** Cross-document line-level boilerplate removal
    * ([[graft.operators.Boilerplate]]) over the real corpus ∪ the planted
    * multi-line fixture: lines occurring in more than 3 distinct documents
    * are stripped and each document's text rebuilt from its kept lines in
    * order. The real rows prove corpus-scale pass-through (single-line
    * unique texts emerge untouched); the fixture drives every removal
    * branch. DuckDB-oracled end-to-end — line explode, document-frequency
    * cap, and ordered rebuild all recomputed relationally there. */
  def lineDedupQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.removeFrequentLines(
      T(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(boilerplateFixture(s)),
      "doc_id", "text", maxDf = 3L)
      .orderBy("doc_id")
  // q64: line explode via DuckDB's zipped unnest (list + 1-based position),
  // document-frequency cap, ordered string_agg rebuild. string_agg skips
  // the NULLs the CASE emits for boilerplate lines; coalesce('') matches
  // Spark's array_join on the empty array when every line was removed.
  // The VALUES mirror [[boilerplateFixture]] literally.
  query("q64_line_boilerplate", lineDedupQ, bench = true, oracle = OracleSql(
    """WITH uni AS (
      |  SELECT doc_id, coalesce(text, '') AS text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9100001 AS BIGINT), 'alpha unique content one' || chr(10) || 'subscribe to the newsletter at news example com'),
      |    (9100002, 'beta unique content two' || chr(10) || 'subscribe to the newsletter at news example com' || chr(10) || 'extra tail line'),
      |    (9100003, 'subscribe to the newsletter at news example com' || chr(10) || 'gamma unique content three'),
      |    (9100004, 'subscribe to the newsletter at news example com'),
      |    (9100005, 'delta unique content four' || chr(10) || 'this line appears in exactly three documents'),
      |    (9100006, 'this line appears in exactly three documents' || chr(10) || 'epsilon unique content five'),
      |    (9100007, 'zeta unique content six' || chr(10) || 'this line appears in exactly three documents'),
      |    (9100008, 'top line' || chr(10) || '' || chr(10) || 'bottom line')
      |  ) v(doc_id, text)),
      |lines AS (
      |  SELECT doc_id,
      |    unnest(string_split(text, chr(10))) AS line,
      |    unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
      |  FROM uni),
      |boiler AS (
      |  SELECT line FROM lines WHERE trim(line) <> ''
      |  GROUP BY line HAVING count(DISTINCT doc_id) > 3),
      |marked AS (
      |  SELECT l.doc_id, l.pos, l.line, b.line IS NOT NULL AS is_boiler
      |  FROM lines l LEFT JOIN boiler b ON l.line = b.line)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  coalesce(string_agg(CASE WHEN NOT is_boiler THEN line END, chr(10) ORDER BY pos), '') AS text_clean
      |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Gopher-style repetition quality stats ([[graft.operators.Repetition]]):
    * per-document top-2-gram fraction and duplicated-2-gram fraction, with
    * the repetitive flag at top_frac > 0.1 OR dup_frac > 0.2 (both sides of
    * each threshold are populated on this corpus, and every fraction is a
    * single exact-IEEE division, so the flag is engine-independent). ONE data
    * shuffle end-to-end (pinned): repartition by doc once, then both
    * aggregations reuse the partitioning. */
  def repetitionStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Repetition.ngramRepetition(
      T(s, dir, "documents"), "doc_id", "text",
      n = graft.functions.Curation.GateRepNgram)
      .withColumn("repetitive",
        col("top_frac") > graft.functions.Curation.GateRepTopFrac ||
          col("dup_frac") > graft.functions.Curation.GateRepDupFrac)
      .orderBy("doc_id")
  // q53: per-doc 2-gram occurrence counts via the same tokenizer mirror;
  // both fractions are one integer-double division — bit-equal across
  // engines — and the flag restates the same comparisons.
  query("q53_repetition", repetitionStats, bench = true, oracle = OracleSql(
    s"""WITH tok AS (
      |  SELECT doc_id,
      |    unnest($tokensSql) AS w,
      |    unnest(range(1, len($tokensSql) + 1)) AS ord
      |  FROM documents
      |  WHERE len($tokensSql) >= 2
      |    AND trim(coalesce(text,'')) <> ''),
      |g AS (
      |  SELECT doc_id, w || ' ' || l1 AS gram FROM (
      |    SELECT doc_id, w, lead(w,1) OVER win AS l1
      |    FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY ord))
      |  WHERE l1 IS NOT NULL),
      |gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(sum(c) AS BIGINT) AS n_grams,
      |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_frac,
      |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(c) AS DOUBLE) AS dup_frac,
      |  (CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) > 0.1
      |   OR CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
      |        / CAST(sum(c) AS DOUBLE) > 0.2) AS repetitive
      |FROM gc GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** PII-bearing planted rows for [[piiScrub]] — the real corpus is PII-free
    * (verified: zero pattern hits at every SF), so these rows carry every
    * match/replace branch: multiple emails, E.164 phones, dotted-quad IPs, a
    * mixed row, a clean row, and the syntactic edge cases (minimal email,
    * out-of-range octets matched by design, a too-short phone left alone). */
  private[graft] def piiFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      9000001L -> "contact me at alice.smith+test@example.org or bob@mail.example.com for details",
      9000002L -> "call +14155550123 or +442071838750 tomorrow",
      9000003L -> "server at 192.168.0.1 and 10.0.0.255 responded",
      9000004L -> "mixed alice@example.com from 172.16.254.3 dials +4915123456789",
      9000005L -> "no personal data here just words",
      9000006L -> "edge cases: a@b.co 999.999.999.999 +123456"
    ).toDF("doc_id", "text")
  }

  /** PII scrub over the real corpus ∪ the planted fixture
    * ([[Curation.scrubPii]]): per-document email/phone/IPv4 match counts and
    * the placeholder-scrubbed text. The real rows prove the pass-through path
    * (zero counts, text unchanged) at corpus scale; the planted rows prove
    * every redaction branch. Scan-local regex work — no shuffle beyond the
    * presentation sort. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val C = graft.functions.Curation
    T(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionAll(piiFixture(s))
      .select(
        col("doc_id"),
        C.emailCount(col("text")).as("n_email"),
        C.phoneCount(col("text")).as("n_phone"),
        C.ipv4Count(col("text")).as("n_ip"),
        C.scrubPii(col("text")).as("scrubbed"))
      .orderBy("doc_id")
  }
  // q54: counts + ordered replacement chain (email → IPv4 → phone, 'g'
  // flag = Java's replace-all default) over documents ∪ the same planted
  // VALUES the Spark side unions in.
  query("q54_pii_scrub", piiScrub, bench = false, oracle = OracleSql(
    """WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9000001 AS BIGINT), 'contact me at alice.smith+test@example.org or bob@mail.example.com for details'),
      |    (9000002, 'call +14155550123 or +442071838750 tomorrow'),
      |    (9000003, 'server at 192.168.0.1 and 10.0.0.255 responded'),
      |    (9000004, 'mixed alice@example.com from 172.16.254.3 dials +4915123456789'),
      |    (9000005, 'no personal data here just words'),
      |    (9000006, 'edge cases: a@b.co 999.999.999.999 +123456')
      |  ) v(doc_id, text))
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(coalesce(text,''), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(coalesce(text,''), '\+[0-9]{7,15}')) AS BIGINT) AS n_phone,
      |  CAST(len(regexp_extract_all(coalesce(text,''), '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
      |  regexp_replace(regexp_replace(regexp_replace(coalesce(text,''),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
      |    '\+[0-9]{7,15}', '<PHONE>', 'g') AS scrubbed
      |FROM uni ORDER BY doc_id""".stripMargin))

  /** Sequence packing ([[graft.operators.Packing]]): documents greedily
    * packed into 256-token context-window bins in id order within
    * 64-consecutive-id groups — the deterministic distributed form of the
    * batch-construction step that follows curation. ONE shuffle (the group
    * collect); the greedy fold is a scan-local `aggregate` over ≤64 items.
    * DuckDB-oracled: the oracle replays the identical sequential walk as a
    * recursive CTE, so every (doc, bin) assignment is verified. */
  def sequencePack(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packBins(
      T(s, dir, "documents")
        .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tok")),
      "doc_id", "n_tok", capacity = 256, groupSize = 64)
      .orderBy("doc_id")
  // q55: the sequential first-fit walk replayed as a recursive CTE — each
  // group's rows joined in row_number order, carrying (bin, fill) state
  // forward with the same break rule, so every assignment is verified.
  query("q55_sequence_pack", sequencePack, bench = true, oracle = OracleSql(
    s"""WITH RECURSIVE t AS (
      |$firstFitPackSql
      |  FROM rec r JOIN t ON t.grp = r.grp AND t.rn = r.rn + 1)
      |SELECT doc_id, CAST(tokens AS BIGINT) AS n_tokens,
      |  CAST(grp * 64 + bin AS BIGINT) AS bin_id
      |FROM rec ORDER BY doc_id""".stripMargin))

  /** Packing observability as a first-class query
    * ([[graft.operators.Packing.binStats]] over the q55 assignment): bins,
    * docs, mean fill, and waste fraction of the packed corpus — the numbers
    * that decide whether the context-window capacity is right BEFORE a
    * training run burns the compute. Every aggregate is an exact-integer
    * sum (fills are long sums ≤ total corpus tokens, exactly representable
    * in double), so the two final IEEE divisions are bit-deterministic and
    * the DuckDB oracle — the q55 recursive-CTE replay extended with the
    * same two-level rollup — hash-compares bit-equal. Two tiny aggregation
    * exchanges on top of the q55 shape. */
  def packingStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.binStats(sequencePack(s, dir), capacity = 256)
  // q69: the q55 replay extended with the same two-level rollup binStats
  // computes — per-bin fill/docs, then the corpus-wide packing report.
  // All sums are exact integers, so avg and the waste division are
  // bit-deterministic in both engines.
  query("q69_packing_stats", packingStats, bench = false, oracle = OracleSql(
    s"""WITH RECURSIVE t AS (
      |$firstFitPackSql
      |  FROM rec r JOIN t ON t.grp = r.grp AND t.rn = r.rn + 1),
      |bins AS (
      |  SELECT grp * 64 + bin AS bin_id,
      |    CAST(sum(tokens) AS BIGINT) AS fill,
      |    CAST(count(*) AS BIGINT) AS n_docs
      |  FROM rec GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_bins,
      |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |  CAST(sum(fill) AS DOUBLE) / count(*) AS mean_fill,
      |  CAST(sum(CASE WHEN 256 - fill > 0 THEN 256 - fill ELSE 0 END) AS DOUBLE)
      |    / (count(*) * CAST(256 AS DOUBLE)) AS waste_frac
      |FROM bins""".stripMargin))

  /** Deterministic stratified sampling ([[Curation.sampleHit]]): 5% of
    * English documents, 20% of everything else, selected by a salted
    * content-hash threshold — reproducible run-over-run, and independent of
    * the q51 split because the sampling salt puts it in a different hash
    * domain. Scan-local and shuffle-free like q51. */
  def stratifiedSampleQ(s: SparkSession, dir: String): DataFrame = {
    val C = graft.functions.Curation
    val rateHex = when(col("lang") === "en", lit(C.rateThresholdHex(0.05)))
      .otherwise(lit(C.rateThresholdHex(0.2)))
    T(s, dir, "documents")
      .filter(C.sampleHit(col("text"), rateHex))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }
  // q56: the salted-hash sample restated directly; the hex thresholds are
  // the exact rateThresholdHex constants (0.05 → '0ccccc', 0.2 → '333333').
  query("q56_stratified_sample", stratifiedSampleQ, bench = false, oracle = OracleSql(
    """SELECT doc_id, lang FROM documents
      |WHERE substr(md5('sample:' || coalesce(text,'')),1,6)
      |      < CASE WHEN lang = 'en' THEN '0ccccc' ELSE '333333' END
      |ORDER BY doc_id""".stripMargin))

  /** Planted JSON rows for [[jsonExtract]] — the real `props` column is
    * uniformly well-formed `{"k": N}`, so these rows carry the failure
    * branches a 100 TB log feed actually contains: malformed JSON, missing
    * key, non-scalar value, quoted-number value, null payload. */
  private[graft] def jsonFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("planted", """{"k": 41}"""),
      ("planted", "not json"),
      ("planted", """{"other": 2}"""),
      ("planted", """{"k": {"x": 1}}"""),
      ("planted", """{"k": "17"}"""),
      ("planted", null: String)
    ).toDF("event_type", "props")
  }

  /** Semi-structured JSON extraction over the events feed: pull `$.k` out of
    * the `props` JSON payload and aggregate per event type — the scan-local
    * sub-column extraction every log-ingest pipeline runs. Failure semantics
    * are part of the contract (and of the oracle): malformed JSON, a missing
    * key, and a non-scalar value all yield NULL (`get_json_object` + ANSI
    * `try_cast`), counted by the n_events/n_with_k gap; a quoted number
    * extracts unquoted and casts fine. The planted fixture drives every
    * branch; the real rows prove the happy path at corpus scale. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events").select(col("event_type"), col("props"))
      .unionAll(jsonFixture(s))
      .select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  // q58: json_extract_string mirrors get_json_object (unquoted scalar
  // extraction), json_valid guards DuckDB's throwing parser where Spark
  // returns NULL, TRY_CAST mirrors ANSI try_cast; the planted VALUES are
  // identical to the Spark-side fixture.
  query("q58_json_extract", jsonExtract, bench = false, oracle = OracleSql(
    """WITH uni AS (
      |  SELECT event_type, props FROM events
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    ('planted', '{"k": 41}'),
      |    ('planted', 'not json'),
      |    ('planted', '{"other": 2}'),
      |    ('planted', '{"k": {"x": 1}}'),
      |    ('planted', '{"k": "17"}'),
      |    ('planted', NULL)
      |  ) v(event_type, props)),
      |ext AS (
      |  SELECT event_type,
      |    TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
      |      THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
      |  FROM uni)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(k) AS BIGINT) AS n_with_k,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  CAST(min(k) AS BIGINT) AS min_k,
      |  CAST(max(k) AS BIGINT) AS max_k
      |FROM ext GROUP BY 1 ORDER BY 1""".stripMargin))
}
