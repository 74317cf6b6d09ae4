package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorExpressions => V}
import graft.operators.{Ann, Loops}
import DedupQueries.{embeddingNearDup, minhashPairs, neardupExactPairs, neardupLsh}

/** Vector search over `embeddings`: exact and approximate top-k (LSH,
  * IVF, PQ), the ANN index lifecycle, BM25, fusion and reranking, and the
  * recall reports of the approximate kernels. */
object AnnQueries extends QueryFamily {
  import Shared._

  /** The q139/q163 BM25 corpus statistics over the non-blank documents `d`:
    * tokens, term frequencies `tf`, document frequencies `df`, lengths `dl`
    * and the totals `st`. */
  private val bm25StatsSql: String =
    """toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+')) AS tok
      |  FROM d),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY 1, 2),
      |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      |       FROM toks GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(dl) AS BIGINT) AS sdl FROM dl),""".stripMargin

  /** The q139/q163 BM25 term contributions `co` (k1 = 1.2, b = 0.75, Lucene's
    * non-negative idf) of each probe term `qt` in each document, over the
    * `bm25StatsSql` CTEs. */
  private val bm25TermScoresSql: String =
    """co AS (
      |  SELECT qt.query_id, tf.doc_id, qt.tok,
      |    ln((CAST(st.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
      |         / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
      |    * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
      |         / (CAST(tf.tf AS DOUBLE)
      |            + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE)
      |                / (CAST(st.sdl AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS c
      |  FROM qt JOIN tf USING (tok) JOIN df USING (tok)
      |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),""".stripMargin

  /** The q178/q187 truth: the body of the embeddings CTE `e` and the exact-
    * cosine top-10 `t10` of every 13th vector against the rest. */
  private val retrievalTruthSql: String =
    """|  SELECT vec_id, embedding FROM embeddings
      |  WHERE embedding IS NOT NULL),
      |traw AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                           CAST(c.embedding AS DOUBLE[])) AS c0
      |  FROM (SELECT * FROM e WHERE vec_id % 13 = 0) q
      |  CROSS JOIN (SELECT * FROM e WHERE vec_id % 13 <> 0) c),
      |t10 AS (
      |  SELECT query_id, neighbor_id, truth_rank FROM (
      |    SELECT query_id, neighbor_id,
      |      CAST(row_number() OVER (PARTITION BY query_id
      |        ORDER BY (CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END) DESC,
      |                 neighbor_id ASC) AS BIGINT) AS truth_rank
      |    FROM traw) WHERE truth_rank <= 10),""".stripMargin

  /** The q178/q187 metrics over `t10` (truth ranks) and `s10` (system ranks,
    * the CTE after the system's `sraw`): recall@10, MRR and nDCG@10 per
    * query, the [[graft.operators.RetrievalEval.metrics]] mirror. */
  private val retrievalMetricsSql: String =
    s"""s10 AS (
      |  SELECT query_id, neighbor_id, sys_rank FROM (
      |    SELECT query_id, neighbor_id,
      |      CAST(row_number() OVER (PARTITION BY query_id
      |        ORDER BY (CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END) DESC,
      |                 neighbor_id ASC) AS BIGINT) AS sys_rank
      |    FROM sraw) WHERE sys_rank <= 10),
      |nt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
      |       FROM t10 GROUP BY 1),
      |j AS (
      |  SELECT s10.query_id, s10.sys_rank, t10.truth_rank
      |  FROM s10 LEFT JOIN t10
      |    ON t10.query_id = s10.query_id
      |   AND t10.neighbor_id = s10.neighbor_id),
      |perq AS (
      |  SELECT query_id,
      |    CAST(count(truth_rank) AS BIGINT) AS n_rel,
      |    min(CASE WHEN truth_rank IS NOT NULL THEN sys_rank END)
      |      AS first_rel,
      |    CASE WHEN count(truth_rank) = 0 THEN 0.0
      |         ELSE list_reduce(
      |           list((${sqlDoubleList(NdcgDisc)})[sys_rank]
      |                ORDER BY sys_rank)
      |             FILTER (WHERE truth_rank IS NOT NULL),
      |           (a, b) -> a + b) END AS dcg
      |  FROM j GROUP BY 1)
      |SELECT p.query_id, n.n_truth, p.n_rel,
      |  CAST(p.n_rel AS DOUBLE) / CAST(n.n_truth AS DOUBLE) AS recall,
      |  CASE WHEN p.first_rel IS NULL THEN 0.0
      |       ELSE 1.0 / p.first_rel END AS mrr,
      |  p.dcg / (${sqlDoubleList(NdcgIdcg)})[n.n_truth] AS ndcg
      |FROM perq p JOIN nt n ON n.query_id = p.query_id
      |ORDER BY p.query_id""".stripMargin

  /** The tail of every exact cosine top-3 oracle over a `raw(id, neighbor_id,
    * c0)` CTE: NaN cosines (a zero-norm vector) read 0.0 as in the kernels,
    * rank by (cosine DESC, neighbor_id), round 6dp. */
  private val cosineTop3: String =
    """scored AS (
      |  SELECT id, neighbor_id,
      |    CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END AS c FROM raw),
      |ranked AS (
      |  SELECT id, neighbor_id, c,
      |    CAST(row_number() OVER (PARTITION BY id ORDER BY c DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT id, neighbor_id, round(c, 6) AS cosine, rank
      |FROM ranked WHERE rank <= 3 ORDER BY id, rank""".stripMargin

  /** Shared q47/q48 oracle: the EXACT brute-force top-3 over the planted
    * [[Shared.annFixture]] corpus, restated entirely in DuckDB (fixture rebuilt from
    * range(16), cosine via list_cosine_similarity on doubles — operand-exact
    * vs Spark's float→double math by construction). Both approximate kernels
    * must emit this exact relation on the planted structure. */
  private val annFixtureOracle: String =
    s"""WITH fx AS (
      |  SELECT CAST(i AS BIGINT) AS vec_id,
      |    list_transform(range(0, 8), d ->
      |      CASE WHEN d = i // 4 THEN 1.0
      |           WHEN d = 4 + (i // 4) THEN 0.125 * (i % 4)
      |           ELSE 0.0 END) AS v
      |  FROM range(16) t(i)),
      |raw AS (
      |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
      |    list_cosine_similarity(a.v, b.v) AS c0
      |  FROM fx a CROSS JOIN fx b WHERE a.vec_id <> b.vec_id),
      |$cosineTop3""".stripMargin

  /** Exact INNER-PRODUCT top-3 ([[Ann.blockTopKDot]]): the MIPS metric —
    * retrieval models trained with dot scoring rank by raw ⟨q, v⟩, which
    * cosine cannot express when norms carry signal. Same block-cogrouped
    * plan as q21; dot rounds 6dp against list_inner_product. */
  def annDot(s: SparkSession, dir: String): DataFrame =
    Ann.blockTopKDot(T(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
      .withColumn("dot", round(col("dot"), 6))
      .orderBy("id", "rank")
  query("q159_ann_dot", annDot, bench = true, oracle = OracleSql(
    """WITH raw AS (
      |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
      |    list_inner_product(CAST(a.embedding AS DOUBLE[]),
      |                       CAST(b.embedding AS DOUBLE[])) AS s0
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT id, neighbor_id, s0,
      |    CAST(row_number() OVER (PARTITION BY id ORDER BY s0 DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM raw)
      |SELECT id, neighbor_id, round(s0, 6) AS dot, rank
      |FROM ranked WHERE rank <= 3 ORDER BY id, rank""".stripMargin))

  /** Exact EUCLIDEAN top-3 ([[Ann.blockTopKL2]]): ascending distance, the
    * L2-trained-space metric; per-pair elementwise Σ(q−v)² then one sqrt,
    * mirroring list_distance's stated form. 6dp rounding. */
  def annL2(s: SparkSession, dir: String): DataFrame =
    Ann.blockTopKL2(T(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
      .withColumn("distance", round(col("distance"), 6))
      .orderBy("id", "rank")
  query("q160_ann_l2", annL2, bench = true, oracle = OracleSql(
    """WITH raw AS (
      |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
      |    list_distance(CAST(a.embedding AS DOUBLE[]),
      |                  CAST(b.embedding AS DOUBLE[])) AS d0
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT id, neighbor_id, d0,
      |    CAST(row_number() OVER (PARTITION BY id ORDER BY d0 ASC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM raw)
      |SELECT id, neighbor_id, round(d0, 6) AS distance, rank
      |FROM ranked WHERE rank <= 3 ORDER BY id, rank""".stripMargin))

  /** RECIPROCAL RANK FUSION (Cormack et al. SIGIR'09) of the cosine and
    * inner-product neighbor rankings: rrf = Σ 1/(60 + rank) over the
    * systems that ranked the candidate — the standard zero-tuning way to
    * combine heterogeneous retrievers (hybrid search fuses BM25 + dense
    * exactly like this; here the two exact kernels q21/q159 already
    * oracle-proven are the systems). Scale shape: two block-cogrouped
    * top-10 passes (the q21 plan), ONE full-outer equi-join on
    * (id, neighbor) — candidate frames are k-bounded, never corpus×corpus
    * — and a per-id window over ≤ 20 rows. Each 1/(60+r) is one exact IEEE
    * division of small integers and the two-term sum is commutative at
    * equal bits, so rrf needs NO rounding; the final rank breaks ties by
    * neighbor id — a total order both engines sort identically. */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.RetrievalEval.rrfFuse(
      Seq(Ann.blockTopK(emb, "vec_id", "embedding", k = 10),
        Ann.blockTopKDot(emb, "vec_id", "embedding", k = 10)),
      rankCols = Seq("cos_rank", "dot_rank"), topK = 5)
      .orderBy("id", "fused_rank")
  }
  // q159/q160: q21's oracle with the metric swapped — list_inner_product
  // (desc) / list_distance (asc); 6dp, same rank tie-break.
  // q177: the q21 cosine ranking and the q159 dot ranking (identical
  // NaN/tie policies), top-10 each, fused full-outer; every rrf term is
  // one exact small-integer division and the two-term sum is commutative
  // at equal bits — no rounding anywhere.
  query("q177_rrf_fusion", rrfFusion, bench = true, oracle = OracleSql(
    """WITH cr AS (
      |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                           CAST(b.embedding AS DOUBLE[])) AS c0
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      |c10 AS (
      |  SELECT id, neighbor_id, cos_rank FROM (
      |    SELECT id, neighbor_id,
      |      CAST(row_number() OVER (PARTITION BY id
      |        ORDER BY (CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END) DESC,
      |                 neighbor_id ASC) AS BIGINT) AS cos_rank
      |    FROM cr) WHERE cos_rank <= 10),
      |dr AS (
      |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
      |    list_inner_product(CAST(a.embedding AS DOUBLE[]),
      |                       CAST(b.embedding AS DOUBLE[])) AS s0
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      |d10 AS (
      |  SELECT id, neighbor_id, dot_rank FROM (
      |    SELECT id, neighbor_id,
      |      CAST(row_number() OVER (PARTITION BY id
      |        ORDER BY s0 DESC, neighbor_id ASC) AS BIGINT) AS dot_rank
      |    FROM dr) WHERE dot_rank <= 10),
      |f AS (
      |  SELECT coalesce(c.id, d.id) AS id,
      |    coalesce(c.neighbor_id, d.neighbor_id) AS neighbor_id,
      |    c.cos_rank, d.dot_rank,
      |    coalesce(1.0 / (60 + c.cos_rank), 0.0)
      |      + coalesce(1.0 / (60 + d.dot_rank), 0.0) AS rrf
      |  FROM c10 c FULL OUTER JOIN d10 d
      |    ON c.id = d.id AND c.neighbor_id = d.neighbor_id)
      |SELECT id, fused_rank, neighbor_id, rrf, cos_rank, dot_rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY id
      |    ORDER BY rrf DESC, neighbor_id ASC) AS BIGINT) AS fused_rank
      |  FROM f) WHERE fused_rank <= 5 ORDER BY id, fused_rank""".stripMargin))

  /** The nDCG@10 discount table 1/log2(i+1), i = 1..10, and its running
    * prefix sums (= IDCG for n relevant, n ≤ 10) — EMBEDDED AS LITERALS on
    * both engines rather than computed: log2 is a libm call whose last bit
    * Spark and DuckDB need not agree on, while a decimal literal parses to
    * the identical correctly-rounded double everywhere. The q178 metrics
    * then involve no transcendental math at all — only exact divisions and
    * a fixed-order fold of these constants. */
  private def NdcgDisc = graft.operators.RetrievalEval.ndcgDiscounts

  private def NdcgIdcg = graft.operators.RetrievalEval.ndcgIdcgPrefix

  /** Literal-double list for DuckDB — STRING-cast form: DuckDB parses a
    * NUMERIC literal through DECIMAL first, which lands 1 ulp off the
    * correctly-rounded double for some values (measured:
    * 0.38685280723454163 → …a9f vs Java's …aa0), while CAST('…' AS
    * DOUBLE) is correctly rounded. The q178/q187 nDCG folds demand
    * bit-equality, so every shared literal ships as a string. */
  private def sqlDoubleList(a: Array[Double]): String =
    a.map(d => s"CAST('${d.toString}' AS DOUBLE)").mkString("[", ", ", "]")

  /** RETRIEVAL EVALUATION HARNESS, fully oracled — recall@10 / MRR / nDCG@10
    * of INT8-QUANTIZED cosine retrieval against the exact-cosine ground
    * truth: the eval loop every embedding-compression decision runs ("how
    * much recall does 4× smaller storage cost?"), expressed end-to-end in
    * the engine. Queries = every 13th vector; corpus = the rest (disjoint
    * split, no self-hit ambiguity); truth = exact top-10
    * ([[Ann.blockTopKJoin]], the q42 kernel); system = the same kernel over
    * the q61 int8 code vectors (integer→float casts are exact, and cosine
    * is scale-invariant so the codes ARE the dequantized ranking). Metrics
    * are engine-exact BY CONSTRUCTION: recall and MRR are single divisions
    * of exact integers, and DCG folds the [[NdcgDisc]] literals in
    * ascending-rank order on both engines (the q154 sorted-fold contract)
    * with IDCG looked up from the [[NdcgIdcg]] literal prefix sums — no
    * transcendental call anywhere, so NO rounding. Scale shape: two
    * batch-vs-corpus block kernels (probe batch × corpus, never
    * corpus×corpus), then all metric math on k-bounded frames. */
  def retrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    val Q = graft.functions.Quantization
    // r17: ONE embeddings scan — the truth and system kernels each read
    // queries + corpus + a majority-dim probe from this frame (5 scans
    // before); block resolution depends only on (n, dim, parallelism) and
    // per-pair cosines are block-independent, so the output is unchanged
    val emb = Loops.checkpoint(
      T(s, dir, "embeddings").filter(col("embedding").isNotNull), eager = true)
    val queries = emb.filter(pmod(col("vec_id"), lit(13)) === 0)
    val corpus = emb.filter(pmod(col("vec_id"), lit(13)) =!= 0)
    def codesOf(df: DataFrame) = df
      .withColumn("__scale", Q.int8Scale(col("embedding")))
      .select(col("vec_id"),
        Q.int8Codes(col("embedding"), col("__scale"))
          .cast("array<float>").as("codes"))
    val truth = Ann.blockTopKJoin(queries, "vec_id", "embedding",
        corpus, "vec_id", "embedding", k = 10)
      .select(col("id").as("query_id"), col("neighbor_id"),
        col("rank").as("truth_rank"))
    val sys = Ann.blockTopKJoin(codesOf(queries), "vec_id", "codes",
        codesOf(corpus), "vec_id", "codes", k = 10)
      .select(col("id").as("query_id"), col("neighbor_id"),
        col("rank").as("sys_rank"))
    graft.operators.RetrievalEval.metrics(sys, "sys_rank", truth, "truth_rank")
      .orderBy("query_id")
  }
  // q178: truth = q21's exact-cosine ranking (batch vs corpus), system =
  // the same ranking over the q61 int8 codes; metrics are exact-integer
  // divisions plus a rank-ordered fold of the SHARED literal discount
  // table — no transcendental call on either engine, no rounding.
  query("q178_retrieval_metrics", retrievalMetrics, bench = true, oracle = OracleSql(
    (s"""WITH e AS MATERIALIZED (
       |$retrievalTruthSql
       |sc AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x ->
       |      CAST(least(greatest(floor(CAST(x AS DOUBLE) *
       |        (CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE 127.0 / m END)
       |        + 0.5), -127.0), 127.0) AS INT)) AS codes
       |  FROM (SELECT vec_id, embedding,
       |          list_max(list_transform(embedding,
       |            x -> abs(CAST(x AS DOUBLE)))) AS m
       |        FROM e)),
       |sraw AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_cosine_similarity(CAST(q.codes AS DOUBLE[]),
       |                           CAST(c.codes AS DOUBLE[])) AS c0
       |  FROM (SELECT * FROM sc WHERE vec_id % 13 = 0) q
       |  CROSS JOIN (SELECT * FROM sc WHERE vec_id % 13 <> 0) c),
       |$retrievalMetricsSql""".stripMargin)))

  /** MATRYOSHKA TRUNCATION EVAL — the q178 harness re-aimed at the OTHER
    * embedding-compression axis: keep only the first 16 of 64 dimensions
    * (the MRL deployment trade — 4× less storage and 4× cheaper dot
    * products, same as int8's ratio but along dimensions instead of
    * precision) and measure recall@10 / MRR / nDCG@10 against the full-dim
    * exact truth. One [[graft.operators.RetrievalEval.metrics]] call over
    * two rank frames — the point of factoring the harness: any retriever
    * variant is an eval row away. `slice` of the stored array is exact on
    * both engines; everything downstream inherits q178's
    * no-transcendental, no-rounding contract. */
  def matryoshkaEval(s: SparkSession, dir: String): DataFrame = {
    // r17: ONE embeddings scan (the q178 argument)
    val emb = Loops.checkpoint(
      T(s, dir, "embeddings").filter(col("embedding").isNotNull), eager = true)
    val queries = emb.filter(pmod(col("vec_id"), lit(13)) === 0)
    val corpus = emb.filter(pmod(col("vec_id"), lit(13)) =!= 0)
    def trunc(df: DataFrame) = df.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("emb16"))
    val truth = Ann.blockTopKJoin(queries, "vec_id", "embedding",
        corpus, "vec_id", "embedding", k = 10)
      .select(col("id").as("query_id"), col("neighbor_id"),
        col("rank").as("truth_rank"))
    val sys = Ann.blockTopKJoin(trunc(queries), "vec_id", "emb16",
        trunc(corpus), "vec_id", "emb16", k = 10)
      .select(col("id").as("query_id"), col("neighbor_id"),
        col("rank").as("sys_rank"))
    graft.operators.RetrievalEval.metrics(sys, "sys_rank", truth, "truth_rank")
      .orderBy("query_id")
  }
  // q187: q178's oracle with the system side sliced to the first 16
  // dims — DuckDB arr[1:16] mirrors Spark slice(arr, 1, 16) exactly.
  query("q187_matryoshka_eval", matryoshkaEval, bench = true, oracle = OracleSql(
    (s"""WITH e AS MATERIALIZED (
       |$retrievalTruthSql
       |sraw AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[])[1:16],
       |                           CAST(c.embedding AS DOUBLE[])[1:16]) AS c0
       |  FROM (SELECT * FROM e WHERE vec_id % 13 = 0) q
       |  CROSS JOIN (SELECT * FROM e WHERE vec_id % 13 <> 0) c),
       |$retrievalMetricsSql""".stripMargin)))

  /** q181's selection depth — also the number of greedy layers the oracle
    * unrolls (each layer = one pick, exactly the kernel's loop). */
  private val MmrK = 5

  /** MMR DIVERSIFIED RERANK ([[graft.operators.Mmr]], Carbonell & Goldstein
    * SIGIR'98): the q178 probe set's exact cosine top-10 candidates, greedily
    * re-selected down to 5 trading relevance (0.7) against redundancy (0.3)
    * — the anti-near-duplicate candidate selection every RAG/few-shot
    * pipeline runs after first-stage retrieval. Stage-2 cost is independent
    * of corpus size (the q163 posture): the greedy loop sees only
    * queries×10 candidate rows. Every similarity is quantized by the
    * explicit floor(x·1e6+0.5)/1e6 form — the same IEEE op sequence in the
    * kernel and the SQL — so each greedy argmax (score desc, doc_id) is
    * bit-deterministic, and the oracle REPLAYS the full greedy selection
    * step-by-step as [[MmrK]] unrolled SQL layers: pick-1 through pick-5
    * each restated as "max similarity to the previous layer's selections,
    * score, argmax" — the q161/q146 replay-the-algorithm oracle class. */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings").filter(col("embedding").isNotNull)
    val queries = emb.filter(pmod(col("vec_id"), lit(13)) === 0)
    val corpus = emb.filter(pmod(col("vec_id"), lit(13)) =!= 0)
    val cands = Ann.blockTopKJoin(queries, "vec_id", "embedding",
        corpus, "vec_id", "embedding", k = 10)
      .select(col("id").as("query_id"), col("neighbor_id").as("doc_id"),
        (floor(col("cosine") * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
          .as("rel"))
      .join(emb.select(col("vec_id").as("doc_id"),
        col("embedding").as("vec")), Seq("doc_id"))
    graft.operators.Mmr.rerank(cands, k = MmrK,
        relWeight = 0.7, divWeight = 0.3)
      .orderBy("query_id", "mmr_rank")
  }
  // q181: the greedy MMR selection REPLAYED as MmrK unrolled SQL layers
  // (remainder → max-sim-to-selected → argmax per layer); similarity
  // quantization is the explicit floor(x·1e6+0.5)/1e6 on both engines.
  query("q181_mmr_rerank", mmrRerank, bench = true, oracle = OracleSql(mmrOracleSql(MmrK)))

  /** The q181 oracle: the greedy MMR selection unrolled to [[MmrK]] SQL
    * layers over the q178 candidate CTEs. Every layer is MATERIALIZED
    * (referenced by the next layer's remainder AND max-sim join; default
    * inlining would re-expand the chain combinatorially). All similarity
    * quantization is the explicit floor(x·1e6+0.5)/1e6 — identical IEEE
    * ops to the kernel, never a library round(). */
  private def mmrOracleSql(k: Int): String = {
    val base =
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |craw AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                           CAST(c.embedding AS DOUBLE[])) AS c0
        |  FROM (SELECT * FROM e WHERE vec_id % 13 = 0) q
        |  CROSS JOIN (SELECT * FROM e WHERE vec_id % 13 <> 0) c),
        |cand AS MATERIALIZED (
        |  SELECT query_id, doc_id,
        |    floor((CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END) * 1000000.0
        |          + 0.5) / 1000000.0 AS rel
        |  FROM (
        |    SELECT query_id, doc_id, c0,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY (CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END) DESC,
        |                 doc_id ASC) AS rn
        |    FROM craw) WHERE rn <= 10),
        |cp AS MATERIALIZED (
        |  SELECT query_id, a_id, b_id,
        |    floor((CASE WHEN isnan(s0) THEN 0.0 ELSE s0 END) * 1000000.0
        |          + 0.5) / 1000000.0 AS sim
        |  FROM (
        |    SELECT a.query_id AS query_id, a.doc_id AS a_id,
        |      b.doc_id AS b_id,
        |      list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |                             CAST(eb.embedding AS DOUBLE[])) AS s0
        |    FROM cand a
        |    JOIN cand b ON b.query_id = a.query_id AND b.doc_id <> a.doc_id
        |    JOIN e ea ON ea.vec_id = a.doc_id
        |    JOIN e eb ON eb.vec_id = b.doc_id)),
        |sel0 AS MATERIALIZED (
        |  SELECT query_id, doc_id, CAST(0 AS BIGINT) AS mmr_rank, rel,
        |    0.0 AS max_sim, 0.0 AS mmr
        |  FROM cand WHERE false)""".stripMargin
    val steps = (1 to k).map { i =>
      s"""rem$i AS MATERIALIZED (
         |  SELECT c.query_id, c.doc_id, c.rel FROM cand c
         |  LEFT JOIN sel${i - 1} s
         |    ON s.query_id = c.query_id AND s.doc_id = c.doc_id
         |  WHERE s.doc_id IS NULL),
         |ms$i AS MATERIALIZED (
         |  SELECT r.query_id, r.doc_id, r.rel,
         |    coalesce(max(p.sim), 0.0) AS max_sim
         |  FROM rem$i r
         |  LEFT JOIN sel${i - 1} s2 ON s2.query_id = r.query_id
         |  LEFT JOIN cp p ON p.query_id = r.query_id
         |    AND p.a_id = r.doc_id AND p.b_id = s2.doc_id
         |  GROUP BY 1, 2, 3),
         |sel$i AS MATERIALIZED (
         |  SELECT * FROM sel${i - 1}
         |  UNION ALL
         |  SELECT query_id, doc_id, CAST($i AS BIGINT) AS mmr_rank, rel,
         |    max_sim, 0.7 * rel - 0.3 * max_sim AS mmr
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY 0.7 * rel - 0.3 * max_sim DESC, doc_id ASC) AS rn
         |    FROM ms$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT query_id, mmr_rank, doc_id, rel, max_sim, mmr
       |FROM sel$k ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** Two-stage HYBRID retrieval — BM25 recall, embedding-cosine rerank: the
    * related-document search every RAG/eval-mining pipeline runs (lexical
    * recall finds the candidates cheaply; the dense metric orders them by
    * meaning). Probe set = every 97th document queried BY ITS OWN TEXT
    * against the corpus ([[graft.operators.Bm25.topK]], k = 20,
    * maxQueryTerms = 20 — each probe queries by its 20 RAREST corpus terms,
    * the Lucene More-Like-This discipline bounding candidate fan-out to
    * Σ df over 20 selective terms; the BM25 corpus index (tf/dl) is built
    * and PERSISTED once so every derived frame reuses one tokenize pass;
    * and the score fold runs in PRODUCTION sum mode (codegen'd partial
    * aggregation, O(1) buffers — the q146 argument; ≤ 20-term reorder
    * drift ~1e-13 against the 6dp round). NOTE the synthetic corpus has a
    * 31-token vocabulary (every term in ~77% of documents), so stage 1 is
    * inherently probe×corpus HERE — the degenerate worst case; on a real
    * crawl the rare-term bound is what makes document-as-query tractable.
    * Combined, measured 12.3 → 2.7 s at sf0.1 with identical output.
    * Self-hit dropped after ranking — it holds rank 1 by construction and
    * carries no information), then the survivors rerank by exact cosine
    * between the
    * probe's and the candidate's embeddings, top-5 per probe. The scale
    * shape: stage 1 is q139's pinned asymmetry (corpus never shuffles on
    * anything but (doc, term); the probe batch broadcasts), stage 2 joins
    * the TINY candidate frame (≤ 20 rows/probe) against the embedding table
    * on its key — never a corpus×corpus pair scan, and reranking cost is
    * independent of corpus size. Ranking sorts on ROUNDED values both
    * stages (the q139/q21 policy) with doc_id tie-breaks — a total order
    * both engines sort identically. */
  def hybridRerank(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val probes = docs
      .filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    // persist the inverted-index base frames: df, stats, the qterms
    // df-probe, and scoring ALL derive from tf/dl — without the persist the
    // corpus is re-tokenized once per derived frame (measured 9.6 s vs
    // 2.4 s at sf0.1); at 100 TB this index is the artifact a retrieval
    // system materializes anyway (q98's layout)
    val idx = graft.operators.Bm25.buildIndex(docs, "doc_id", "text").persist()
    try {
      // deterministicFold = false — the PRODUCTION sum fold (codegen'd
      // partial aggregation), deliberately also the registered row: the
      // sorted-fold alternative was tried for the r14 advisor note and
      // measured 2.7 → 11.6 s at sf0.1 on this degenerate 31-token corpus
      // (every probe matches ~every doc, so the per-pair object fold runs
      // ~probe×corpus times — NOT negligible here). RESIDUAL RISK, eyes
      // open: a ≤ 20-term double sum can reorder across partitionings by
      // ~1e-13; the 6dp round absorbs it unless a score sits within an
      // ulp of a 0.5e-6 boundary — never observed across the determinism
      // double-run gate and all three SFs; if it ever fires, the fix is
      // one flag flip on this line.
      val cand = graft.operators.Bm25.topKIndexed(
          idx, probes, "query_id", "qtext", k = 20, maxQueryTerms = 20,
          deterministicFold = false)
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"), col("score").as("bm25_score"))
      val emb = T(s, dir, "embeddings")
      val reranked = cand
        .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("__qe")),
          Seq("query_id"))
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding").as("__de")),
          Seq("doc_id"))
        .withColumn("cosine", round(V.vec_cosine(col("__qe"), col("__de")), 6))
      Loops.checkpoint(reranked
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "doc_id", "cosine", "bm25_score")
        .orderBy("query_id", "rank"),
        eager = true) // materialize before the index is released
    } finally idx.unpersist()
  }
  // q163: q139's BM25 CTE chain with documents-as-probes, then the q21
  // cosine mirror reranks the top-20 (self-hit dropped) to top-5.
  query("q163_hybrid_rerank", hybridRerank, bench = true, oracle = OracleSql(
    s"""WITH d AS (SELECT doc_id, text FROM documents
      |           WHERE trim(coalesce(text, '')) <> ''),
      |$bm25StatsSql
      |q AS (SELECT doc_id AS query_id, text AS qtext FROM documents
      |      WHERE doc_id % 97 = 0),
      |qt0 AS (
      |  SELECT DISTINCT query_id,
      |    unnest(regexp_split_to_array(lower(trim(qtext)), '[ \\t\\n\\f\\r]+')) AS tok
      |  FROM q WHERE trim(coalesce(qtext, '')) <> ''),
      |qt AS (
      |  SELECT query_id, tok FROM (
      |    SELECT qt0.query_id, qt0.tok,
      |      row_number() OVER (PARTITION BY qt0.query_id
      |        ORDER BY df.df, qt0.tok) AS r
      |    FROM qt0 JOIN df USING (tok))
      |  WHERE r <= 20),
      |$bm25TermScoresSql
      |sc AS (
      |  SELECT query_id, doc_id,
      |    round(list_reduce(list(c ORDER BY tok), (a, b) -> a + b), 6) AS score
      |  FROM co GROUP BY 1, 2),
      |rk AS (
      |  SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)
      |      AS rk
      |  FROM sc),
      |cand AS (
      |  SELECT query_id, doc_id, score AS bm25_score
      |  FROM rk WHERE rk <= 20 AND doc_id <> query_id),
      |rer AS (
      |  SELECT c.query_id, c.doc_id, c.bm25_score,
      |    round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
      |                                 CAST(de.embedding AS DOUBLE[])), 6)
      |      AS cosine
      |  FROM cand c
      |    JOIN embeddings qe ON qe.vec_id = c.query_id
      |    JOIN embeddings de ON de.vec_id = c.doc_id),
      |fin AS (
      |  SELECT query_id, doc_id, cosine, bm25_score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, doc_id) AS BIGINT) AS rank
      |  FROM rer)
      |SELECT query_id, rank, doc_id, cosine, bm25_score
      |FROM fin WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** Exact cosine top-3 neighbors via the block-partitioned kernel — the
    * production registration of exact kNN: no driver collect, no broadcast,
    * no O(n²) row materialization (identity-spec'd against both the
    * broadcast kernel and the declarative join). Cosine rounded to 6 decimals
    * so the DuckDB oracle (list_cosine_similarity over DOUBLE[]) compares
    * clear of last-ULP arithmetic-order differences. */
  def annBrute(s: SparkSession, dir: String): DataFrame =
    Ann.blockTopK(T(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id", "rank")
  // ANN oracles: cosine recomputed by DuckDB over DOUBLE[] casts (same
  // float->double element values, sequential accumulation); both sides
  // round to 6 decimals, far above the cross-engine arithmetic-order noise
  // (~1e-15) and far below any data distinction (no near-threshold or
  // near-tie pairs at the verified SFs).
  // NaN guard on all ANN oracles: a zero-norm vector yields NaN from
  // list_cosine_similarity but 0.0 from the kernels (their documented
  // degenerate-vector convention) — map NaN -> 0.0 so the comparison
  // holds even if the fixture ever gains a zero vector.
  query("q21_ann_brute", annBrute, bench = true, oracle = OracleSql(
    s"""WITH raw AS (
      |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                           CAST(b.embedding AS DOUBLE[])) AS c0
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      |$cosineTop3""".stripMargin))

  /** Asymmetric exact kNN: odd-id embeddings (the "new batch") against the
    * even-id embeddings (the "existing corpus") — the batch-vs-index shape
    * of [[annBrute]], via [[Ann.blockTopKJoin]] (no self-exclusion, corpus
    * defines the dimension). Oracled as a DuckDB cross join + rank. */
  def annJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Ann.blockTopKJoin(
      emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding",
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
      k = 3)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id", "rank")
  }
  query("q42_ann_join", annJoin, bench = false, oracle = OracleSql(
    s"""WITH raw AS (
      |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                           CAST(b.embedding AS DOUBLE[])) AS c0
      |  FROM (SELECT * FROM embeddings WHERE vec_id % 2 = 1) a
      |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 2 = 0) b),
      |$cosineTop3""".stripMargin))

  /** LSH-bucketed cosine top-3 (the scale path; recall-tested vs brute in
    * VectorSpec). Few bits + several tables because the synthetic embeddings
    * carry no cluster structure; at real scale nBits grows with log2(n) to
    * hold bucket width constant. r12: multi-probe (4 least-confident bit
    * flips per table, Lv et al. VLDB'07) lifted measured recall 0.35 → 0.93+
    * at every tested SF for ~one extra probe-side explode — the recall a
    * 5× table count would have bought, without 5× hash passes or index
    * rows. */
  def annLsh(s: SparkSession, dir: String): DataFrame =
    Ann.lshTopK(T(s, dir, "embeddings"), "vec_id", "embedding", k = 3,
      nBits = 6, tables = 12, flips = 4)
      .orderBy("id", "rank")
  query("q22_ann_lsh", annLsh, bench = true,
    oracle = NoOracle("LSH top-k is approximate; VectorSpec checks its recall against the " +
      "exact q21 and q47 pins it on a planted fixture"))

  /** IVF cosine top-3: learned coarse quantizer (DISTRIBUTED spherical
    * k-means over a deterministic hash-gated sample — no driver data
    * collect), nProbe-centroid probing. r12: nProbe 4 → 8 lifts measured
    * recall 0.61 → 0.82+ at every tested SF; on THIS corpus that is a
    * half-corpus candidate budget, but the dial that matters at scale is
    * nProbe/nClusters — a lake-scale index holds thousands of cells and
    * probes the same 8. */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ivf.ivfTopK(T(s, dir, "embeddings"), "vec_id", "embedding",
      k = 3, nClusters = 16, nProbe = 8)
      .orderBy("id", "rank")
  query("q28_ann_ivf", annIvf, bench = true,
    oracle = NoOracle("IVF top-k is approximate; q48 pins it on a planted fixture and q80 " +
      "reports its recall"))

  /** IVF-PQ top-k over the real embeddings ([[graft.operators.Pq.ivfPqTopK]],
    * Jégou et al. 2011 IVFADC): the q28 coarse index with the corpus stored
    * and scored as 8-byte PQ codes instead of 256-byte float vectors — the
    * memory/shuffle-compressed ANN scale path. Approximate scores → no
    * DuckDB oracle (the q22/q28 class); exactness is pinned by the q92
    * fixture twin and measured recall surfaces in q80. */
  def annPq(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pq.ivfPqTopK(T(s, dir, "embeddings"), "vec_id", "embedding",
      k = 3, nClusters = 16, nProbe = 10, m = 8, codebookSize = 256, rerank = 96)
      .orderBy("id", "rank")
  query("q91_ann_pq", annPq, bench = true,
    oracle = NoOracle("IVF-PQ scores are approximate; q92 pins the kernel on a planted " +
      "fixture and q80 reports its recall"))

  /** LSH top-k on the planted fixture — the q22 kernel where the
    * approximate output CAN be oracled (q39's pattern): the planted
    * separation makes true neighbors share buckets under the fixed
    * hyperplane seeds, so the emitted rows equal the exact top-3, which the
    * oracle computes by brute force. nBits=2 keeps buckets coarse (false
    * candidates are harmless — they score exactly and lose), tables=8
    * drives the per-pair miss probability below 1e-5 at the planted
    * angles. */
  def annLshFixture(s: SparkSession, dir: String): DataFrame =
    Ann.lshTopK(annFixture(s), "vec_id", "embedding", k = 3, nBits = 2, tables = 8)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id", "rank")
  query("q47_ann_lsh_fixture", annLshFixture, bench = false, oracle = OracleSql(annFixtureOracle))

  /** IVF top-k on the planted fixture — the q28 kernel oracle-able for the
    * same reason: cluster members are near-parallel, so whatever quantizer
    * the distributed k-means converges to assigns all of them to the SAME
    * centroid, and each query's first probe is that centroid — candidates
    * therefore cover the true top-3 and the output is the exact answer. */
  def annIvfFixture(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ivf.ivfTopK(annFixture(s), "vec_id", "embedding", k = 3,
      nClusters = 4, nProbe = 2)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id", "rank")
  query("q48_ann_ivf_fixture", annIvfFixture, bench = false, oracle = OracleSql(annFixtureOracle))

  /** IVF-PQ on the planted fixture — the q91 kernel where the approximate
    * output provably equals the exact answer: with codebookSize = the full
    * 16-row fixture, every distinct subvector value is a PQ seed, so each
    * point sits at distance 0 from its own seed, k-means converges with
    * centroids EXACTLY on the data values, and ADC reconstructs every
    * corpus vector bit-for-bit — the approximate score IS the exact cosine
    * of the normalized floats (verified to round identically to the
    * oracle's raw-double cosine at 6dp on all 240 ordered pairs). Candidate
    * coverage follows q48's coarse-quantizer argument. */
  def annPqFixture(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pq.ivfPqTopK(annFixture(s), "vec_id", "embedding", k = 3,
      nClusters = 4, nProbe = 2, m = 8, codebookSize = 16)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id", "rank")
  query("q92_ann_pq_fixture", annPqFixture, bench = false, oracle = OracleSql(annFixtureOracle))

  /** Measured recall of every APPROXIMATE kernel against its exact twin on
    * the real corpus — the observability row VERDICT r10 asked for: LSH/IVF
    * quantizer or band drift now surfaces as a NUMBER in the per-round
    * correctness/bench artifacts instead of only in fixture specs. One row
    * per kernel: (kernel, n_exact, n_hit, recall) where n_hit counts exact-
    * twin result rows the approximate kernel also emitted (left-semi on the
    * pair/neighbor key — each side is one aggregate, no collect). recall is
    * NULL only for an empty exact set. Deterministic: every kernel below is
    * hash-seeded, so the driver's rows-only check is still stable
    * run-over-run; floors are asserted in VectorSpec. */
  def recallReport(s: SparkSession, dir: String): DataFrame = {
    def row(kernel: String, approx: DataFrame, exact: DataFrame,
        cols: Seq[String]): DataFrame = {
      val e = exact.select(cols.map(col): _*)
      val hit = e.join(approx.select(cols.map(col): _*), cols, "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      val tot = e.agg(count(lit(1)).as("n_exact"))
      tot.crossJoin(hit).select(
        lit(kernel).as("kernel"), col("n_exact"), col("n_hit"),
        when(col("n_exact") > 0,
          col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
    }
    Seq(
      row("q20_minhash_vs_q46_exact",
        minhashPairs(s, dir), neardupExactPairs(s, dir), Seq("id_a", "id_b")),
      row("q22_ann_lsh_vs_q21_brute",
        annLsh(s, dir), annBrute(s, dir), Seq("id", "neighbor_id")),
      row("q28_ann_ivf_vs_q21_brute",
        annIvf(s, dir), annBrute(s, dir), Seq("id", "neighbor_id")),
      row("q36_lsh_pairs_vs_q27_exact",
        neardupLsh(s, dir), embeddingNearDup(s, dir), Seq("id_a", "id_b")),
      row("q91_ann_pq_vs_q21_brute",
        annPq(s, dir), annBrute(s, dir), Seq("id", "neighbor_id"))
    ).reduce(_ unionAll _).orderBy("kernel")
  }
  query("q80_recall_report", recallReport, bench = false,
    oracle = NoOracle("a recall report of the approximate kernels against their exact twins; " +
      "VectorSpec asserts its floors"))

  /** Disk-backed ANN index lifecycle, oracled END-TO-END
    * ([[graft.operators.AnnIndex]]): build the IVF index (distributed
    * k-means → centroid table + postings PARTITIONED by cell), then query
    * the corpus against the PERSISTED layout at FULL probe width — with
    * nProbe = nClusters the candidate set is complete, so the output is
    * exact top-3 and q21's DuckDB oracle checks the whole
    * train→write→partition-prune→scan→score→rank pipeline, not an
    * approximation of it. Partial-probe recall and the partition-pruning
    * plan are spec'd in OperatorsSpec; upsert is the O(batch) maintenance
    * path ([[graft.io.TableStore.appendPartitioned]]). The query batch is a
    * 1/5 id-slice against the FULL index — the build-once/serve-batches
    * asymmetry an index exists for (a full self-query re-prices the exact
    * pair scan q21 already benches); iters = 3 because quantizer quality
    * moves only the cell sizes, never the full-probe output. */
  def annIndexExact(s: SparkSession, dir: String): DataFrame = {
    val store = new graft.io.TableStore(s,
      java.nio.file.Files.createTempDirectory("annindex").toString)
    val emb = T(s, dir, "embeddings")
    graft.operators.AnnIndex.build(store, "emb", emb, "vec_id", "embedding",
      nClusters = 8, iters = 3)
    graft.operators.AnnIndex.query(store, "emb",
      emb.filter(pmod(col("vec_id"), lit(5)) === 0), "vec_id", "embedding",
      k = 3, nProbe = 8)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id", "rank")
  }
  // q136: the full-probe disk-index query is exact top-3 — q21's oracle
  // verbatim; green means the persisted layout round-trips every vector
  // and the probe/prune path loses none.
  query("q136_ann_index_exact", annIndexExact, bench = true, oracle = OracleSql(
    s"""WITH raw AS (
      |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                           CAST(b.embedding AS DOUBLE[])) AS c0
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id % 5 = 0),
      |$cosineTop3""".stripMargin))

  /** q139's retrieval batch: three in-vocabulary probes, one all-unseen
    * probe (zero rows — the corpus never mentions the terms) and one blank
    * probe (zero rows — excluded like blank documents). */
  private[graft] def bm25QueryFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      1L -> "spark window query",
      2L -> "customer order merge batch",
      3L -> "vector stream hash join",
      4L -> "zzmissingterm zzneverseen",
      5L -> ""
    ).toDF("query_id", "qtext")
  }

  /** Ranked BM25 retrieval ([[graft.operators.Bm25.topK]], Okapi BM25 with
    * Lucene's non-negative idf): top-10 documents per probe query — the
    * search half of the corpus pipeline (eval-set mining, targeted slicing,
    * hard-negative mining). Corpus fixture: a blank doc (out of N, no rows)
    * and a term-repetition doc that exercises the k1 tf saturation. Scores
    * fold per-term in sorted order and round 6dp (the q94 libm policy);
    * ranking is on the rounded score with doc_id tie-break — a total order
    * both engines sort identically. */
  def bm25Search(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionAll(Seq(
        9470001L -> "",
        9470002L -> "spark spark spark window"
      ).toDF("doc_id", "text"))
    graft.operators.Bm25.topK(docs, "doc_id", "text",
      bm25QueryFixture(s), "query_id", "qtext", k = 10)
  }
  // q139: row_number() replays Spark's in-aggregate slice(sort_array)
  // (rounded score DESC, doc_id — a total order on the ROUNDED keys);
  // the per-(query, doc) score folds over list(c ORDER BY tok), the same
  // addition sequence as Spark's sorted 0.0-seeded fold; every float
  // expression is written in the identical parenthesized order and the
  // 6dp round absorbs ln's last-ulp libm variation (the q94 policy).
  query("q139_bm25_search", bm25Search, bench = true, oracle = OracleSql(
    s"""WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9470001 AS BIGINT), ''),
      |    (9470002, 'spark spark spark window')
      |  ) v(doc_id, text)),
      |d AS (SELECT doc_id, text FROM uni WHERE trim(coalesce(text, '')) <> ''),
      |$bm25StatsSql
      |q AS (SELECT * FROM (VALUES
      |    (CAST(1 AS BIGINT), 'spark window query'),
      |    (2, 'customer order merge batch'),
      |    (3, 'vector stream hash join'),
      |    (4, 'zzmissingterm zzneverseen'),
      |    (5, '')
      |  ) v(query_id, qtext)),
      |qt AS (
      |  SELECT DISTINCT query_id,
      |    unnest(regexp_split_to_array(lower(trim(qtext)), '[ \\t\\n\\f\\r]+')) AS tok
      |  FROM q WHERE trim(coalesce(qtext, '')) <> ''),
      |$bm25TermScoresSql
      |sc AS (
      |  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |    round(list_reduce(list(c ORDER BY tok), (a, b) -> a + b), 6) AS score
      |  FROM co GROUP BY 1, 2),
      |rk AS (
      |  SELECT query_id, doc_id, n_terms, score,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)
      |      AS rk
      |  FROM sc)
      |SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id, n_terms, score
      |FROM rk WHERE rk <= 10
      |ORDER BY query_id, rank""".stripMargin))

  /** The STREAM-MAINTAINED ANN index, driver-oracled — the q136 disk-index
    * surface with [[graft.operators.AnnIndex.upsert]] exercised through a
    * REAL micro-batch file stream (the q142 stamped-order replay) instead
    * of direct calls, including the keep-latest duplicate-id policy:
    *
    *  1. BUILD on 3/4 of the embeddings corpus (`vec_id % 4 != 3`).
    *  2. STREAM two micro-batches through `foreachBatch` → `upsert`:
    *     first the held-out quarter (new ids), then UPDATED vectors —
    *     `reverse(embedding)` for `vec_id % 10 = 0`, ids all in the base
    *     build, so the index now holds two versions of each and must
    *     resolve to the streamed one (seq clock, read-time keep-latest).
    *  3. QUERY full-probe (nProbe = nClusters ⇒ exact) for the `% 5 = 0`
    *     slice of the LATEST corpus state.
    *
    * The full-probe result over the post-stream index is therefore plain
    * SQL: exact cosine top-3 over "embeddings with % 10 = 0 reversed" — the
    * q136 oracle with a CASE'd list_reverse; a stale vector surviving
    * anywhere (missed batch, unresolved duplicate, wrong seq winner) moves
    * cosines and breaks the hash. Scale shape: per-batch O(batch) appends
    * into touched cells only; the read-time latest rollup runs over probed
    * postings (skipped entirely on never-upserted indexes). */
  def annIndexStreamed(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("q147_idx").toString
    val store = new graft.io.TableStore(s, root)
    val emb = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    graft.operators.AnnIndex.build(store, "emb",
      emb.filter(col("vec_id") % 4 =!= 3), "vec_id", "embedding",
      nClusters = 8, iters = 3)
    val updates = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val srcDir = java.nio.file.Files.createTempDirectory("q147_src")
    Seq(emb.filter(col("vec_id") % 4 === 3), updates).zipWithIndex.foreach {
      case (b, i) =>
        val tmp = java.nio.file.Files.createTempDirectory(s"q147_b$i").toString
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.startsWith("part-")).head
        val dst = srcDir.resolve(s"batch$i.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        // stamped pickup order (the q142 contract): updates must land after
        // the inserts or "latest" would be undefined
        require(dst.toFile.setLastModified(1700000000000L + i * 60000L),
          s"could not stamp modification time on batch$i — batch order " +
            "(and therefore keep-latest semantics) would be undefined")
        deleteDirTree(tmp)
    }
    val stream = s.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        graft.operators.AnnIndex.upsert(store, "emb", b,
          "vec_id", "embedding"): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    val latest = emb.filter(col("vec_id") % 10 =!= 0).unionByName(updates)
    val out = Loops.checkpoint(graft.operators.AnnIndex.query(store, "emb",
      latest.filter(col("vec_id") % 5 === 0), "vec_id", "embedding",
      k = 3, nProbe = 8)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id", "rank"), eager = true)
    deleteDirTree(srcDir.toString)
    deleteDirTree(root)
    out
  }
  // q147: the post-stream full-probe index IS exact top-3 over the latest
  // corpus state — the q136 oracle with the streamed updates (reversed
  // vectors for % 10 = 0) applied via CASE. A stale version surviving the
  // keep-latest resolution would shift cosines and break the hash.
  query("q147_ann_index_streamed", annIndexStreamed, bench = false, oracle = OracleSql(
    s"""WITH latest AS (
      |  SELECT vec_id, CASE WHEN vec_id % 10 = 0
      |    THEN list_reverse(CAST(embedding AS DOUBLE[]))
      |    ELSE CAST(embedding AS DOUBLE[]) END AS v
      |  FROM embeddings),
      |raw AS (
      |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
      |    list_cosine_similarity(a.v, b.v) AS c0
      |  FROM latest a JOIN latest b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id % 5 = 0),
      |$cosineTop3""".stripMargin))

  /** Deterministic planted-cluster corpus for q174: `n` vectors in `nCl`
    * well-separated 64-dim clusters, cluster centers given by `center(cl,
    * dim)`, per-coordinate hash noise (±0.02) — pure Catalyst expressions,
    * so the corpus is bit-identical every run. */
  private def plantedClusters(s: SparkSession, n: Int, idBase: Long, nCl: Int)(
      center: (Column, Column) => Column): DataFrame =
    s.range(n).select((col("id") + lit(idBase)).as("vec_id"),
        (col("id") % nCl).as("cl"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => (center(col("cl"), d) +
            (pmod(xxhash64(col("vec_id") * lit(64) + d), lit(1000))
              .cast("double") / 1000.0 - 0.5) * 0.04).cast("float"))
          .as("embedding"))

  /** INDEX-STALENESS recall report ([[graft.operators.AnnIndex.retrain]] —
    * the q80/q148 observability class): measures the recall DECAY an
    * assign-only IVF index suffers as upserted vectors drift from its
    * frozen centroids, and the recovery `compact()` + `retrain()` buys —
    * the number a real ANN deployment schedules retrains by. Three phases
    * over a planted clustered corpus (8 axis-aligned base clusters; the
    * upserted family sits BETWEEN pairs of base axes — mass precisely
    * where the frozen quantizer has no cell):
    *
    *  - `fresh`: base queries on the just-built index — nProbe=1 recall
    *    1.0 (each cluster owns its cell; the well-quantized baseline);
    *  - `stale`: drifted queries after the drifted upsert — the frozen
    *    assignment SPLITS each drifted cluster across the two straddled
    *    cells, and a 1-cell probe finds only the half that landed with it
    *    (measured 0.41 — the decay);
    *  - `retrained`: same drifted queries after compact + retrain(16) —
    *    the refit codebook (resized to the grown corpus, the
    *    capacity-follows-data policy) gives every cluster its own cell
    *    again (measured 1.0; base queries also re-measured at 1.0).
    *
    * Exact twins are FULL-probe queries on the same index state (exact by
    * construction, the q147 device), materialized before any mutation. The
    * real embeddings table is deliberately NOT the corpus here: it is
    * structureless (measured — partial-probe recall sits at ~0.52 fresh OR
    * stale under reverse/negate/shift/swap drifts; no decay exists to
    * show), so like q148's planted perceptual variants, the fixture plants
    * the geometry the kernel contract is about. Deterministic end-to-end
    * (hash noise, hash-seeded k-means) — the driver's rows-only check is
    * stable; floors pinned in VectorSpec. */
  def annIndexStaleness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = plantedClusters(s, 512, 0L, 8)(
      (c, d) => when(d === c, lit(1.0)).otherwise(lit(0.0)))
    val drift = plantedClusters(s, 256, 10000L, 8)(
      (c, d) => when(d === c * 2 || d === c * 2 + 1, lit(0.7071)).otherwise(lit(0.0)))
    val store = new graft.io.TableStore(s,
      java.nio.file.Files.createTempDirectory("annstale").toString)
    graft.operators.AnnIndex.build(store, "emb", base, "vec_id", "embedding",
      nClusters = 8, iters = 3)
    def recallOf(queries: DataFrame): (Long, Long) = {
      val approx = Loops.checkpoint(
        graft.operators.AnnIndex.query(store, "emb", queries,
          "vec_id", "embedding", k = 3, nProbe = 1), eager = true)
      val exact = Loops.checkpoint(
        graft.operators.AnnIndex.query(store, "emb", queries,
          "vec_id", "embedding", k = 3, nProbe = 64), eager = true)
      val nE = exact.count()
      val nH = exact.select("id", "neighbor_id")
        .join(approx.select("id", "neighbor_id"),
          Seq("id", "neighbor_id"), "left_semi").count()
      (nE, nH)
    }
    val qBase = base.filter(pmod(col("vec_id"), lit(8)) === 1)
    val qDrift = drift.filter(pmod(col("vec_id"), lit(4)) === 2)
    val fresh = recallOf(qBase)
    graft.operators.AnnIndex.upsert(store, "emb", drift, "vec_id", "embedding")
    val stale = recallOf(qDrift)
    graft.operators.AnnIndex.compact(store, "emb")
    graft.operators.AnnIndex.retrain(store, "emb", nClusters = 16, iters = 3)
    val retr = recallOf(qDrift)
    val retrBase = recallOf(qBase)
    Seq(
      ("1_fresh_base", fresh._1, fresh._2),
      ("2_stale_drift", stale._1, stale._2),
      ("3_retrained_drift", retr._1, retr._2),
      ("4_retrained_base", retrBase._1, retrBase._2))
      .toDF("phase", "n_exact", "n_hit")
      .select(col("phase"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double")).as("recall"))
      .orderBy("phase")
  }
  query("q174_ann_index_staleness", annIndexStaleness, bench = false,
    oracle = NoOracle("a recall report over a planted clustered corpus; VectorSpec asserts " +
      "its floors"))

  /** Int8 embedding quantization digest ([[graft.functions.Quantization]]):
    * per-vector scale + integer-exact summaries of the quantized codes
    * (count, sum, abs-sum, min, max) — scalar digests rather than the code
    * arrays themselves so the oracle compare stays format-stable, while
    * still pinning every code: a single differing code shifts sum/abs-sum.
    * Scan-local, shuffle-free except the presentation sort. The 4×-storage
    * rationale and the engine-independent rounding contract live on the
    * kernel's scaladoc. */
  def embeddingQuantize(s: SparkSession, dir: String): DataFrame = {
    val Q = graft.functions.Quantization
    T(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .withColumn("scale", Q.int8Scale(col("embedding")))
      .withColumn("codes", Q.int8Codes(col("embedding"), col("scale")))
      .select(
        col("vec_id"),
        col("scale"),
        size(col("codes")).as("n_dims"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("sum_codes"),
        aggregate(col("codes"), lit(0L), (a, c) => a + abs(c)).as("sum_abs_codes"),
        array_min(col("codes")).as("min_code"),
        array_max(col("codes")).as("max_code"))
      .orderBy("vec_id")
  }
  // q61: identical quantization arithmetic recomputed over the same
  // parquet floats — float→double casts are exact, 127/max and x·scale
  // are IEEE doubles, and floor(x+0.5) rounds halves identically in both
  // engines (no round-half-even ambiguity), so scale AND every
  // code-derived digest hash-compare bit-equal.
  query("q61_embedding_quantize", embeddingQuantize, bench = false, oracle = OracleSql(
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE 127.0 / m END AS scale
      |  FROM (SELECT vec_id, embedding,
      |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
      |        FROM embeddings WHERE embedding IS NOT NULL)),
      |q AS (
      |  SELECT vec_id, scale,
      |    list_transform(embedding, x ->
      |      CAST(least(greatest(floor(CAST(x AS DOUBLE) * scale + 0.5), -127.0), 127.0) AS INT)) AS codes
      |  FROM s)
      |SELECT vec_id, scale,
      |  CAST(len(codes) AS INT) AS n_dims,
      |  CAST(list_sum(list_transform(codes, c -> CAST(c AS BIGINT))) AS BIGINT) AS sum_codes,
      |  CAST(list_sum(list_transform(codes, c -> CAST(abs(c) AS BIGINT))) AS BIGINT) AS sum_abs_codes,
      |  CAST(list_min(codes) AS INT) AS min_code,
      |  CAST(list_max(codes) AS INT) AS max_code
      |FROM q ORDER BY vec_id""".stripMargin))
}
