package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Exprs
import graft.functions.{Text, VectorExpressions => V}
import graft.operators.{Ann, AsOfJoin, Dedup, DomainFilter, Loops, OrderedAnalytics,
  SpanDedup}

/** The registered query catalog: one entry per operator family from
  * SURVEY.md §2 plus the LLM-data-pipeline operators (dedup / ANN / text
  * analysis), each runnable on the driver's parquet tables and — where the
  * semantics are SQL-expressible — paired with a DuckDB oracle in [[oracles]].
  *
  * Determinism rules (the driver hash-compares values):
  *  - every query ends in an explicit ORDER BY mirrored in the oracle;
  *  - float aggregates go through DECIMAL (exact, engine-independent) and are
  *    cast back to double; pass-through doubles and single IEEE ops (one
  *    division, fixed-order additions) are bit-stable across engines;
  *  - counts are long on both sides (oracle casts DuckDB HUGEINT sums).
  */
object Queries {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- Relational core ------------------------------------------------------

  /** A1-style grouped aggregation (pricing summary, TPC-H Q1 shape). */
  def aggPricing(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** J1/J2-style dim lookups: orders → customer → nation, revenue per nation.
    * nation is broadcast by HINT (25 rows by schema, scale-independent);
    * customer is left to the planner's size-based choice — BHJ at bench SFs
    * (pinned), SMJ on custkey once a full-scale customer exceeds the
    * threshold. Forcing a broadcast on a table that grows with the data is
    * an executor OOM at 100×, not a plan improvement. */
  def joinAggNation(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("order_cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("n_name")

  /** MULTI-GRANULARITY rollup in ONE pass — `CUBE(nation, year)`: detail
    * rows, per-nation and per-year subtotals, and the grand total from a
    * single aggregation (Catalyst expands the grouping sets inside one
    * shuffle with partial aggregation — at 100 TB this replaces four
    * separate scans+rollups). `grouping_id()` disambiguates a genuine NULL
    * group key from a subtotal row (both engines use the same MSB-first
    * bitmask — probed); revenue rides DECIMAL (order-independent, exact);
    * ordering is pinned NULLS FIRST explicitly because Spark and DuckDB
    * default opposite null orders. */
  def salesCube(s: SparkSession, dir: String): DataFrame = {
    // built via spark.sql: Spark 4.1's ambiguous-self-join detector
    // misfires on Dataset-API cube()+grouping_id() (the Expand duplicates
    // attribute ids); the SQL path plans the identical Expand+Aggregate
    T(s, dir, "orders").createOrReplaceTempView("q157_orders")
    T(s, dir, "customer").createOrReplaceTempView("q157_customer")
    T(s, dir, "nation").createOrReplaceTempView("q157_nation")
    // materialize, then release the catalog entries (the q142 hygiene):
    // lingering views would clobber same-named user views and pin the last
    // `dir` for any later resolver
    val out = Loops.checkpoint(s.sql(
      """SELECT n_name, year(o_orderdate) AS order_year,
        |  grouping_id() AS gid,
        |  count(*) AS order_cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM q157_orders o
        |JOIN q157_customer c ON o.o_custkey = c.c_custkey
        |JOIN q157_nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY CUBE(n_name, year(o_orderdate))
        |ORDER BY gid, n_name ASC NULLS FIRST, order_year ASC NULLS FIRST""".stripMargin),
      eager = true)
    Seq("q157_orders", "q157_customer", "q157_nation")
      .foreach(s.catalog.dropTempView(_): Unit)
    out
  }


  /** EXACT per-group median revenue — the holistic complement of q35's
    * mergeable approx_percentile: `median` is an O(group) sort-based
    * aggregate (the exact answer costs the group in one buffer — the
    * documented price; q35 IS the 100 TB scale path, this row pins the
    * exact semantics the sketch approximates). Both engines interpolate
    * even-sized groups with different-but-equivalent float forms
    * ((a+b)/2 vs a+(b−a)·0.5), so the value rounds 6dp (q94 policy). */
  def medianRevenue(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("order_cnt"),
        round(median(col("o_totalprice").cast("double")), 6).as("median_revenue"))
      .orderBy("n_name")

  /** Exact INNER-PRODUCT top-3 ([[Ann.blockTopKDot]]): the MIPS metric —
    * retrieval models trained with dot scoring rank by raw ⟨q, v⟩, which
    * cosine cannot express when norms carry signal. Same block-cogrouped
    * plan as q21; dot rounds 6dp against list_inner_product. */
  def annDot(s: SparkSession, dir: String): DataFrame =
    Ann.blockTopKDot(T(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
      .withColumn("dot", round(col("dot"), 6))
      .orderBy("id", "rank")

  /** Exact EUCLIDEAN top-3 ([[Ann.blockTopKL2]]): ascending distance, the
    * L2-trained-space metric; per-pair elementwise Σ(q−v)² then one sqrt,
    * mirroring list_distance's stated form. 6dp rounding. */
  def annL2(s: SparkSession, dir: String): DataFrame =
    Ann.blockTopKL2(T(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
      .withColumn("distance", round(col("distance"), 6))
      .orderBy("id", "rank")

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

  /** q181's selection depth — also the number of greedy layers the oracle
    * unrolls (each layer = one pick, exactly the kernel's loop). */
  private val MmrK = 5

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

  /** GROUPING SETS — the non-hierarchical multi-granularity rollup q157's
    * CUBE cannot express minimally: per-nation totals, per-year totals, and
    * the grand total from ONE scan+shuffle (three independent groupings
    * Catalyst expands inside one aggregate — at 100 TB this replaces three
    * separate rollups), WITHOUT paying for the (nation, year) detail cells
    * CUBE would add. Same Expand machinery, bitmask, DECIMAL routing, and
    * pinned NULLS FIRST ordering as q157. */
  def groupingSetsRevenue(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "orders").createOrReplaceTempView("q180_orders")
    T(s, dir, "customer").createOrReplaceTempView("q180_customer")
    T(s, dir, "nation").createOrReplaceTempView("q180_nation")
    val out = Loops.checkpoint(s.sql(
      """SELECT n_name, year(o_orderdate) AS order_year,
        |  grouping_id() AS gid,
        |  count(*) AS order_cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM q180_orders o
        |JOIN q180_customer c ON o.o_custkey = c.c_custkey
        |JOIN q180_nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (year(o_orderdate)), ())
        |ORDER BY gid, n_name ASC NULLS FIRST, order_year ASC NULLS FIRST"""
        .stripMargin), eager = true)
    Seq("q180_orders", "q180_customer", "q180_nation")
      .foreach(s.catalog.dropTempView(_): Unit)
    out
  }

  /** CUSUM LEVEL-SHIFT DETECTION ([[graft.operators.TimeSeries
    * .cusumShift]], Page 1954) over daily revenue: the sequential
    * changepoint statistic a pipeline monitors its volume/revenue/ingest
    * series with — the one-sided cumulative sum rises under a sustained
    * shift above the per-year mean and resets below it; isolated spikes
    * wash out. ALL-INTEGER: revenue rides DECIMAL(18,2)→exact cents
    * (longs), deviations scale by n instead of dividing for a mean
    * (engine-specific DECIMAL division rounding never enters), the
    * recurrence is the prefix-min identity (two frames of one keyed
    * window — no per-row loop), and the alarm `cusum·32 > total·n` states
    * "cumulative excess exceeds 1/32 of the year's revenue" in pure
    * integer compares. Engine-exact end-to-end — no rounding. */
  def cusumRevenue(s: SparkSession, dir: String): DataFrame = {
    // day as epoch-day LONG — the q38/q95 date-portability convention
    val daily = T(s, dir, "events")
      .groupBy(year(col("ts")).as("yr"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    graft.operators.TimeSeries.cusumShift(daily, Seq("yr"), "day", "cents",
        alarmNum = 1, alarmDenom = 32)
      .orderBy("yr", "day")
  }

  /** EWMA DEVIATION MONITOR ([[graft.operators.TimeSeries.ewmaDeviation]])
    * over the SAME daily revenue series q185's CUSUM watches — the
    * complementary alarm: CUSUM catches sustained level shifts, the
    * recency-weighted EWMA catches single-day spikes/crashes against the
    * recent level. Weights are powers of two over an 8-day lag window, so
    * the weighted sum is exact integer arithmetic and the 25%-deviation
    * alarm (`|x·255 − S|·4 > S`) is a pure integer compare — engine-exact
    * like q185, with the human-readable `ewma` column the one IEEE
    * division of exact integers (the q175 policy). The first 8 days of
    * each year emit NULL ewma/dev/alarm (undefined, not false) — the
    * partial-window contract the oracle restates. */
  def ewmaAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .groupBy(year(col("ts")).as("yr"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    graft.operators.TimeSeries.ewmaDeviation(daily, Seq("yr"), "day", "cents",
        lags = 8, alarmNum = 1, alarmDenom = 4)
      .orderBy("yr", "day")
  }

  /** SEASONAL-NAIVE DEVIATION MONITOR ([[graft.operators.TimeSeries
    * .seasonalDeviation]]) over the SAME daily revenue series — the
    * monitoring shelf finally ACTING on a detected period: q207's lag-7
    * autocorrelation is the evidence the series is weekly-seasonal, and
    * this row compares each day to the SAME WEEKDAY one week back
    * (baseline = x_{t−7}, the seasonal-naive forecast) instead of
    * CUSUM's mean level (q185) or EWMA's recency level (q192) — the
    * monitor that does NOT alarm every Monday on a weekly-cyclic series.
    * ALL-INTEGER like its siblings: exact cents, exact long dev, the 25%
    * alarm (`|dev|·4 > baseline`) a pure integer compare. GAP-EXACT: the
    * baseline is the row at exactly day−7 via a pinned RANGE frame (a
    * row-lag would slide across gaps onto the wrong weekday); days with
    * no baseline emit NULL baseline/dev/alarm — the q192 partial-window
    * contract, restated by the oracle. */
  def seasonalNaiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .groupBy(year(col("ts")).as("yr"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    graft.operators.TimeSeries.seasonalDeviation(daily, Seq("yr"), "day",
        "cents", period = 7, alarmNum = 1, alarmDenom = 4)
      .orderBy("yr", "day")
  }

  /** TABLE CONTENT FINGERPRINT ([[graft.operators.TableDigest]]): the
    * order/partition-independent integrity digest of lineitem's
    * engine-portable columns — the one-scan, one-row, 8-byte-compare
    * answer to "did the migration/copy/backfill lose or corrupt
    * anything?" at 100 TB (no sort, no data shuffle, no row-level
    * anti-join; the digest sums exact 60-bit row hashes in DECIMAL, so
    * commutativity makes it layout-independent BY CONSTRUCTION). The
    * oracle recomputes the identical md5/hex/sum arithmetic in DuckDB —
    * which is the operator's whole point: migration source and target
    * rarely run the same engine. l_shipdate routes through DATE (its
    * 'YYYY-MM-DD' rendering is engine-portable; raw timestamp/double
    * formatting is not — the documented canonicalization contract). */
  def tableDigest(s: SparkSession, dir: String): DataFrame =
    graft.operators.TableDigest.digest(
      T(s, dir, "lineitem")
        .withColumn("ship_day", col("l_shipdate").cast("date")),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus", "ship_day"))

  /** The q161 feature set — the SHARED canonical recipe
    * ([[graft.operators.Classifier.heuristicPageFeatures]]): the oracled
    * queries, the `quality_lr_scores` TVF, and the specs all read the one
    * definition so they can never silently diverge. */
  private def classifierFeatures: Seq[(String, org.apache.spark.sql.Column)] =
    graft.operators.Classifier.heuristicPageFeatures(col("text"))

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

  /** Bucketed-layout CO-LOCATED join, oracled END-TO-END
    * ([[graft.io.TableStore.overwriteBucketed]]): write lineitem and orders
    * hash-bucketed AND sorted on the join key (staged-swap, failure-atomic),
    * then join the bucketed reads — Spark plans the fact-fact join with
    * ZERO shuffle exchange and ZERO sort on either side (bucket locality +
    * sorted buckets replace both; pinned in PlanSpec's bucketed-join test
    * on this exact shape). At 100 TB this is the dominant-cost conversion:
    * the repeated per-query fact-fact shuffle becomes a one-time write-time
    * layout decision amortized over every subsequent join. The oracle
    * checks the whole lifecycle — write → catalog swap → bucket-preserving
    * read → join → aggregate — against the plain logical join, so a layout
    * bug (bucket misassignment, a lost row in the swap) is a hash mismatch,
    * not a silent wrong plan. Catalog entries and generation files are
    * released after materialization (the q142 hygiene). */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("bucketed").toString
    val store = new graft.io.TableStore(s, root)
    try {
      store.overwriteBucketed("li",
        T(s, dir, "lineitem").select(
          "l_orderkey", "l_extendedprice", "l_discount"),
        16, Seq("l_orderkey"), Seq("l_orderkey"))
      store.overwriteBucketed("ord",
        T(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        16, Seq("o_orderkey"), Seq("o_orderkey"))
      Loops.checkpoint(store.readBucketed("li")
        .join(store.readBucketed("ord"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(
          count(lit(1)).as("line_cnt"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy("order_year"),
        eager = true) // materialize before the files are released
    } finally {
      // failure-isolated: a throw from one drop must not strand the other's
      // catalog entry, and never mask the original exception
      try store.dropBucketed("li") catch { case _: Exception => () }
      try store.dropBucketed("ord") catch { case _: Exception => () }
      deleteDirTree(root) // the temp root itself — benched queries re-run
    }
  }

  /** Z-ORDER-on-write layout, lifecycle ORACLED
    * ([[graft.io.TableStore.overwriteZOrdered]]): lineitem rewritten
    * range-partitioned + sorted on the bit-interleaved (ship_day,
    * l_partkey) key — BOTH columns get file-level locality, so a selective
    * predicate on EITHER skips most parquet files via min/max stats (the
    * data-skipping lever next to q162's bucketing and the partitioned
    * layout; measured decode fractions are pinned in PlanSpec's layout
    * test — linear sort prunes only its leading column, z-order prunes
    * both). The oracle is the PLAIN filter over the logical table: the
    * scaled-zkey computation (observed-min/max equal-width scaling → bit
    * interleave), the range repartition, the sort, the key drop, and the
    * staged swap must lose and duplicate NOTHING — layout is an
    * optimization, never a semantic. Filter bounds are fixed constants
    * (data-independent, SF-portable); generation files released after
    * materialization. */
  def zorderScan(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("zorder").toString
    val store = new graft.io.TableStore(s, root)
    try {
      val li = T(s, dir, "lineitem")
        .withColumn("ship_day",
          datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long"))
        .select("ship_day", "l_partkey", "l_orderkey", "l_linenumber",
          "l_quantity")
      store.overwriteZOrdered("zli", li, Seq("ship_day", "l_partkey"),
        files = 16)
      Loops.checkpoint(store.read("zli")
        .filter(col("ship_day") >= lit(11400L) && col("ship_day") < lit(11500L) &&
          col("l_partkey") < lit(500L))
        .select("l_orderkey", "l_linenumber", "ship_day", "l_partkey",
          "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
        eager = true) // materialize before the files are released
    } finally deleteDirTree(root) // table, staging/retired gens, AND the root
  }

  /** SMALL-FILES COMPACTION, lifecycle ORACLED
    * ([[graft.io.TableStore.compactFiles]]): documents written FRAGMENTED
    * into 64 part files (the append-accumulation failure mode — at 100 TB
    * the killer is file COUNT, not bytes: a million 1 MB objects is a
    * million scheduler tasks and a listing storm), compacted back through
    * the narrow no-shuffle coalesce rewrite + failure-atomic staged swap,
    * then a content-sensitive rollup over the COMPACTED table. The oracle
    * is the same rollup over the logical table: compaction moves bytes, it
    * must lose and duplicate NOTHING — sum(doc_id) / sum(n_chars) per
    * group make any dropped or doubled row visible. The file-count
    * collapse itself (the part the oracle can't see) is asserted in-query
    * and pinned in OperatorsSpec's compactFiles test. */
  def compactionLifecycle(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("compact").toString
    val store = new graft.io.TableStore(s, root)
    try {
      store.overwrite("frag", T(s, dir, "documents").repartition(64))
      val after = store.compactFiles("frag", targetBytes = 4L << 20)
      require(after < 64,
        s"compaction must collapse the 64-file fragmentation (got $after)")
      Loops.checkpoint(store.read("frag")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source", "lang"),
        eager = true) // materialize before the files are released
    } finally deleteDirTree(root)
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

  /** TABLE PROFILE over the documents table
    * ([[graft.operators.Profile.table]] — see its Scaladoc for the
    * one-scan / Expand / bounded-reshape design and the
    * approx_count_distinct 100 TB swap-in). */
  def tableProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.table(T(s, dir, "documents"))

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

  /** Exact-duplicate resolution with a QUALITY-priority keeper — the
    * composition of q15's hash grouping and q18's quality score: within
    * each exact-dup cluster keep the HIGHEST-QUALITY copy (tie → lowest
    * doc_id), not an arbitrary min id — the retention policy a real
    * pipeline wants (dedup should drop the worst copies). The keeper pick
    * is a PARTIAL-AGGREGABLE `max(struct(quality, −doc_id))` — one
    * map-side-combined aggregation, no window, no per-cluster buffer (the
    * q139→TopK lesson applied to argmax). The quality expression is the
    * q18 engine-exact chain, so both engines order identical doubles; the
    * oracle states the same pick through a rank window (oracle-side shape
    * is free). */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(
        md5(col("text").cast("binary")).as("text_md5"),
        col("doc_id"),
        Text.qualityScore(col("text")).as("__q"))
      .groupBy("text_md5")
      .agg(
        count(lit(1)).as("dup_count"),
        max(struct(col("__q").as("q"), (lit(0L) - col("doc_id")).as("negid")))
          .as("__best"))
      .select(
        col("text_md5"),
        (lit(0L) - col("__best.negid")).as("keep_id"),
        col("__best.q").as("keep_quality"),
        col("dup_count"))
      .orderBy("text_md5")

  /** Skew-safe holistic aggregation ([[graft.operators.Skew
    * .saltedCollectSet]]): per-user distinct event-type sets collected
    * through a 16-way SALT — the mitigation for the aggregation shape AQE
    * cannot split (collect_list/collect_set funnel a hot key's every row
    * into one reducer; partial-aggregable sums never have this problem).
    * Each key aggregates per (key, salt) first — bounded at rows/salt per
    * task — then merges the per-salt sets. The output is presented SORTED
    * and joined (set content is order-free; the sort makes it a total
    * order both engines produce identically), so the DuckDB oracle is the
    * plain DISTINCT rollup: the salted two-phase plan must be output-
    * invariant or the hash catches it. */
  def saltedEventTypes(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedCollectSet(
        T(s, dir, "events"), Seq("user_id"), col("event_type"),
        alias = "__set", salt = 16)
      .select(col("user_id"),
        array_join(array_sort(col("__set")), " ").as("event_types"),
        size(col("__set")).cast("long").as("n_types"))
      .orderBy("user_id")

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

  /** P2/P3-style filter + projection; both predicates and the 4-column read
    * schema must reach the parquet scan (verified in the plan spec). */
  def filterPushdown(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
        col("l_quantity") > 45)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
        col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber")

  /** R2 dense unpivot: every (row, measure) yields a row, nulls kept. */
  def unpivotDense(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .orderBy("l_orderkey", "l_linenumber", "measure")

  /** R3 sparse unpivot: melt then drop "empty" (non-positive) cells. */
  def unpivotSparse(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_discount"), col("l_tax")),
        "measure", "value")
      .filter(col("value") > 0)
      .orderBy("l_orderkey", "l_linenumber", "measure")

  /** D1/D2 ordered duplicate numbering: k-th duplicate name → "name (k)". */
  def dupNumbering(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_name").orderBy("p_partkey")
    T(s, dir, "part")
      .withColumn("rn", row_number().over(w))
      .select(
        col("p_partkey"), col("p_name"),
        when(col("rn") === 1, col("p_name"))
          .otherwise(format_string("%s (%d)", col("p_name"), col("rn"))).as("uniq_name"))
      .orderBy("p_partkey")
  }

  /** J3 as-of join: for each purchase, the user's last click value at or
    * before it (union + running-last; no range-join blow-up). */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_ns"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_ns"), col("value").as("click_value"))
    AsOfJoin.lastValueAsOf(purchases, clicks, Seq("user_id"), "ts_ns", Seq("click_value"))
      .select("event_id", "user_id", "click_value")
      .orderBy("event_id")
  }

  /** W3/W4 per-group ordered top-k: 3 biggest orders per customer. */
  def windowTopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    T(s, dir, "orders")
      .withColumn("rank_in_cust", row_number().over(w).cast("long"))
      .filter(col("rank_in_cust") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")
      .orderBy("o_custkey", "rank_in_cust")
  }

  /** W1 trailing streak: consecutive non-purchase events per user (newest
    * first), streak-0 users included. */
  def trailingStreak(s: SparkSession, dir: String): DataFrame =
    OrderedAnalytics.trailingStreak(
      T(s, dir, "events"), Seq("user_id"), "event_id",
      col("event_type") === "purchase")
      .orderBy("user_id")

  /** Gap-based sessionization (1h gap), session sizes per user. */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    OrderedAnalytics.sessionize(
      T(s, dir, "events"), Seq("user_id"), "ts_ns", "ts_ns",
      gapMillis = 3600L * 1000000000L) // ns in, ns gap
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")

  // ---- Choir-ETL scalar semantics over the bench tables ---------------------

  /** P7 date normalization, both branches: d.M.yy strings (2-digit-year pivot)
    * and Sheets serial numbers, round-tripped from l_shipdate. */
  def dateNormalize(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Exprs.normalizeDateToIso(format_string("%d.%d.%02d",
          dayofmonth(col("l_shipdate")), month(col("l_shipdate")),
          year(col("l_shipdate")) % 100)).as("iso_dmy"),
        Exprs.normalizeDateToIso(
          datediff(col("l_shipdate").cast("date"), lit("1899-12-30").cast("date"))
            .cast("string")).as("iso_serial"))
      .orderBy("l_orderkey", "l_linenumber")

  /** P9 lenient numeric parse: comma decimals accepted, garbage → null. */
  def parseLenient(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Exprs.parseNumLenient(
          when(col("l_linenumber") === 1, lit("n/a"))
            .otherwise(regexp_replace(col("l_quantity").cast("string"), "\\.", ",")))
          .as("qty"))
      .orderBy("l_orderkey", "l_linenumber")

  /** P10 flag normalization: {1, TRUE, YES} (trimmed, case-insensitive) → 1. */
  def flagNorm(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Exprs.flagFromString(
          when(col("l_returnflag") === "R", lit("TRUE"))
            .when(col("l_returnflag") === "A", lit(" yes "))
            .otherwise(lit("0"))).as("flag"))
      .orderBy("l_orderkey", "l_linenumber")

  /** A4+A5 lookback window + rate: per-user purchase rate over the trailing
    * 21 days (window anchored at the global max timestamp). */
  def lookbackRate(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val mx = ev.agg(max(col("ts_ns")).as("__mt"))
    ev.crossJoin(broadcast(mx))
      .filter(col("ts_ns") >= col("__mt") - lit(21L * 86400L * 1000000000L))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"))
      .withColumn("purchase_rate", col("n_purchase").cast("double") / col("n_events"))
      .orderBy("user_id")
  }

  /** Rollup aggregation (subtotals + grand total) — capability beyond the
    * reference's flat groupBys; DECIMAL-routed sums for cross-engine
    * bit-equality. The sentinel is built from grouping() — not coalesce — so
    * a genuinely-NULL key value cannot collide with a subtotal row and the
    * sort stays total on nullable data. */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        // grouping() is only legal inside the rollup's aggregate list
        grouping(col("l_returnflag")).as("__g1"),
        grouping(col("l_linestatus")).as("__g2"))
      .select(
        when(col("__g1") === 1, "<all>")
          .otherwise(coalesce(col("l_returnflag"), lit("<null>"))).as("l_returnflag"),
        when(col("__g2") === 1, "<all>")
          .otherwise(coalesce(col("l_linestatus"), lit("<null>"))).as("l_linestatus"),
        col("n_rows"), col("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Distinct aggregation + exact interpolated percentiles per group (the
    * reference has neither). Percentiles are rounded to 6 decimals on both
    * sides: Spark's percentile() and DuckDB's quantile_cont() use different
    * interpolation expressions that can differ in the last ULP when the
    * position falls between two distinct values. */
  def distinctAndPercentiles(s: SparkSession, dir: String): DataFrame = {
    // Split aggregations for the same reason as [[approxPercentiles]]: fused,
    // the countDistinct Expand would allocate the holistic percentile buffer
    // (an ArrayBuffer of every group value!) per (flag, partkey) partial
    // group. The exact percentile stays deliberately holistic — it is the
    // correctness oracle for the sketch variant, not a production path.
    val li = T(s, dir, "lineitem")
    val cd = li.groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
    // null-safe join key: a null l_returnflag group survives GROUP BY on
    // both branches (and in the oracle's single GROUP BY) — a plain equi-
    // join would silently drop it
    val pct = li.groupBy(col("l_returnflag").as("__rf"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"))
    cd.join(pct, col("l_returnflag") <=> col("__rf"))
      .select("l_returnflag", "n_parts", "n_supps", "median_qty", "p90_qty")
      .orderBy("l_returnflag")
  }

  /** The production-path variant of [[distinctAndPercentiles]]: one
    * approx_percentile SKETCH per group (mergeable, fixed memory, full
    * map-side partial aggregation) instead of the holistic exact
    * `percentile` that buffers every group value on 3 reducers. Oracled
    * against DuckDB's exact discrete quantile: Greenwald-Khanna at
    * accuracy 10000 has rank error <= N/10000 (~2 rows/group at sf0.01),
    * while l_quantity's integral values each span ~400-row runs — the
    * sketch can never cross a value boundary on this data, so approx ==
    * exact-discrete, verified bit-equal. */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame = {
    // The distinct counts and the sketch run as SEPARATE aggregations joined
    // on the 3-row group key. Fusing them into one agg plans the two
    // countDistincts as an Expand (×3 rows) whose first partial aggregate
    // groups by (flag, partkey, suppkey) — and allocates EVERY agg buffer,
    // including the percentile sketch, for each of those ~200k groups.
    // Measured at sf0.1: fused 4.97s, split 0.81s + 0.60s. The split form
    // also partial-aggregates both branches map-side, so at 100 TB each
    // branch shuffles group-sized state, not rows.
    val li = T(s, dir, "lineitem")
    val cd = li.groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
    // null-safe join key — same reasoning as [[distinctAndPercentiles]]
    val pct = li.groupBy(col("l_returnflag").as("__rf"))
      .agg(expr("approx_percentile(l_quantity, array(0.5, 0.9), 10000)").as("__p"))
    cd.join(pct, col("l_returnflag") <=> col("__rf"))
      .select(
        col("l_returnflag"), col("n_parts"), col("n_supps"),
        element_at(col("__p"), 1).as("median_qty"),
        element_at(col("__p"), 2).as("p90_qty"))
      .orderBy("l_returnflag")
  }

  /** Ranking + offset window functions (rank, dense_rank, ntile, lag, lead) —
    * the §2.7 families the reference never needed, over a total per-customer
    * order sequence. */
  def windowFunctions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    T(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"))
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  // ---- LLM-data-pipeline operators ------------------------------------------

  /** Exact dedup groups by content hash (md5 here so DuckDB can oracle it). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("text_md5")

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

  /** Heuristic language ID (CJK share + stopword argmax). */
  def langId(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Composite document quality score in [0, 1]. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), Text.qualityScore(col("text")).as("quality_score"))
      .orderBy("doc_id")

  /** SimHash64 + token fingerprint over the planted corpus ([[dedupFixture]]).
    * The hashes are self-contained (FNV-1a 64 + SplitMix64 — no JVM
    * hashCode), so the output is a frozen constant of the fixture; the
    * oracle states it as VALUES, whose hand-checkable content is the planted
    * structure: exact-duplicate docs 1 and 3 carry IDENTICAL simhash and
    * fingerprint, every other pair differs (near-dup hamming closeness is
    * asserted in the simhash spec, where "close" is expressible). */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    dedupFixture(s)
      .select(
        col("doc_id"),
        V.simhash64(Text.tokens(col("text"))).as("simhash"),
        Text.contentFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** MinHash-LSH near-duplicate candidate pairs (no all-pairs stage), in the
    * signature-rejoin form — bench-measured fastest at sf0.1 and the lighter
    * shuffle shape at scale (band join carries no signature payload; see
    * [[Dedup.minhashPairsRejoin]] for the measured crossover). */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairsRejoin(T(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, k = 64, bands = 16, minEstJaccard = 0.5)
      .orderBy("id_a", "id_b")

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

  /** Asymmetric exact near-dup scan: which odd-id embeddings (the "new
    * batch") have cosine >= 0.3 against some even-id embedding (the
    * "corpus") — incremental threshold dedup via
    * [[Ann.blockPairsAboveJoin]]. */
  def neardupJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Ann.blockPairsAboveJoin(
      emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding",
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
      threshold = 0.3)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "corpus_id")
  }

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

  /** Exact word-3-gram Jaccard between consecutive documents — the n-gram
    * set-similarity dedup primitive, DuckDB-oracled (intersection/union
    * recomputed relationally there).
    *
    * The text is shingled on BOTH branches of the self-join (no CSE across
    * join sides) — deliberate: a measured single-scan alternative (shingles
    * exploded once, tagged to both pair slots, two grouped aggs) was only
    * ~8% faster at sf0.1 (2.65s vs 2.87s, bit-identical output) while
    * shuffling ~6× the document bytes (every shingle × 2 tags) instead of
    * re-reading the columnar scan. At 100 TB shuffle is the scarcer
    * resource, so the recompute-over-reshuffle form stays. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .filter(Text.tokenCount(col("text")) >= 3)
      .select(col("doc_id"), array_distinct(Text.shingles(col("text"), 3)).as("sh"))
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
      col("sh").as("sh_b"))
    a.join(b, Seq("id_a"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .orderBy("id_a")
  }

  /** SimHash near-duplicate pairs over the documents table — the Manku-style
    * web-dedup criterion (small Hamming distance between content
    * fingerprints), as an EXACT banded-LSH plan: maxHamming+1 bit-bands,
    * pigeonhole recall 1, exact bit_count(xor) filter on candidates — so
    * unlike MinHash banding the output is fully DuckDB-oracle-able over the
    * REAL corpus (the oracle recomputes the md5-based portable fingerprint
    * from raw text and brute-forces all pairs). maxHamming = 2 on the 32-bit
    * portable fingerprint: the probe of this corpus puts planted near-dups
    * at hamming 0–2 and keeps the output a pair list, not a pair explosion
    * (~200 rows at sf0.01); production 64-bit fingerprints use the same
    * kernel at Manku's hamming ≤ 3. */
  def simhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(T(s, dir, "documents"), "doc_id", "text",
      maxHamming = 2)
      .orderBy("id_a", "id_b")

  /** Embedding-cosine near-duplicate pairs, exact, via the block-partitioned
    * pair scan (no BroadcastNestedLoopJoin, no O(n²) row materialization —
    * identity-spec'd against the non-equi-join formulation). Threshold 0.3
    * chosen from the corpus distribution (~1k pairs at sf0.01, max cosine
    * 0.51; no pair within 1e-9 of the threshold, so the cut is stable across
    * engines). Cosine rounded to 6 decimals for the DuckDB oracle. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Ann.blockPairsAbove(T(s, dir, "embeddings"), "vec_id", "embedding", 0.3)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id_a", "id_b")

  /** LSH-gated near-duplicate pairs — the extreme-scale production variant of
    * [[embeddingNearDup]]: bucket candidates first, TRUE cosine threshold on
    * candidates only. Emitted cosines are exact; only candidate recall is
    * approximate (subset + recall spec vs the exact scan), hence no_oracle.
    * r12 multi-probe: measured pair recall 0.35 → 0.96 at every tested SF
    * (see q80). */
  def neardupLsh(s: SparkSession, dir: String): DataFrame =
    Ann.lshPairsAbove(T(s, dir, "embeddings"), "vec_id", "embedding", 0.3,
      nBits = 6, tables = 12, flips = 4)
      .orderBy("id_a", "id_b")

  /** Multimodal decode over the deterministic synthetic media table — REAL
    * codecs (BMP via ImageIO, WAV via AudioSystem, motion-BMP first-frame)
    * behind batched shuffle-free mapPartitions: per-kind metadata aggregate,
    * oracled because the deterministic encoders make every decoded field a
    * pure function of media_id; ids with id%97==13 carry corrupt payloads,
    * so the valid=false path is part of the oracled output. */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.decode(
      graft.multimodal.Multimodal.syntheticMedia(s, 500))
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("width")).as("sum_width"),
        sum(col("height")).as("sum_height"),
        sum(col("n_bytes")).as("sum_bytes"),
        sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"))
      .orderBy("kind")

  /** Format-independent image dedup
    * ([[graft.multimodal.Multimodal.dHash64]]): the synthetic image corpus
    * unioned with its BMP TRANSCODES (same pixels, different container,
    * different bytes — byte-level hashing can never pair them), perceptual-
    * hashed scan-locally, paired by the banded-Hamming equi-join. dHash is
    * a pure integer function of the raster, so each (original, transcode)
    * pair sits at Hamming 0 and the full pair set is closed-form — the
    * range-arithmetic DuckDB mirror (the q25 oracle pattern) checks it
    * row-for-row. Unrelated images land ~32 bits apart; none fall within
    * the budget (frozen corpus, verified). */
  /** Shared by q125/q126: the image corpus ∪ its BMP transcodes,
    * perceptual-hashed, invalid rows dropped. */
  private def imagePhashCorpus(s: SparkSession): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val media = mm.syntheticMedia(s, 600).filter(col("kind") === "image")
    val copies = mm.transcodeToBmp(media)
      .filter(col("transcoded"))
      .select((col("media_id") + lit(100000L)).as("media_id"),
        col("kind"), col("payload"))
    val all = media.select("media_id", "kind", "payload").unionByName(copies)
    mm.perceptualHash(all).filter(col("valid"))
  }

  def imagePhashDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.hammingNearDupPairs(
      imagePhashCorpus(s), "media_id", "phash", bits = 64, maxHamming = 2)
      .orderBy("id_a", "id_b")

  /** q125 written the NAIVE way — crossJoin + bit_count(xor) ≤ k, the form
    * every PlanSpec sweep forbids as a cartesian — relying on
    * [[graft.plans.HammingJoinRewrite]] to derive the banded equi-join
    * union at optimization time. Shares q125's oracle (the rewrite is
    * multiplicity-exact), and the all-queries BNLJ sweep doubles as the
    * rule's regression net: if the rewrite ever stops firing, this query
    * plans a CartesianProduct and the sweep fails. */
  def imagePhashDedupDeclarative(s: SparkSession, dir: String): DataFrame = {
    val h = imagePhashCorpus(s)
    val a = h.select(col("media_id").as("id_a"), col("phash").as("__fp_a"))
    val b = h.select(col("media_id").as("id_b"), col("phash").as("__fp_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b") &&
        bit_count(col("__fp_a").bitwiseXOR(col("__fp_b"))) <= 2)
      .select(col("id_a"), col("id_b"),
        bit_count(col("__fp_a").bitwiseXOR(col("__fp_b"))).cast("long")
          .as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** q125 composed to DEDUP GROUPS: the Hamming pairs feed the alternating-
    * star connected components (min-id representative), singletons
    * self-keep — one (media_id, keeper_id) row per hashed image, the
    * media-side canonicalization table a curation pipeline joins on to drop
    * duplicate rasters. Here every original pairs with exactly its
    * transcode, so keeper = the original id throughout — closed-form for
    * the oracle. */
  def imageDupGroups(s: SparkSession, dir: String): DataFrame = {
    val hashes = imagePhashCorpus(s)
    val pairs = graft.operators.Dedup.hammingNearDupPairs(
      hashes, "media_id", "phash", bits = 64, maxHamming = 2)
    val comp = graft.operators.Dedup
      .connectedComponentsLogRoundsStrict(pairs)
      .withColumnRenamed("id", "media_id")
    hashes.select("media_id")
      .join(comp, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("comp"), col("media_id")).as("keeper_id"))
      .orderBy("media_id")
  }

  /** Point-in-interval range join via bin equi-join ([[RangeJoin]]): per-order
    * shipment windows (length keyed off the order key, 1-30 days) probed with
    * every lineitem ship date — NO join key exists, the naive formulation is
    * a BroadcastNestedLoopJoin. Binned at 32 days each interval replicates to
    * at most 2 bins and each matched pair meets exactly once. Plan-pinned
    * BNLJ-free; oracled against DuckDB's literal BETWEEN join. */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val iv = T(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(1000)) === 0)
      .select(
        col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("w_start"))
      .withColumn("w_end", col("w_start") + pmod(col("o_orderkey"), lit(30)) + lit(1))
    val pts = T(s, dir, "lineitem")
      .select(
        datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long").as("ship_day"),
        col("l_quantity"))
    graft.operators.RangeJoin.pointInInterval(
      iv, "w_start", "w_end", pts, "ship_day", binSize = 32)
      .groupBy("o_orderkey", "w_start", "w_end")
      .agg(
        count(lit(1)).as("n_ship"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("o_orderkey")
  }

  /** Interval-overlap range join ([[RangeJoin.intervalOverlap]]): two
    * differently-keyed families of per-order shipment windows, paired where
    * the windows intersect — again no equi-key, again bin-decomposed with
    * exactly-once emission (first shared bin). Oracled as DuckDB's literal
    * overlap join. */
  def intervalOverlapQ(s: SparkSession, dir: String): DataFrame = {
    def windows(modulus: Int, span: Int, prefix: String): DataFrame =
      T(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(modulus)) === 0)
        .select(
          col("o_orderkey").as(s"${prefix}_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long")
            .as(s"${prefix}_start"))
        .withColumn(s"${prefix}_end",
          col(s"${prefix}_start") + pmod(col(s"${prefix}_orderkey"), lit(span)) + lit(1))
    val a = windows(500, 45, "a")
    val b = windows(777, 60, "b")
    graft.operators.RangeJoin.intervalOverlap(
      a, "a_start", "a_end", b, "b_start", "b_end", binSize = 64)
      .orderBy("a_orderkey", "b_orderkey")
  }

  /** End-to-end training-data CURATION decision per document — the composite
    * the individual text operators exist for: language gate (en), quality
    * gate (score >= 0.5), token-budget gate (5..1000), exact-dedup
    * canonicalization (smallest doc_id per content hash wins), with the
    * FIRST failing rule as the recorded reason. Fully DuckDB-oracled because
    * every part is one of the proven bit-exact mirrors (q15/q16/q17/q18).
    * Scale shape: one scan computes all features; the only shuffle is ONE
    * content-hash exchange for the canonical-selection window. */
  def curation(s: SparkSession, dir: String): DataFrame =
    curationOf(T(s, dir, "documents"))

  /** [[curation]] over any (doc_id, text) frame — split out so the planted
    * spec can drive every reason branch (the synthetic corpus happens to
    * trigger only lang/quality). */
  private[graft] def curationOf(docs: DataFrame): DataFrame = {
    val scored = docs.select(
      col("doc_id"),
      Text.langId(col("text")).as("lang_pred"),
      Text.qualityScore(col("text")).as("quality_score"),
      Text.tokenCount(col("text")).as("n_tokens"),
      coalesce(md5(col("text").cast("binary")), lit("")).as("__fp"))
    // canonical per content hash as ONE window aggregate — same shuffle key
    // as a groupBy+rejoin but a single exchange and no join stage
    scored
      .withColumn("__keep_id", min("doc_id").over(Window.partitionBy("__fp")))
      .withColumn("reason",
        // gate thresholds shared with the streaming curation gate — see
        // Curation.Gate* (one definition, so the paths cannot diverge)
        when(col("lang_pred") =!= graft.functions.Curation.GateLang, "lang")
          .when(col("quality_score") < graft.functions.Curation.GateMinQuality, "quality")
          .when(col("n_tokens") < graft.functions.Curation.GateTokenMin ||
            col("n_tokens") > graft.functions.Curation.GateTokenMax, "length")
          .when(col("doc_id") =!= col("__keep_id"), "duplicate")
          .otherwise("keep"))
      .select(
        col("doc_id"), col("lang_pred"), col("quality_score"), col("n_tokens"),
        (col("reason") === "keep").as("keep"), col("reason"))
      .orderBy("doc_id")
  }

  /** Planted near-duplicate corpus for the dedup-clusters oracle: docs 1/2/3
    * are one cluster (exact dup + one-token change), 5/6 a second (one-token
    * change), 4/7/8 singletons (8 has < shingleSize tokens). The one-token
    * edits leave word-3-gram Jaccard ~0.7 — far above the 0.5 gate — and the
    * unrelated texts share no 3-shingle, so the expected clustering is
    * derivable by hand and stable under the fixed MinHash seeds. */
  private[graft] def dedupFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    val base1 = "the quick brown fox jumps over the lazy dog and keeps running " +
      "far away into the quiet green valley today"
    val base2 = "columnar execution engines batch rows into vectors to amortize " +
      "dispatch overhead across modern pipelines"
    Seq(
      1L -> base1,
      2L -> base1.replace("today", "tonight"),
      3L -> base1,
      4L -> "completely unrelated text about alpine meadows and their summer wildflowers blooming",
      5L -> base2,
      6L -> base2.replace("modern", "current"),
      7L -> "a second unrelated document mentioning tidal estuaries and migratory shorebirds",
      8L -> "short text"
    ).toDF("doc_id", "text")
  }

  /** MinHash-LSH pairs over the planted corpus — the q20 kernel on
    * [[dedupFixture]], where the approximate-by-nature output CAN be oracled:
    * the fixed FNV/SplitMix seeds make est_jaccard a frozen constant of the
    * fixture, and the hand-derivable part — WHICH pairs appear — is the
    * planted structure (1/2/3 one near-dup cluster, 5/6 another, singletons
    * absent). est_jaccard is agreeing-slots/64, an exact binary fraction, so
    * the VALUES oracle compares bit-equal with no rounding. */
  def minhashFixture(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairsRejoin(dedupFixture(s), "doc_id", "text",
      shingleSize = 3, k = 64, bands = 16, minEstJaccard = 0.5)
      .orderBy("id_a", "id_b")

  /** End-to-end near-dup dedup: MinHash-LSH candidate pairs → connected
    * components → canonical cluster id (smallest member) per document,
    * singletons keeping their own id. The full 100 TB dedup pipeline shape
    * (banded join, iterative min-label joins with checkpointed lineage) on a
    * hand-verifiable planted corpus. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersVia(s, Dedup.connectedComponents(_))

  /** [[dedupClusters]] with the O(log n)-ROUND alternating-star components
    * instead of min-label propagation — the variant for unknown/large
    * cluster diameters (template-evolution chains across a whole crawl).
    * Identical output contract, so it shares the planted-cluster oracle.
    * Uses the STRICT form: a clustering that failed to converge must fail
    * the job, not silently assign partial canonical ids. */
  def dedupClustersLogRounds(s: SparkSession, dir: String): DataFrame =
    dedupClustersVia(s, Dedup.connectedComponentsLogRoundsStrict(_))

  /** [[dedupClustersLogRounds]] with the candidate stage FAN-OUT-CAPPED
    * (`neighborCap = 2`) and the exact-Jaccard gate — the extreme-duplication
    * clustering shape motivated by PERF.md's 100× ramp, where uncapped
    * candidates grow quadratically with cluster multiplicity (27.3M pairs at
    * 100×): each doc pairs only with its 2 rank-successors per band bucket,
    * O(n·cap) candidates, and CC transitivity reconnects each genuine
    * cluster through the surviving chain edges. Shares the q37/q44
    * planted-cluster oracle — the capped pipeline must produce IDENTICAL
    * clusters. */
  def dedupClustersCapped(s: SparkSession, dir: String): DataFrame =
    dedupClustersVia(s, Dedup.connectedComponentsLogRoundsStrict(_),
      docs => Dedup.lshJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, k = 64, bands = 16, minJaccard = 0.5, neighborCap = 2))

  private def dedupClustersVia(
      s: SparkSession, cc: DataFrame => DataFrame,
      pairsOf: DataFrame => DataFrame = docs =>
        Dedup.minhashPairs(docs, "doc_id", "text",
          shingleSize = 3, k = 64, bands = 16, minEstJaccard = 0.5)): DataFrame = {
    // ONE canonicalization tail for q37/q44/q59 — the queries share a VALUES
    // oracle, so the coalesce-singleton rule and ordering must not fork
    val docs = dedupFixture(s)
    val comp = cc(pairsOf(docs))
      .withColumnRenamed("id", "doc_id").withColumnRenamed("comp", "cluster_id")
    docs.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Planted ANN corpus for the LSH/IVF fixture oracles (q47/q48): 4
    * orthogonal clusters × 4 members in 8 dims. Member j of cluster c is
    * e_c + δ_j·e_{4+c} with δ ∈ {0, 0.125, 0.25, 0.375} — every constant
    * exactly representable in BOTH float and double, so Spark's
    * float→double cosine arithmetic and DuckDB's double arithmetic see the
    * same operands (and with ≤2 nonzero components every dot product is an
    * exact binary fraction: no summation-order sensitivity). Clusters have
    * disjoint support → cross-cluster cosine is exactly 0, within-cluster
    * ≥ 0.936: each vector's true top-3 is its 3 cluster-mates, so an
    * approximate kernel that respects the planted structure must emit the
    * EXACT kNN answer — which DuckDB recomputes independently. */
  private[graft] def annFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    val deltas = Array(0f, 0.125f, 0.25f, 0.375f)
    (for { c <- 0 until 4; j <- 0 until 4 } yield {
      val v = new Array[Float](8)
      v(c) = 1f
      v(4 + c) = deltas(j)
      ((c * 4 + j).toLong, v.toSeq)
    }).toDF("vec_id", "embedding")
  }

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

  /** LSH-gated thresholded pairs on the planted fixture — the q36 kernel
    * ([[Ann.lshPairsAbove]]) oracle-able the same way: within-cluster
    * cosines are all ≥ 0.936 and cross-cluster exactly 0, so at τ=0.9 the
    * required output is ALL 24 ordered in-cluster pairs with their exact
    * cosines — which the oracle recomputes by exhaustive join. With this,
    * every approximate kernel family (minhash q39, LSH top-k q47, IVF q48,
    * LSH pairs q49) has a frozen-fixture oracle row. */
  def neardupLshFixture(s: SparkSession, dir: String): DataFrame =
    Ann.lshPairsAbove(annFixture(s), "vec_id", "embedding", 0.9,
      nBits = 2, tables = 8)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id_a", "id_b")

  /** The REAL near-pair query over the REAL corpus: all document pairs with
    * exact shingle-Jaccard ≥ 0.5, LSH-banded candidates first
    * ([[Dedup.lshJaccardPairs]]). DuckDB-oracled — the emitted Jaccard is
    * exact set arithmetic, and at k=64/bands=32 the candidate-miss
    * probability for the corpus's planted near-dups (all J ≥ 0.8, nothing
    * else above 0.14 at any SF) is ~1e-14, verified pair-for-pair against
    * the oracle's exhaustive shingle equi-join at sf0.001/0.01/0.1. */
  def neardupExactPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.lshJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, k = 64, bands = 32, minJaccard = 0.5)
      .orderBy("id_a", "id_b")

  /** q46's pair set through the PREFIX-FILTER kernel
    * ([[Dedup.prefixJaccardPairs]], the SSJoin/PPJoin family): identical
    * output, PROVABLY complete candidates — where q46's MinHash banding is
    * complete with probability 1 − (1 − J^r)^b (astronomically close to 1,
    * never 1), the prefix filter is complete by pigeonhole on the
    * rarest-first canonical shingle order. Shares q46's exhaustive DuckDB
    * oracle verbatim (the q52/q113 output-invariant-pair pattern), so the
    * driver hash-verifies the determinism claim, and both kernels bench
    * side by side: banded-probabilistic vs exact-prefix candidate
    * generation on the same corpus. */
  def neardupPrefixPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, minJaccard = 0.5)
      .orderBy("id_a", "id_b")

  /** Incremental near-dup screen ([[Dedup.lshJaccardPairsJoin]]): an
    * arriving batch (every 10th document — the shape of a daily ingest
    * increment, ~10% of the corpus) screened against the standing corpus
    * (the other 90%) for exact shingle-Jaccard ≥ 0.5, LSH-banded candidates
    * first. The asymmetric form an ingest pipeline actually runs: per batch
    * it pays O(batch × bands) band rows against the corpus index instead of
    * re-pairing the whole corpus with itself. DuckDB-oracled pair-for-pair
    * by the exhaustive cross-side shingle equi-join. */
  def neardupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    Dedup.lshJaccardPairsJoin(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0),
      "doc_id", "text", shingleSize = 3, k = 64, bands = 32, minJaccard = 0.5)
      .orderBy("new_id", "corpus_id")
  }

  /** Corpus-scale end-to-end dedup clusters — the q37/q44 pipeline taken off
    * the planted fixture and run over the REAL `documents` table at the
    * driver's SF: LSH candidates → exact-Jaccard gate ≥ 0.5 → STRICT
    * O(log n)-round connected components → canonical cluster id (smallest
    * member), singletons keeping their own id. Oracled in DuckDB via a
    * WITH RECURSIVE min-label closure over the identical exact-Jaccard pair
    * set, so cluster membership is verified end-to-end, not on 8 documents.
    * The star-round count is logged — at corpus scale the round count IS the
    * cost model. */
  def dedupClustersCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"))
    val pairs = Dedup.lshJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, k = 64, bands = 32, minJaccard = 0.5)
    val (comp, rounds) = Dedup.connectedComponentsLogRoundsStrictWithStats(pairs)
    log.info(s"q45 corpus dedup: connected components converged in $rounds star rounds")
    docs
      .join(
        comp.withColumnRenamed("id", "doc_id").withColumnRenamed("comp", "cluster_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** INCREMENTAL dedup-cluster maintenance
    * ([[graft.operators.Dedup.updateComponents]]) — the daily-crawl form
    * of q45: yesterday's corpus (doc_id % 5 ≠ 0) is clustered once, then
    * today's increment (the % 5 = 0 docs and every near-dup pair touching
    * them) updates the labeling WITHOUT re-running components over
    * history — the iteration runs on the label graph (increment-bounded),
    * and the corpus labeling is touched by one broadcast-map join. The
    * oracle is q45's full-closure SQL VERBATIM over the union graph: the
    * incremental result must be indistinguishable from a from-scratch
    * recompute — the q153/q162/q165 output-invariance pattern applied to
    * state maintenance. */
  def dedupIncrementalClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.lshJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, k = 64, bands = 32, minJaccard = 0.5)
      .select("id_a", "id_b")
    val touchesNew = pmod(col("id_a"), lit(5)) === 0 ||
      pmod(col("id_b"), lit(5)) === 0
    val oldPairs = Loops.checkpoint(pairs.filter(!touchesNew), eager = true)
    val newPairs = Loops.checkpoint(pairs.filter(touchesNew), eager = true)
    val oldDocs = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id").as("id"))
    // yesterday's labeling: components over yesterday's pairs, singletons
    // label themselves (the q45 coalesce rule)
    val existing = oldDocs
      .join(Dedup.connectedComponentsLogRoundsStrict(oldPairs), Seq("id"),
        "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    val newNodes = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id").as("id"))
    Dedup.updateComponents(existing, newPairs, newNodes)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Duplication profile of the corpus — the cluster-size histogram over
    * the q45 end-to-end dedup assignment: how many clusters of each size
    * exist (size 1 = unique documents). The first number a curation run
    * reports, and the shape that decides whether near-dup pruning is worth
    * a pass at all. Two tiny rollups on top of the q45 plan; oracled by the
    * same recursive-CTE closure extended with the identical double
    * GROUP BY. */
  def dedupClusterSizes(s: SparkSession, dir: String): DataFrame =
    dedupClustersCorpus(s, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** Corpus-wide repeated-span report ([[graft.operators.SpanDedup.spanReport]]):
    * every 8-token span occurring in ≥2 distinct documents, with distinct-doc
    * and occurrence counts — the exact-substring duplication audit (Lee et
    * al. 2021) at sub-line granularity, between q15's whole-document and
    * q64's whole-line screens. On this corpus the 1000+ spans are precisely
    * the planted near-duplicate overlaps. DuckDB-oracled end-to-end (same
    * tokenizer mirror as q16, spans via inclusive list slices). */
  def spanDupes(s: SparkSession, dir: String): DataFrame =
    SpanDedup.spanReport(T(s, dir, "documents"), "doc_id", "text", n = 8)
      .orderBy(desc("n_docs"), desc("n_occurrences"), col("span"))

  /** Exact-substring span removal ([[graft.operators.SpanDedup.scrubSpans]]):
    * duplicated 8-token spans are cut from every document EXCEPT the
    * lexicographically first occurrence (min doc_id, then min start pos) —
    * the all-but-one policy, so a near-dup pair resolves to the lower-id
    * copy intact and the other's duplicated portion removed. Returns
    * per-doc token counts and the rebuilt text; DuckDB-oracled end-to-end
    * including the rebuilt strings (anti-join on covered token indices,
    * order-preserving string_agg). */
  def spanScrub(s: SparkSession, dir: String): DataFrame =
    SpanDedup.scrubSpans(T(s, dir, "documents"), "doc_id", "text", n = 8)
      .orderBy("doc_id")

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

  /** Planted embedding clusters for the SemDeDup fixture oracle: three tight
    * direction clusters in 4-d (within-cluster cosines ≥ 0.99, cross-cluster
    * ≈ 0) plus one dimension-mismatched corrupt row the kernel must exclude.
    * Deterministic end-to-end (hash-gated sample, fixed-order k-means,
    * exact cosine gate), so the expected assignment is frozen VALUES. */
  private[graft] def semDedupFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.045f, 0.0f, 0.0f)),
      (3L, Seq(0.998f, -0.06f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (5L, Seq(0.0f, 0.999f, 0.045f, 0.0f)),
      (6L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (7L, Seq(1.0f)) // corrupt: wrong dimension, must be excluded
    ).toDF("vec_id", "embedding")
  }

  /** SemDeDup semantic dedup assignment ([[graft.operators.SemDedup]],
    * Abbas et al. 2023) on the planted cluster fixture: k-means bucketing →
    * within-cluster exact-cosine pairs → connected components → min-id
    * canonical pick. Fixture-oracled (VALUES) like the other approximate-
    * kernel twins (q39/q47/q48): the real-corpus scale path is exercised in
    * `VectorSpec` against the exact q27 pair scan. */
  def semDedupFixtureQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.SemDedup.assign(
      semDedupFixture(s), "vec_id", "embedding",
      threshold = 0.99, nClusters = 2, iters = 4)
      .orderBy("id")

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

  /** Ordered conversion funnel ([[graft.operators.OrderedAnalytics.funnel]])
    * over the events stream: signup → click → purchase as a strictly-time-
    * increasing subsequence per user, greedy-earliest (exact, not a
    * heuristic). Times are exact ns longs (the q10 precedent); users who
    * never signed up surface with zero steps. */
  def eventFunnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.OrderedAnalytics.funnel(
      T(s, dir, "events"), Seq("user_id"), "ts_ns", "event_type",
      Seq("signup", "click", "purchase"))
      .orderBy("user_id")

  /** Retention triangle ([[graft.operators.Cohorts.retention]]): users
    * cohorted by first-active epoch day, active counts per day offset, and
    * the retention ratio (one IEEE division over exact longs). Day numbers
    * are epoch-day longs (the q38 precedent) so no calendar type crosses
    * the engine boundary. */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cohorts.retention(
      T(s, dir, "events"), Seq("user_id"),
      datediff(to_date(col("ts")), lit("1970-01-01")))
      .select(col("cohort_day"), col("offset_days"), col("n_active"),
        col("cohort_size"), col("retention"))
      .orderBy("cohort_day", "offset_days")

  /** Trailing 7-day activity per user at every event
    * ([[graft.operators.Cohorts.trailingRange]]): event count, purchase
    * count, and max value over the inclusive [ts-7d, ts] range frame on
    * exact ns longs. All three aggregates are order-independent (counts /
    * max), so the frame is bit-deterministic on both engines. */
  def rollingActivity(s: SparkSession, dir: String): DataFrame = {
    val weekNs = 7L * 24 * 3600 * 1000000000L
    graft.operators.Cohorts.trailingRange(
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts_ns"),
          col("event_type"), col("value")),
      Seq("user_id"), "ts_ns", weekNs, Seq(
        "n_7d" -> count(lit(1)),
        "purchases_7d" -> count(when(col("event_type") === "purchase", 1)),
        "max_value_7d" -> max(col("value"))))
      .select("event_id", "user_id", "ts_ns", "n_7d", "purchases_7d",
        "max_value_7d")
      .orderBy("event_id")
  }

  /** Daily event-type crosstab via the relational pivot surface: one column
    * per event type with its daily count, zero-filled. The pivot values are
    * DECLARED (no discovery pass collecting distinct types at the driver —
    * the two-pass `pivot(col)` overload is the anti-pattern at 100 TB), so
    * the whole query is one partial-aggregated shuffle on day. */
  def eventTypePivot(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"),
        col("event_type"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

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

  /** Per-document unigram (token) Shannon entropy + top-token fraction —
    * the information-density quality signal: low entropy flags repetitive
    * machine-generated text the way the Gopher fraction filters (q53) do,
    * but in one number with a natural threshold scale (bits). Computed as
    * log2(n) − (Σ c·log2 c)/n over the per-doc token counts.
    *
    * Determinism policy: counts and top_token_frac are exact (longs + one
    * division); entropy's cross-token float sum folds in SORTED token order
    * on BOTH engines (Spark `aggregate(array_sort(collect_list))`, DuckDB
    * `list_reduce(list(... ORDER BY tok))` — the 0.0-seeded and
    * first-element-seeded folds produce the identical addition sequence
    * since 0.0 + x = x bitwise), leaving only log2's last-ulp libm
    * variation, absorbed by the 6dp round (the q33 precedent). Blank
    * documents surface with n_tokens 0 and NULL entropy, never dropped.
    *
    * Scale shape: explode → (doc, tok) rollup → per-doc fold: two
    * partial-aggregated shuffles, both doc-keyed; the per-doc collect_list
    * is bounded by the doc's VOCABULARY (distinct tokens), not its
    * length. */
  private[graft] def tokenEntropyOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .filter(trim(coalesce(col("text"), lit(""))) =!= "")
      .select(col("doc_id"), explode(graft.functions.Text.tokens(col("text"))).as("tok"))
    val agg = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        max("c").as("__mx"),
        aggregate(
          array_sort(collect_list(struct(col("tok"), col("c")))),
          lit(0.0),
          (acc, x) => acc +
            x.getField("c").cast("double") * log2(x.getField("c").cast("double")))
          .as("__scc"))
    docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("vocab_size"), lit(0L)).as("vocab_size"),
        round(log2(col("n_tokens").cast("double")) - col("__scc") / col("n_tokens"), 6)
          .as("entropy"),
        (col("__mx").cast("double") / col("n_tokens")).as("top_token_frac"))
  }

  def tokenEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tokenEntropyOf(
      T(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(Seq(
          9460001L -> "",                // blank branch: n 0, NULL entropy
          9460002L -> "the the the the", // zero entropy, top_token_frac 1
          9460003L -> "a b c d"          // max entropy: log2(4) = 2 exactly
        ).toDF("doc_id", "text")))
      .orderBy("doc_id")
  }

  /** Daily per-user activity densified and forward-filled
    * ([[graft.operators.TimeSeries.forwardFill]]): one row per (user, day)
    * across each user's observed span, gap days carrying the last observed
    * daily event count with `observed = false`. Counts are exact longs —
    * the whole output is integer/boolean, trivially hash-stable. */
  def gapFillDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"))
    graft.operators.TimeSeries.forwardFill(
      daily, Seq("user_id"), "day", Seq("n_events"))
      .select("user_id", "day", "n_events", "observed")
      .orderBy("user_id", "day")
  }

  /** Last-touch attribution ([[graft.operators.AsOfJoin.lastValueAsOf]]
    * applied to the event stream): every purchase annotated with the
    * latest click at or before it per user, plus the click→purchase
    * latency. Clicks are pre-collapsed to one row per (user, instant)
    * (max event_id — the as-of contract requires unique ordinates), so
    * ties are deterministic on both engines. The one-shuffle union+window
    * as-of shape — no |purchases|×|clicks| range-join blow-up. */
  def lastTouch(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_ns")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts_ns")
      .agg(max("event_id").as("click_event"))
      .withColumn("click_ts", col("ts_ns"))
    graft.operators.AsOfJoin.lastValueAsOf(
      purchases, clicks, Seq("user_id"), "ts_ns", Seq("click_ts", "click_event"))
      .withColumn("latency_ns", col("ts_ns") - col("click_ts"))
      .select("event_id", "user_id", "ts_ns", "click_event", "click_ts", "latency_ns")
      .orderBy("event_id")
  }

  /** TPC-H Q3 shape (shipping priority): segment-filtered customers ×
    * date-bounded orders × lineitem, revenue per unshipped order, top 10.
    * The classic 3-table OLAP join: both date predicates and the segment
    * filter push to the scans, the filtered customer side broadcasts, and
    * the top-10 plans as TakeOrderedAndProject over the partial aggregates
    * (no global sort). Revenue sums route through DECIMAL (exact,
    * order-independent) and only the FINAL value casts to double — the
    * engine-determinism policy every money aggregate here follows.
    *
    * No forced broadcast hints: customer GROWS with scale, so the join
    * strategy must be the planner's size-based call — BHJ at bench SFs
    * (pinned), SMJ on custkey when a 100 TB customer exceeds the
    * threshold. A forced hint here is a driver OOM at scale. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-03-15").cast("timestamp")
    val cust = T(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = T(s, dir, "orders")
      .filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = T(s, dir, "lineitem")
      .filter(col("l_shipdate") > cut)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape (local supplier volume): the 6-table join — region →
    * nation → customer → orders → lineitem × supplier, with the Q5 twist
    * that the supplier must sit in the CUSTOMER's nation (the non-key
    * equi-condition `s_nationkey = c_nationkey` rides the same hash join).
    * region→nation is broadcast by hint (bounded by schema at 5/25 rows);
    * customer and supplier joins are the planner's size-based call — BHJ at
    * bench SFs (pinned), shuffled joins at a scale where forcing the
    * broadcast would OOM. The only guaranteed shuffles are the fact-side
    * aggregations. DECIMAL-routed revenue, one final double cast. */
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val nations = T(s, dir, "nation")
      .join(broadcast(T(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = T(s, dir, "customer").select("c_custkey", "c_nationkey")
    val supp = T(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val ord = T(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("2002-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    T(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** TPC-H Q7 shape (volume shipping): supplier-nation × customer-nation
    * trade lanes per ship year — lineitem joined to supplier and (via
    * orders) customer, cross-nation lanes only. Both nation ROLES broadcast
    * by hint (25 rows by schema); supplier/customer are size-based picks
    * like q101/q102 (broadcast at bench SFs, shuffled at a scale where the
    * hint would OOM). The rollup is |nations|² × years rows; revenue
    * DECIMAL-routed with one final double cast (the engine-determinism
    * policy). */
  def tradeVolume(s: SparkSession, dir: String): DataFrame = {
    val n1 = T(s, dir, "nation").select(
      col("n_nationkey").as("__sn_key"), col("n_name").as("supp_nation"))
    val n2 = T(s, dir, "nation").select(
      col("n_nationkey").as("__cn_key"), col("n_name").as("cust_nation"))
    T(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .join(T(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(T(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("__sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("__cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  /** Daily unique users (exact) + event volume — the cardinality rollup the
    * q35-style HLL sketch approximates; the approx_count_distinct twin is
    * pinned within its error bound in the spec (the sketch itself is not
    * cross-engine comparable, so the EXACT form carries the oracle). */
  def dailyUniques(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("day")

  /** TPC-H Q8 shape (national market share): for customers in one region,
    * the yearly revenue share delivered by one supplier nation. Two-level
    * conditional aggregation over the 6-table join — share = nation revenue
    * / total revenue, both DECIMAL-exact sums with ONE final division per
    * row (the engine-determinism policy). Region/nation hint-broadcast
    * (schema-bounded); customer/supplier size-based like q101–q104. */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val asiaCust = T(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(
        T(s, dir, "nation").select("n_nationkey", "n_regionkey")
          .join(broadcast(T(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val suppNation = T(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(T(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    T(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(T(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        sum(when(col("supp_nation") === "CHINA",
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double").as("nation_revenue"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("total_revenue"))
      .withColumn("mkt_share",
        when(col("total_revenue") > 0, col("nation_revenue") / col("total_revenue")))
      .orderBy("order_year")
  }

  /** TPC-H Q18 shape (large-volume orders): orders whose total lineitem
    * quantity clears a threshold, with the customer key and the exact
    * total. The group-HAVING-join OLAP pattern: the per-order rollup is
    * map-side combinable, the HAVING prunes before the customer join, and
    * the (tiny) surviving order set joins back by key. Quantities sum
    * DECIMAL-exact; the threshold compares decimals, so the cut is
    * bit-deterministic on every engine. */
  def largeOrders(s: SparkSession, dir: String): DataFrame = {
    val qty = T(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__q"))
      .filter(col("__q") > 145)
    T(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .join(qty, col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_custkey").as("c_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("total_price"),
        col("__q").cast("double").as("total_qty"))
      .orderBy(desc("total_qty"), col("o_orderkey"))
  }

  /** TPC-H Q4 shape (order priority check): orders in one quarter that had
    * at least one LATE line (shipped > 60 days after the order date),
    * counted per priority. The existence probe is a LEFT SEMI join whose
    * equi-key (orderkey) rides the hash join and whose lateness bound is a
    * residual predicate on the same join — never a row-multiplying inner
    * join + distinct. The quarter bound pushes to the orders scan; at scale
    * the semi-join degrades to SMJ on orderkey, still one shuffle and no
    * duplicate inflation (semi output ≤ orders). */
  def lateOrderPriorities(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = T(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "leftsemi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q12 shape (shipmode/priority mix, recast on ship delay): every
    * line classified by how long after the order date it shipped, with the
    * per-bucket split of urgent/high vs lower-priority lines — the
    * CASE-WHEN-inside-SUM conditional-aggregation pattern. One fact-side
    * equi-join (orderkey), then a 3-row rollup: both conditional sums ride
    * the same partial aggregate, so the whole query is one shuffle past the
    * join. Counts are exact longs. */
  def shipDelayMix(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    T(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      .join(T(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_bucket",
        when(datediff(col("l_shipdate"), col("o_orderdate")) <= 0, "early")
          .when(datediff(col("l_shipdate"), col("o_orderdate")) <= 365,
            "within_year")
          .otherwise("late"))
      .groupBy("delay_bucket")
      .agg(
        sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("delay_bucket")
  }

  /** TPC-H Q14 shape (promo revenue share): the percentage of one ship
    * month's revenue carried by PROMO-type parts. Ratio-of-conditional-sums:
    * both the promo and total revenue accumulate DECIMAL-exact through the
    * same partial aggregate and the share is ONE double division at the end
    * (the engine-determinism policy). The month bound pushes to the
    * lineitem scan; part is a size-based join pick (broadcast at bench SFs,
    * shuffled when a 100 TB part side outgrows the threshold — part GROWS
    * with scale, so no forced hint). */
  def promoRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(T(s, dir, "part").select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double")
          .as("promo_revenue"),
        sum(rev).cast("double").as("total_revenue"))
      .withColumn("promo_share",
        when(col("total_revenue") > 0,
          lit(100.0) * col("promo_revenue") / col("total_revenue")))
  }

  /** TPC-H Q13 shape (customer order-count distribution): orders per
    * customer (zero-order customers KEPT via the left outer join, the Q13
    * point), then the histogram of customers per order count. Two
    * aggregation levels: the first shuffles on custkey, the second on the
    * tiny count domain. The priority exclusion is applied to orders BEFORE
    * the join — the same rows as an ON-clause filter, but expressed so the
    * predicate pushes to the orders scan. */
  def orderCountHistogram(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer").select("c_custkey")
      .join(T(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy("n_orders")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(desc("n_customers"), desc("n_orders"))

  /** TPC-H Q10 shape (returned items): per-customer revenue lost to
    * returned lines in one order quarter, top 20. The fact side filters on
    * BOTH scans (returnflag on lineitem, quarter on orders) before any
    * join; nation is hint-broadcast (25 rows by schema); customer is the
    * planner's size-based call like q101–q107. Revenue is DECIMAL-exact so
    * the top-20 boundary is bit-deterministic, with custkey as the total
    * tie-break; the limit plans as TakeOrderedAndProject — no global
    * sort. */
  def returnedItems(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(T(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)

  /** TPC-H Q17 shape (small-quantity revenue): lines of one brand's parts
    * whose quantity falls below half that part's average. The per-part
    * average is the JOIN-BACK-TO-AGGREGATE pattern: the brand filter
    * shrinks part first, the part join shrinks lineitem BEFORE the
    * per-part rollup, and the rollup (≤1 row per surviving part) joins
    * back on the same partkey — at any scale both join-back sides already
    * hash-partition on partkey, so AQE reuses the exchange instead of
    * re-shuffling. The average is sum/count over integer-valued
    * quantities: the DECIMAL sum is exact, so the single IEEE division
    * (and the 0.5× bound) is bit-deterministic on both engines. */
  def smallQuantityRevenue(s: SparkSession, dir: String): DataFrame = {
    val brandLines = T(s, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(T(s, dir, "part")
        .filter(col("p_brand") === "Brand#4").select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val perPartAvg = brandLines
      .groupBy("l_partkey")
      .agg((sum(col("l_quantity").cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("avg_qty"))
    brandLines
      .join(perPartAvg, Seq("l_partkey"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
          .as("total_revenue"))
  }

  /** TPC-H Q19 shape (disjunctive bracket revenue): revenue from lines
    * matching EITHER of two (brand, size-range, quantity-range) brackets —
    * the OR-of-conjunctions predicate. The single-table conjuncts split by
    * side: the quantity envelope (the union of both brackets' quantity
    * ranges) pushes to the lineitem scan and the size/brand envelope to the
    * part scan BEFORE the join, while the cross-table bracket pairing stays
    * a residual on the hash join — the planner's CNF extraction does this
    * from the declarative OR, no manual rewrite. */
  def bracketRevenue(s: SparkSession, dir: String): DataFrame = {
    val b1 = col("p_brand") === "Brand#4" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
    val b2 = col("p_brand") === "Brand#8" &&
      col("p_size").between(10, 30) && col("l_quantity").between(10, 35)
    T(s, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(T(s, dir, "part").select("p_partkey", "p_brand", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .filter(b1 || b2)
      .agg(
        count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
  }

  /** TPC-H Q22 shape (dormant high-balance customers): per-nation count and
    * balance of customers above the positive-balance average with NO order
    * since a cutoff. Two classic sub-plans: the global average is a 1-row
    * aggregate broadcast back over customers (a scalar subquery — never a
    * shuffle), and "no recent order" is a LEFT ANTI join against the
    * cutoff-filtered orders whose date bound pushes to the scan, so the
    * anti-join probe side is the RECENT slice, not the full history. The
    * balance sums are DECIMAL(18,2)-exact (2-dp inputs), cast to double
    * once. */
  def dormantCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("__avg_bal"))
    val recent = T(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-06-01").cast("timestamp"))
      .select("o_custkey")
    cust
      .join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("__avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("total_balance"))
      .orderBy("nationkey")
  }

  /** TPC-H Q6 shape (forecast revenue change): the pure-scan conditional
    * rollup — one year of shipments in a discount band below a quantity
    * cap, revenue = price × discount. Every predicate is a single-column
    * comparison, so ALL of them push to the parquet scan (PushedFilters
    * carries the date/discount/quantity bounds) and the plan is scan →
    * partial agg → 1-row exchange: the cheapest possible TPC-H shape and
    * the row-group-pruning benchmark at 100 TB (a date-partitioned layout
    * reads 1/7 of the files before a byte of CPU). DECIMAL-routed sum,
    * one double cast. */
  def forecastRevenue(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
      .agg(
        count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,6)")).cast("double").as("revenue"))

  /** TPC-H Q15 shape (top supplier): suppliers whose quarterly revenue
    * equals the global maximum. The Q15 view is the per-supplier rollup;
    * the scalar max is a 1-row aggregate BROADCAST back over it (like
    * q116's average — never a shuffle), and the equality test runs on the
    * un-cast DECIMAL sums, so "ties with the max" is exact arithmetic on
    * both engines, not an IEEE comparison. Supplier attributes join AFTER
    * the filter (≤ a handful of winners), so the dimension join is over
    * the max-revenue slice, not the full rollup. The explicit
    * isnotnull(l_suppkey) keeps the rollup's exchange subtree canonically
    * identical under BOTH consumers (the filter probe and the scalar max —
    * the q50/q72 trick), so the quarter scan + revenue rollup evaluate
    * ONCE and the max side reads a ReusedExchange, never a second scan. */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp") &&
        col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).as("__rev"))
    val maxRev = rev.agg(max(col("__rev")).as("__max_rev"))
    rev
      .join(broadcast(maxRev))
      .filter(col("__rev") === col("__max_rev"))
      .join(T(s, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("__rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q9 shape (product-type profit): per supplier-nation per order
    * year, profit on one product family — revenue minus a cost proxy
    * (retail price × quantity × 0.6; the dataset has no partsupp table, so
    * `p_retailprice` stands in for `ps_supplycost`, same join shape). The
    * LIKE filter pushes to the part scan (StringContains), the filtered
    * part join shrinks lineitem FIRST, nation is hint-broadcast (25 rows
    * by schema), supplier/orders joins are size-based picks like
    * q101–q104. Per-row profit is IEEE-deterministic (one multiply-subtract
    * chain), then DECIMAL-summed and cast once. */
  def productProfit(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(T(s, dir, "part").filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice"),
        col("l_partkey") === col("p_partkey"))
      .join(T(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(T(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(T(s, dir, "nation").select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity") * lit(0.6))
        .cast("decimal(18,6)")).cast("double").as("profit"))
      .orderBy(col("nation"), desc("o_year"))

  /** TPC-H Q21 shape (suppliers who kept orders waiting): suppliers that
    * were the ONLY late shipper on a finished multi-supplier order (late =
    * shipped > 90 days after the order date; the dataset has no
    * commit/receipt dates — same lateness proxy as q108). Q21's textbook
    * form is a double correlated EXISTS / NOT EXISTS self-join on lineitem
    * — at 100 TB that is two extra fact-fact joins. This plan collapses it
    * to ONE PASS over the per-(order, supplier) lateness rollup: the
    * order-level supplier/late counts are WINDOWS partitioned by
    * l_orderkey over that rollup — lineitem is scanned once and never
    * self-joined; "exists another supplier" ≡ n_suppliers > 1 and "no
    * other late one" ≡ n_late = 1 on a row that is itself late. (A
    * groupBy-then-rejoin formulation plans the rollup subtree TWICE — two
    * full fact scans; the window states the same per-order stats on one.)
    * The DuckDB oracle states the EXISTS/NOT-EXISTS form verbatim, making
    * the rewrite's equivalence driver-checked. */
  def waitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val perOrderSupp = T(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(T(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max((col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 90 DAYS")).cast("int"))
        .as("__late"))
    val perOrder = Window.partitionBy("l_orderkey")
    perOrderSupp
      .withColumn("__n_supp", count(lit(1)).over(perOrder))
      .withColumn("__n_late", sum(col("__late")).over(perOrder))
      .filter(col("__late") === 1 &&
        col("__n_supp") > 1 && col("__n_late") === 1)
      .join(T(s, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
  }

  /** TPC-H Q2 shape (cheapest regional supplier): for each part of one
    * size class, the EUROPE suppliers offering it at the regional minimum
    * unit price (the dataset has no partsupp, so the offer relation is
    * derived: min observed `l_extendedprice / l_quantity` per (part,
    * supplier)). Q2's correlated MIN subquery becomes a per-part window
    * MIN over the offer rollup — the rollup is computed ONCE (a
    * join-back-to-aggregate formulation plans the whole offer join tree
    * twice, doubling the fact scans) and the equality test runs on doubles
    * both engines derived from identical inputs via order-independent MIN
    * — bit-deterministic. Region→nation prune is a broadcast chain;
    * supplier attributes ride the filtered offer slice. */
  def cheapestRegionalSupplier(s: SparkSession, dir: String): DataFrame = {
    val eurSupp = T(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
      .join(broadcast(T(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
        .join(broadcast(T(s, dir, "region").filter(col("r_name") === "EUROPE")
          .select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val offers = T(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("__unit"))
      .join(T(s, dir, "part").filter(col("p_size") === 15).select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .join(eurSupp.select("s_suppkey"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("__unit")).as("unit_cost"))
    offers
      .withColumn("__min_cost",
        min(col("unit_cost")).over(Window.partitionBy("l_partkey")))
      .filter(col("unit_cost") === col("__min_cost"))
      .join(eurSupp, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("p_partkey"), col("s_name"),
        col("n_name"), col("s_acctbal"), col("unit_cost"))
      .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"), col("p_partkey"))
  }

  /** TPC-H Q16 shape (supplier mix per part class): distinct suppliers
    * shipping each (brand, type, size) class, excluding one brand + one
    * type (the `<>` pushdowns) and excluding flagged suppliers — Q16's
    * `NOT IN (complaints)` stated as a LEFT ANTI join against the
    * negative-balance supplier slice (6 rows here, schema-bounded ⇒
    * broadcast anti). The part↔supplier link is the observed lineitem
    * pairs; the distinct-count rolls up AFTER the anti-join so excluded
    * suppliers never inflate the count. */
  def supplierMix(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select("l_partkey", "l_suppkey")
      .join(T(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO")
        .select("p_partkey", "p_brand", "p_type", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(T(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("__bad_supp"))),
        col("l_suppkey") === col("__bad_supp"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))

  /** TPC-H Q20 shape (dominant part suppliers): suppliers who shipped more
    * than 30% of a product family's 1996 volume for some part (the
    * dataset has no partsupp availqty, so Q20's "excess stock" threshold
    * becomes a volume-share threshold — same nested-aggregate + semi-join
    * shape). The per-part total is a WINDOW over the per-(part, supplier)
    * rollup — one fact scan, one rollup, no self-join of the aggregate
    * subtree (the groupBy-rejoin form scans lineitem twice); the share
    * test compares once-cast doubles of exact DECIMAL sums, and the
    * supplier dimension is probed with a LEFT SEMI join on the few
    * dominant suppkeys — never an inner join + distinct. */
  def dominantSuppliers(s: SparkSession, dir: String): DataFrame = {
    val red1996 = T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_partkey", "l_suppkey", "l_quantity")
      .join(T(s, dir, "part").filter(col("p_name").like("%red%"))
        .select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
    val dominant = red1996
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("__sq"))
      .withColumn("__tq",
        sum(col("__sq")).over(Window.partitionBy("l_partkey")))
      .filter(col("__sq").cast("double") > col("__tq").cast("double") * lit(0.3))
      .select("l_suppkey")
    T(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey")
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(T(s, dir, "nation").select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
      .orderBy("s_name", "s_suppkey")
  }

  /** TPC-H Q11 shape (important stock): parts whose inventory value —
    * held by one region's suppliers — concentrates above the corpus mean
    * (the dataset has no partsupp, so value is derived from observed
    * shipments; TPC-H's 0.0001/SF share threshold is restated
    * scale-free as "> 1.5× the mean per-part value" so the query is
    * non-degenerate at every SF). The per-part rollup feeds BOTH the
    * filter probe and the 1-row total/count anchor; explicit isnotnull
    * on the join/group keys keeps the two consumers canonically
    * identical, so the region-pruned fact scan + rollup evaluate ONCE
    * (ReusedExchange) and the anchor broadcasts back as a 1×n stream —
    * the q116/q129 global-anchor pattern, never a shuffle. Completes
    * the 22/22 TPC-H shape coverage. */
  def importantStock(s: SparkSession, dir: String): DataFrame = {
    val eur = T(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(T(s, dir, "nation").select("n_nationkey", "n_regionkey")
        .join(broadcast(T(s, dir, "region").filter(col("r_name") === "EUROPE")
          .select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val value = T(s, dir, "lineitem")
      .filter(col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(eur, col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).as("__val"))
    val anchor = value.agg(sum(col("__val")).as("__tot"),
      count(lit(1)).as("__cnt"))
    value
      .join(broadcast(anchor))
      .filter(col("__val").cast("double") >
        lit(1.5) * (col("__tot").cast("double") / col("__cnt").cast("double")))
      .select(col("l_partkey").as("p_partkey"),
        col("__val").cast("double").as("stock_value"))
      .orderBy(desc("stock_value"), col("p_partkey"))
  }

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

  /** Edit-distance similarity join over document title prefixes
    * ([[graft.operators.EditDistance.editDistancePairs]], Pass-Join segment
    * pigeonhole): every document pair whose 32-char prefix is within
    * levenshtein 2 — the fuzzy-title dedup a crawl pipeline runs on
    * near-identical headlines/URLs, EXACT output (candidates from the
    * segment equi-join can only over-generate; the bounded levenshtein
    * keeps true pairs), never an all-pairs scan. */
  def editDistJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.EditDistance.editDistancePairs(
      T(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 32).as("prefix")),
      "doc_id", "prefix", k = 2)
      .orderBy("id_a", "id_b")

  /** Linear-interpolation resample ([[graft.operators.TimeSeries
    * .interpolate]]): each user's daily mean event value densified to one
    * row per day with gap days LERPed between the surrounding observations
    * — the drifting-quantity sibling of q95's forward fill (rates/gauges
    * vs states). Observed means are DECIMAL-sum / count; the interpolant
    * is one fixed-order IEEE chain on values both engines derive
    * identically, so the oracle compares bit-exact without rounding. */
  def interpolateDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"),
        col("value"))
      .groupBy("user_id", "day")
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double")).as("mean_value"))
    graft.operators.TimeSeries.interpolate(
      daily, Seq("user_id"), "day", "mean_value")
      .select("user_id", "day", "mean_value", "observed")
      .orderBy("user_id", "day")
  }

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

  /** Damped PageRank over the events transition graph
    * ([[graft.operators.PageRank.run]]): nodes are the `props.k` entity
    * keys, edges the per-user consecutive-event transitions (weight =
    * transition count), 3 fixed iterations at d = 0.85 — the crawl-graph
    * centrality prior re-expressed over the stream the testdata has. All
    * arithmetic is +,*,/ in pinned fold order, but three chained iterations
    * still drift by an ulp between engines (observed at sf0.001), so the
    * final rank rounds to 12dp on both sides — absolute 5e-13 slack against
    * ranks of ~1e-2, the q94 rounding policy. */
  def pageRankQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.PageRank.run(eventsTransitionEdges(s, dir),
      iters = 3, damping = 0.85)
      .select(col("node"), round(col("rank"), 12).as("rank"))
      .orderBy("node")

  /** The per-user consecutive-event transition graph q140/q146 rank:
    * nodes are `props.k` entity keys, edge weight = transition count. */
  private def eventsTransitionEdges(s: SparkSession, dir: String,
      before: Option[String] = None): DataFrame = {
    val ev0 = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("node"))
      .filter(col("node").isNotNull)
    val ev = before.fold(ev0)(c => ev0.filter(col("ts") < lit(c).cast("timestamp")))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.select(col("node").as("src"), lead(col("node"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** ONE-SCAN (today, yesterday) TRANSITION GRAPHS (r17, guide §2.3/§2.4) —
    * the yesterday-vs-today maintenance queries (q199/q219/q221/q222/q226)
    * each built BOTH graphs with [[eventsTransitionEdges]], paying the
    * events scan + JSON parse + per-user window sort + edge rollup TWICE
    * per query. The cutoff graph is derivable from ONE pass: events with
    * `ts < cutoff` are a PREFIX of each user's (ts, event_id)-ordered
    * timeline, so a consecutive pair of the cutoff timeline is EXACTLY a
    * consecutive pair of the full timeline whose SECOND event precedes the
    * cutoff (the second event bounds the pair: everything ordered between
    * the two has ts ≤ dst.ts < cutoff, and a pair losing its successor to
    * the cutoff simply has no pair in the prefix). One window pass emits
    * (src, dst, dst_ts); one rollup counts both weights
    * (w = count, w_yesterday = count where dst_ts < cutoff) — one scan,
    * one window sort, ONE shuffle where there were two of each. The
    * aggregated frame is edge-sized and checkpointed inside the query
    * (never across runs), so both downstream graphs read it directly.
    * Outputs are value-identical to the two [[eventsTransitionEdges]]
    * calls (oracle-verified at all SFs after the change). */
  private def eventsTransitionEdgesSplit(s: SparkSession, dir: String,
      cutoff: String): (DataFrame, DataFrame) = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("node"))
      .filter(col("node").isNotNull)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val agg = Loops.checkpoint(ev.select(col("node").as("src"),
        lead(col("node"), 1).over(w).as("dst"),
        lead(col("ts"), 1).over(w).as("__dts"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"),
        sum(when(col("__dts") < lit(cutoff).cast("timestamp"), 1L)
          .otherwise(0L)).as("__wy")), eager = true)
    (agg.select("src", "dst", "w"),
      agg.filter(col("__wy") > 0)
        .select(col("src"), col("dst"), col("__wy").as("w")))
  }

  /** [[affinityTopEdges]] for today AND the `cutoff` graph from the
    * [[eventsTransitionEdgesSplit]] single pass — the rank windows run on
    * the edge-aggregated (tiny) frames, so the expensive base is shared. */
  private def affinityTopEdgesSplit(s: SparkSession, dir: String,
      cutoff: String, n: Int = 3): (DataFrame, DataFrame) = {
    val (t, y) = eventsTransitionEdgesSplit(s, dir, cutoff)
    def top(w: DataFrame): DataFrame = w.filter(col("src") =!= col("dst"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("src").orderBy(col("w").desc, col("dst"))))
      .filter(col("__rn") <= n)
      .select("src", "dst")
    (top(t), top(y))
  }

  /** INCREMENTAL PAGERANK maintenance
    * ([[graft.operators.PageRank.runFrom]], the Desikan-et-al. WWW'05
    * daily-refresh family): yesterday's ranks = 3 production-mode
    * iterations over the DAY-1 transition graph; today's refresh = 3 more
    * iterations over the FULL graph warm-started from them, nodes the
    * delta introduced at the uniform share (LIVE at sf0.001 — day 1 has
    * only 29 of the 100 nodes — the q190 both-branches discipline). The
    * whole chain is a pure function of (old graph, new graph), so the
    * oracle replays all SIX damped layers (3 cold + the coalesce hand-off
    * + 3 warm) in one CTE chain — the q161 training-replay class applied
    * to graph-state maintenance; 9dp absorbs the sum-fold drift (the q146
    * policy). Why warm-start is the policy: GraphSearchSpec asserts
    * warm-k lands closer to the new fixpoint than cold-k. */
  def pageRankIncremental(s: SparkSession, dir: String): DataFrame = {
    // r17: both weighted graphs from the one-scan split (see
    // eventsTransitionEdgesSplit — w_yesterday counts the prefix pairs)
    val (tE, yE) = eventsTransitionEdgesSplit(s, dir, "2024-01-02")
    val prev = graft.operators.PageRank.run(
      yE, iters = 3, damping = 0.85, deterministic = false)
    graft.operators.PageRank.runFrom(
        tE, prev, iters = 3, damping = 0.85, deterministic = false)
      .select(col("node"), round(col("rank"), 9).as("rank"))
      .orderBy("node")
  }

  /** The q199 oracle: the q146 sum-fold layer machinery twice — 3 cold
    * layers over the day-1 graph from uniform, the coalesce(prev, 1/N)
    * warm hand-off over the full node set, 3 warm layers over the full
    * graph. */
  private def pageRankIncrementalOracleSql(dp: Int, cutoff: String): String = {
    // one damped layer: contribs + dangling + the recombination, over the
    // graph tables `$g` (edges), `${g}ow`, `${g}nd`, `${g}nn`
    def layer(g: String, name: String, prev: String): String =
      s"""c$name AS (SELECT e.dst AS node,
         |         sum((r.rank * CAST(e.w AS DOUBLE)) / CAST(o.ow AS DOUBLE)) AS s
         |       FROM $g e JOIN $prev r ON r.node = e.src
         |         JOIN ${g}ow o ON o.src = e.src
         |       GROUP BY e.dst),
         |d$name AS (SELECT coalesce(sum(r.rank), 0.0) AS dm
         |       FROM $prev r LEFT JOIN ${g}ow o ON o.src = r.node
         |       WHERE o.src IS NULL),
         |$name AS (SELECT nd.node,
         |         ((1.0 - 0.85) / CAST(nn.n AS DOUBLE))
         |         + (0.85 * (d.dm / CAST(nn.n AS DOUBLE)))
         |         + (0.85 * coalesce(c.s, 0.0)) AS rank
         |       FROM ${g}nd nd CROSS JOIN ${g}nn nn CROSS JOIN d$name d
         |         LEFT JOIN c$name c ON c.node = nd.node)""".stripMargin
    def graph(g: String, filter: String): String =
      s"""tr$g AS (
         |  SELECT node AS src,
         |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM ev WHERE node IS NOT NULL$filter),
         |$g AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |      FROM tr$g WHERE dst IS NOT NULL GROUP BY 1, 2),
         |${g}nd AS (SELECT DISTINCT node FROM
         |        (SELECT src AS node FROM $g UNION ALL SELECT dst FROM $g)),
         |${g}nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ${g}nd),
         |${g}ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM $g GROUP BY 1)""".stripMargin
    val cold = (1 to 3).map(k =>
      layer("ga", s"a$k", if (k == 1) "a0" else s"a${k - 1}")).mkString(",\n")
    val warm = (1 to 3).map(k =>
      layer("gb", s"b$k", if (k == 1) "b0" else s"b${k - 1}")).mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS node
       |  FROM events),
       |${graph("ga", s" AND ts < TIMESTAMP '$cutoff'")},
       |${graph("gb", "")},
       |a0 AS (SELECT nd.node, (1.0 / CAST(nn.n AS DOUBLE)) AS rank
       |       FROM gand nd CROSS JOIN gann nn),
       |$cold,
       |b0 AS (SELECT nd.node,
       |         coalesce(a3.rank, 1.0 / CAST(nn.n AS DOUBLE)) AS rank
       |       FROM gbnd nd CROSS JOIN gbnn nn
       |         LEFT JOIN a3 ON a3.node = nd.node),
       |$warm
       |SELECT node, round(rank, $dp) AS rank FROM b3 ORDER BY node""".stripMargin
  }

  /** q140's PRODUCTION-mode twin ([[graft.operators.PageRank.run]] with
    * `deterministic = false`): identical graph, identical semantics, but
    * both per-iteration folds are plain partial-aggregable `sum`s — O(1)
    * aggregation buffers at every stage, map-side combined, the shape you'd
    * run on a power-law crawl graph where q140's sorted-fold buffer grows
    * with the hottest in-degree (the builder's own hub ramp measured
    * in-degree 2M: det 9.95 s vs sum 4.79 s, gap widening). The sum/det
    * drift is bounded well under 1e-9 (GraphSearchSpec asserts it on a
    * hub+dangling+cycle graph), so rounding to 9dp absorbs it and the SAME
    * DuckDB CTE oracle (restated at 9dp) hash-matches — the driver verifies
    * the plan you'd actually run at 100×, not only the oracle-friendly
    * fold. Boundary stability: no rank sits within 1e-9 of a 9dp rounding
    * edge at any tested SF (checked like every rounded-cutoff query). */
  def pageRankProdQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.PageRank.run(eventsTransitionEdges(s, dir),
      iters = 3, damping = 0.85, deterministic = false)
      .select(col("node"), round(col("rank"), 9).as("rank"))
      .orderBy("node")

  /** Multi-source BFS over the events transition graph
    * ([[graft.operators.Bfs.distances]]): hop distance from the seed set
    * (entity keys divisible by 7) to every reachable node — the seed-set
    * distance labeling of TrustRank-style quality propagation and
    * contamination blast-radius sweeps, on the same graph q140/q146 rank.
    * Distances are exact integers (hop counts), so the whole result is
    * engine-exact; the DuckDB oracle is the depth-capped recursive CTE with
    * `min(d)` per node (UNION-dedup on (node, d) + the depth cap make the
    * recursion finite on cyclic graphs). maxDepth 20 ≫ the transition
    * graph's diameter at every SF — the cap never binds, it only bounds the
    * pathological case. */
  def graphBfs(s: SparkSession, dir: String): DataFrame = {
    val edges = eventsTransitionEdges(s, dir).select("src", "dst")
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    graft.operators.Bfs.distances(edges,
      nodes.filter(col("node") % 7 === 0), maxDepth = 20)
      .orderBy("node")
  }

  /** Harmonic centrality from the landmark set
    * ([[graft.operators.Bfs.harmonicCentrality]], Boldi & Vigna 2014 — the
    * family Common Crawl actually ranks hosts by): Σ 1/d(root, node) over
    * the q152 landmark set, per-source distances from the landmark BFS.
    * Every 1/d is an exact IEEE division and terms fold in sorted root
    * order on both engines (the q140 contract), so the sums are
    * bit-identical; 12dp rounding guards the comparison like every
    * float-emitting row. */
  def harmonicCentralityQ(s: SparkSession, dir: String): DataFrame = {
    val edges = eventsTransitionEdges(s, dir).select("src", "dst")
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    graft.operators.Bfs.harmonicCentrality(edges,
      nodes.filter(col("node") % 7 === 0), maxDepth = 20)
      .select(col("node"), round(col("harmonic"), 12).as("harmonic"))
      .orderBy("node")
  }

  /** Per-node exact triangle counts over the (undirected) transition graph
    * ([[graft.operators.Triangles.perNode]], degree-ordered orientation) —
    * the local-clustering / link-farm signal beside q140's centrality and
    * q152's reachability. Exact integers end-to-end; the oracle restates
    * the identical orientation construction relationally (row-value
    * comparisons mirror the struct order). */
  def triangleCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Triangles.perNode(
      eventsTransitionEdges(s, dir).select("src", "dst"))
      .orderBy("node")

  /** PERSONALIZED PageRank from the landmark seed set
    * ([[graft.operators.PageRank.runPersonalized]], the TrustRank family —
    * Gyöngyi et al. VLDB'04): teleport uniform over the q152/q154 seed set
    * (entity keys divisible by 7), production sum-fold mode, 3 iterations
    * at d = 0.85 — rank mass flows OUTWARD from the seeds, so nodes the
    * seeds cannot reach converge to 0 (the personalization point; the
    * quality-propagation prior beside q154's harmonic distances). 9dp
    * rounding against the seeded CTE oracle, the q146 policy. */
  def pageRankPersonalizedQ(s: SparkSession, dir: String): DataFrame = {
    val edges = eventsTransitionEdges(s, dir)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    graft.operators.PageRank.runPersonalized(edges,
      nodes.filter(col("node") % 7 === 0), iters = 3, damping = 0.85)
      .select(col("node"), round(col("rank"), 9).as("rank"))
      .orderBy("node")
  }

  /** The number of Bellman–Ford layers the q172 oracle unrolls. The Spark
    * side asserts its converged round count fits UNDER this depth at every
    * run — measured 6–8 waves across the three SFs (the transition graph
    * is small-world; q152's hop diameter never reached its cap of 20
    * either), so 24 carries a 3× margin. */
  private val SsspOracleLayers = 24

  /** Multi-source WEIGHTED shortest path over the events transition graph
    * ([[graft.operators.Sssp.distances]], min-plus Bellman–Ford): cheapest
    * total-weight path from the q152 seed set (entity keys divisible
    * by 7), edge weight = the exact per-edge transition count q140 ranks
    * by — a deterministic positive integer weight derived from the data,
    * exercising the one graph primitive hop-BFS cannot express (a
    * cheaper-but-longer path must beat a shorter-hop expensive one).
    * Distances are exact longs end-to-end, so the whole result is
    * engine-exact; the DuckDB oracle unrolls [[SsspOracleLayers]]
    * Bellman–Ford relaxation layers (each layer = relax every edge once +
    * `min` merge — monotone, so any depth ≥ the converged wave count
    * yields the identical fixpoint), and the query REQUIRES the Spark
    * loop's converged round count to fit under that depth — the
    * fixed-unroll twin of q146's iteration-for-iteration CTE replay. */
  def graphSssp(s: SparkSession, dir: String): DataFrame = {
    val edges = eventsTransitionEdges(s, dir)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    val (d, rounds) = graft.operators.Sssp.distancesWithRounds(
      edges, nodes.filter(col("node") % 7 === 0),
      maxRounds = 2 * SsspOracleLayers)
    // rounds < maxRounds means the LAST round improved nothing — the
    // fixpoint; it needed rounds-1 relaxation waves, which must fit the
    // oracle's unroll depth for the layer chain to reach the same fixpoint
    require(rounds < 2 * SsspOracleLayers && rounds - 1 <= SsspOracleLayers,
      s"SSSP needed $rounds rounds — raise SsspOracleLayers ($SsspOracleLayers)")
    d.orderBy("node")
  }

  /** The q172 oracle: unrolled Bellman–Ford over the q152 base-graph CTEs
    * with the edge COUNT kept as the weight — `layers` relax-and-min-merge
    * layers, each node-sized. All integer arithmetic. Every CTE is
    * MATERIALIZED: each layer references its predecessor twice, and
    * DuckDB's default CTE inlining would otherwise expand the chain
    * exponentially (2^layers scans of the base table). */
  private def ssspOracleSql(layers: Int): String = {
    val base =
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, ts, event_id,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
        |  FROM events),
        |tr AS MATERIALIZED (
        |  SELECT node AS src,
        |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM ev WHERE node IS NOT NULL),
        |e AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
        |      FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
        |nd AS MATERIALIZED (SELECT DISTINCT node FROM
        |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |d0 AS MATERIALIZED (
        |  SELECT node, CAST(0 AS BIGINT) AS d FROM nd WHERE node % 7 = 0)""".stripMargin
    val chain = (1 to layers).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, min(d) AS d FROM (
         |    SELECT node, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.d + e.w AS d
         |    FROM d${i - 1} p JOIN e ON e.src = p.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$chain\nSELECT node, CAST(d AS BIGINT) AS dist FROM d$layers ORDER BY node"
  }

  /** The TOP-3 AFFINITY graph for q175/q176: per source node, its 3
    * strongest transition neighbors by (count desc, dst) — the kNN-graph
    * construction every similarity/link pipeline builds before community
    * or core analysis. The point of the rank cap: the RAW transition graph
    * densifies with data volume (it is literally complete — K100 — at
    * sf0.1, where every microstructure signal degenerates to the clique
    * value), while a rank-k graph is degree-bounded BY CONSTRUCTION, so
    * core/clustering structure stays meaningful at any corpus scale — the
    * same reason production ANN/affinity pipelines core the kNN graph, not
    * the raw co-occurrence matrix. Ranking is a total order (count desc,
    * dst) — both engines pick identical edges. */
  private[graft] def affinityTopEdges(s: SparkSession, dir: String,
      n: Int = 3, before: Option[String] = None): DataFrame = {
    val w = eventsTransitionEdges(s, dir, before)
      .filter(col("src") =!= col("dst"))
    w.withColumn("__rn", row_number().over(
        Window.partitionBy("src").orderBy(col("w").desc, col("dst"))))
      .filter(col("__rn") <= n)
      .select("src", "dst")
  }

  /** The q175/q176 oracle base: the identical top-3 affinity construction
    * in DuckDB, ending in `und(u, v)` canonical undirected edges. */
  private val affinityEdgesCte: String =
    """ev AS MATERIALIZED (
      |  SELECT user_id, ts, event_id,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
      |  FROM events),
      |tr AS MATERIALIZED (
      |  SELECT node AS src,
      |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM ev WHERE node IS NOT NULL),
      |wts AS MATERIALIZED (
      |  SELECT src, dst, count(*) AS w FROM tr
      |  WHERE dst IS NOT NULL AND src <> dst GROUP BY 1, 2),
      |top3 AS MATERIALIZED (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
      |    FROM wts) WHERE rn <= 3),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM top3)""".stripMargin

  /** Per-node LOCAL CLUSTERING COEFFICIENT over the top-3 affinity graph
    * ([[graft.operators.Triangles.localClustering]] over
    * [[affinityTopEdges]]): 2·triangles / (deg·(deg−1)) — q155's raw
    * counts normalized into the Watts–Strogatz microstructure signal
    * (link farms cluster near 1, organic graphs sit low), computed on the
    * degree-bounded kNN graph where the signal stays meaningful at every
    * SF (the raw transition graph is complete at sf0.1 — every
    * coefficient would be the clique 1.0). Counts and degrees are exact
    * longs and the coefficient is ONE IEEE division of
    * exactly-representable integers — the same correctly-rounded double
    * in both engines — so the row needs NO rounding. */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame =
    graft.operators.Triangles.localClustering(affinityTopEdges(s, dir))
      .orderBy("node")

  /** The k (and unroll depth) for q176: on the degree-bounded affinity
    * graph the 4-core forces REAL peel cascades at every SF (measured 4–6
    * waves, cores of 55/85/91 nodes at the three SFs — the 3-core keeps
    * everything, out-degree is 3 by construction), so 16 layers carry a
    * ~3× margin; the Spark loop asserts its converged count fits. */
  private val KCoreK = 4
  private val KCoreOracleLayers = 16

  /** k-CORE membership over the top-3 affinity graph
    * ([[graft.operators.KCore.core]] over [[affinityTopEdges]], iterative
    * peeling): every node of the 4-core with its in-core degree — the
    * graph-robustness quality feature beside q175's local clustering
    * (spam rings live in dense cores; weakly-attached fringe peels away
    * in cascades). Degrees are exact longs end-to-end, so the result is
    * engine-exact; the DuckDB oracle unrolls [[KCoreOracleLayers]] peel
    * layers (each = degree rollup → keep nodes ≥ k → keep edges with both
    * endpoints kept — monotone, so any depth ≥ the converged wave count
    * yields the identical fixpoint), and the query REQUIRES the Spark
    * loop's converged round count to fit under that depth — the q172
    * fixed-unroll contract. */
  def kcoreMembers(s: SparkSession, dir: String): DataFrame = {
    val (core, rounds) = graft.operators.KCore.coreWithRounds(
      affinityTopEdges(s, dir),
      k = KCoreK, maxRounds = 2 * KCoreOracleLayers)
    // the loop's final round removed nothing — the fixpoint; it needed
    // rounds-1 effective peels, which must fit the oracle's unroll depth
    require(rounds - 1 <= KCoreOracleLayers,
      s"k-core needed $rounds rounds — raise KCoreOracleLayers ($KCoreOracleLayers)")
    core.orderBy("node")
  }

  /** INCREMENTAL k-core maintenance ([[graft.operators.KCore.maintain]]) —
    * the q186/q199 state-maintenance pattern applied to the PEEL family:
    * yesterday's graph (canonical affinity edges with (u+v) % 5 ≠ 0) is
    * cored once, then TODAY'S full edge set updates that membership via
    * certify-then-grow — the certification is a one-round no-op here
    * (insert-only deltas keep the old core valid: k-core is monotone under
    * edge addition — asserted in-query), and the grow phase peels only the
    * uncertified candidate neighborhood, never history. The oracle is
    * q176's FULL-recompute unrolled peel chain VERBATIM over the complete
    * graph: the incremental result must be indistinguishable from
    * re-peeling from scratch (the q186 output-invariance discipline);
    * q176, green on the same graph and k every round, pins that the
    * from-scratch wave count fits the shared unroll depth. Deletion
    * cascades and evictee re-entry are exercised in GraphSearchSpec (the
    * operator is sound under arbitrary deltas); `tools/RampProbe5.scala`
    * at `0ab6ae2` measured the incremental-vs-full crossover on a 10×
    * history ramp. */
  def kcoreIncremental(s: SparkSession, dir: String): DataFrame = {
    // r17: ONE events scan — und feeds the old build, the delta, and the
    // maintenance entry (each re-derived it from the raw scan before)
    val und = Loops.checkpoint(affinityTopEdges(s, dir)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = true)
    // r18: the filters of the canonical frame stay canonical — peel and
    // maintenance run directly on them (no re-distinct + checkpoint)
    val oldEdges = und.filter(pmod(col("u") + col("v"), lit(5)) =!= 0)
    val newEdges = und.filter(pmod(col("u") + col("v"), lit(5)) === 0)
      .select(col("u").as("src"), col("v").as("dst"))
    val oldCore = graft.operators.KCore.peel(oldEdges, k = KCoreK,
      maxRounds = 2 * KCoreOracleLayers)._1
    // prevCanon: the peel membership is one row per node by construction —
    // the maintain's re-distinct + checkpoint of it is pure waste (r18b)
    val (core, (certifyRounds, _)) = graft.operators.KCore.maintainCanon(
      und, oldCore.select("node"), k = KCoreK,
      maxRounds = 2 * KCoreOracleLayers, delta = Some(newEdges),
      prevCanon = true)
    require(certifyRounds <= 1,
      s"q202 is an insert-only delta — certify must be a one-round no-op " +
        s"check, ran $certifyRounds")
    core.orderBy("node")
  }

  /** The q219 yesterday cutoff: the q199 day-cutoff pattern placed
    * MID-CORPUS (events span 2024-01-01..30), where a rank-3 affinity
    * graph has genuinely churned — measured 125–194 edge deletions and
    * 136–190 insertions at the three SFs, with 8–24 old-core evictions
    * and 9–13 re-entries. */
  private val KCoreChurnCutoff = "2024-01-16"

  /** CHURN k-core maintenance — [[kcoreIncremental]]'s missing half in a
    * REGISTERED row: q202's split delta is insert-only by construction
    * (its certify is asserted a no-op), so deletion cascades and evictee
    * re-entry were exercised only in specs. Here yesterday's state is the
    * real prior graph — the top-3 affinity graph over events before
    * [[KCoreChurnCutoff]] — and today's is the full-corpus graph: a
    * rank-3 cutoff CHURNS as counts accumulate (an edge that falls out of
    * a node's top 3 is a deletion), so the exact symmetric difference
    * carries both directions at every SF and certify must actually
    * cascade evictions while grow re-admits re-entrants. The oracle is
    * q176's full-recompute peel chain VERBATIM over today's graph — the
    * q202 output-invariance discipline with the HARD half of the IVM
    * contract (arbitrary deltas) live in the artifact. In-query requires
    * pin the premise loudly: both delta directions non-empty (1-row
    * bounded probes, the bounded-anchor pattern) — a drifted cutoff that
    * degenerated the row to insert-only would fail, not silently weaken
    * back to q202. */
  def kcoreChurn(s: SparkSession, dir: String): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // r17: both graphs from the one-scan split (one events scan + window
    // + rollup instead of two — see eventsTransitionEdgesSplit)
    val (tE, yE) = affinityTopEdgesSplit(s, dir, KCoreChurnCutoff)
    val today = Loops.checkpoint(canon(tE), eager = true)
    val yesterday = Loops.checkpoint(canon(yE), eager = true)
    val inserts = today.join(yesterday, Seq("u", "v"), "left_anti")
    val deletes = yesterday.join(today, Seq("u", "v"), "left_anti")
    require(!inserts.isEmpty && !deletes.isEmpty,
      s"q219 premises a MIXED delta (cutoff $KCoreChurnCutoff) — one " +
        "direction is empty, so the row no longer exercises deletions")
    val delta = inserts.unionByName(deletes)
      .select(col("u").as("src"), col("v").as("dst"))
    // r18: today/yesterday are already canonical + materialized — peel and
    // maintenance run directly on them
    val oldCore = graft.operators.KCore.peel(
      yesterday, k = KCoreK, maxRounds = 2 * KCoreOracleLayers)._1
    graft.operators.KCore.maintainCanon(
        today, oldCore.select("node"), k = KCoreK,
        maxRounds = 2 * KCoreOracleLayers, delta = Some(delta),
        prevCanon = true)._1 // peel membership is distinct by construction
      .orderBy("node")
  }

  /** STREAMED k-core maintenance — the lifecycle's third leg after the
    * batch compute (q176) and the daily-delta refresh (q202): the top-3
    * affinity edges arrive as CONTINUOUS INGEST (4+ parquet micro-batches,
    * one file per trigger), and `foreachBatch` keeps the k-core current by
    * applying [[graft.operators.KCore.maintain]] with each micro-batch as
    * the declared insert-only delta against the accumulated edge set —
    * per batch: one no-op certify over the current core plus a grow pass
    * over the BATCH's closed neighborhood, never a from-scratch re-peel
    * of the accumulated history (the q198 streamed-state discipline
    * applied to graph state). The k-core is a pure function of the edge
    * SET, so the streamed fixpoint equals the batch core EXACTLY
    * regardless of how the files split — the q176 full-recompute oracle
    * verifies the final maintained state VERBATIM (q202's
    * output-invariance argument extended to continuous maintenance).
    * Bench-excluded: a registered streaming query prices the micro-batch
    * harness, not engine throughput. */
  /** Rebuild a materialized frame from its RDD, DROPPING carried plan
    * statistics. `localCheckpoint` preserves origin stats, and inside
    * `foreachBatch` AQE is off, so join-multiplied sizeInBytes estimates
    * compound EXPONENTIALLY across maintenance batches — measured by
    * `tools/ProbeStats.scala` at `0ab6ae2`, sf0.001: 1.2k → 148k → 8.5M BITS of
    * BigInteger per optimizer stats pass, the fourth batch spending 20+
    * minutes inside Toom-Cook multiplication. Resetting to the 63-bit
    * leaf default at every batch boundary keeps each batch's optimizer
    * pass flat (5–9 s/batch in the probe). Streaming bridges only —
    * batch queries keep real origin stats (AQE replans from materialized
    * sizes each stage, so nothing compounds there). */
  private def freshStats(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  def streamKcoreMaintain(s: SparkSession, dir: String): DataFrame = {
    val edges = affinityTopEdges(s, dir).select("src", "dst")
    val src = java.nio.file.Files.createTempDirectory("q208_src").toString
    edges.repartition(4).write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(edges.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    var acc: DataFrame = null
    var core: DataFrame = s.range(0).select(col("id").as("node"))
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val b = freshStats(Loops.checkpoint(batch, eager = true))
        if (!b.isEmpty) {
          acc = freshStats(Loops.checkpoint(
            if (acc == null) b else acc.unionByName(b), eager = true))
          core = freshStats(Loops.checkpoint(graft.operators.KCore.maintain(
              acc, core.select("node"), k = KCoreK,
              maxRounds = 2 * KCoreOracleLayers, delta = Some(b)), eager = true))
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    deleteDirTree(src)
    core.orderBy("node")
  }

  /** STREAMED k-truss maintenance — q208's foreachBatch bridge over
    * [[graft.operators.Truss.maintain]]: the top-8 affinity edges arrive
    * as continuous ingest (4 parquet micro-batches) and each batch
    * updates the truss EDGE membership via certify-then-grow with the
    * batch as the declared insert-only delta — per batch the certify is
    * a no-op check over yesterday's truss and the grow peels only the
    * batch's delta-closed candidate edges, never re-enumerating history's
    * triangles. The k-truss is a pure function of the edge SET, so the
    * streamed fixpoint equals the batch truss EXACTLY regardless of file
    * splits — q195's full-recompute oracle verifies the final maintained
    * state VERBATIM (the q202/q208 output-invariance argument, third
    * reuse of the q195 chain). Bench-excluded: a registered streaming
    * query prices the micro-batch harness, not engine throughput. */
  def streamTrussMaintain(s: SparkSession, dir: String): DataFrame = {
    val edges = affinityTopEdges(s, dir, n = 8).select("src", "dst")
    val src = java.nio.file.Files.createTempDirectory("q215_src").toString
    edges.repartition(4).write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(edges.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    var acc: DataFrame = null
    var truss: DataFrame =
      s.range(0).select(col("id").as("u"), col("id").as("v"))
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val b = freshStats(Loops.checkpoint(batch, eager = true))
        if (!b.isEmpty) {
          acc = freshStats(Loops.checkpoint(
            if (acc == null) b else acc.unionByName(b), eager = true))
          truss = freshStats(Loops.checkpoint(graft.operators.Truss.maintain(
              acc, truss.select("u", "v"), k = TrussK, maxRounds = 50,
              delta = Some(b)), eager = true))
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    deleteDirTree(src)
    truss.orderBy("u", "v")
  }

  /** STREAMED SCC maintenance — the q208 bridge over
    * [[graft.operators.Scc.maintain]], closing the DIRECTED leg of the
    * streamed graph lifecycle: each micro-batch of top-3 affinity edges
    * refreshes the strongly-connected labeling — certification is free
    * per batch (insert-only deltas have no dirty classes), every carried
    * class contracts to one node, and the coloring runs on the
    * CONDENSATION graph only. SCC labels are a pure function of the edge
    * set (scc = min member id), so the streamed fixpoint equals the
    * batch labeling EXACTLY — q188's depth-free recursive-closure oracle
    * verifies the final maintained state VERBATIM (the q204
    * output-invariance argument, continuously). Bench-excluded (the
    * streaming-harness rule). */
  def streamSccMaintain(s: SparkSession, dir: String): DataFrame = {
    val edges = affinityTopEdges(s, dir)
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    val src = java.nio.file.Files.createTempDirectory("q216_src").toString
    edges.repartition(4).write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(edges.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    var acc: DataFrame = null
    var scc: DataFrame = s.range(0).select(col("id"), col("id").as("scc"))
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val b = freshStats(Loops.checkpoint(batch, eager = true))
        if (!b.isEmpty) {
          acc = freshStats(Loops.checkpoint(
            if (acc == null) b else acc.unionByName(b), eager = true))
          scc = freshStats(Loops.checkpoint(graft.operators.Scc.maintain(
              acc, scc, maxRounds = 50, delta = Some(b)), eager = true))
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    deleteDirTree(src)
    scc.select(col("id").as("node"), col("scc").as("scc_id"))
      .orderBy("node")
  }

  /** STREAMED coreness maintenance — the streaming leg for the GRADED
    * shell decomposition, completing the family (q208 k-core, q215
    * truss, q216 SCC): affinity edges arrive as continuous ingest and
    * each micro-batch re-grades every shell via [[graft.operators.KCore
    * .corenessMaintain]] (one per-level certify-then-grow pass with the
    * batch as the declared insert-only delta, carried coreness as the
    * per-level old cores through the nesting property). Coreness is a
    * pure function of the edge SET, so the streamed fixpoint equals the
    * batch grading EXACTLY regardless of file splits — q209's
    * nested-chain oracle verifies the final maintained state VERBATIM
    * (fourth reuse of the output-invariance argument). Stats reset per
    * batch boundary ([[freshStats]], the blowup `tools/ProbeStats.scala`
    * at `0ab6ae2` measured). Bench-
    * excluded: a registered streaming query prices the micro-batch
    * harness, not engine throughput. */
  def streamCorenessMaintain(s: SparkSession, dir: String): DataFrame = {
    val edges = affinityTopEdges(s, dir).select("src", "dst")
    val src = java.nio.file.Files.createTempDirectory("q223_src").toString
    edges.repartition(4).write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(edges.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    var acc: DataFrame = null
    var shells: DataFrame = s.range(0)
      .select(col("id").as("node"), col("id").as("coreness"))
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val b = freshStats(Loops.checkpoint(batch, eager = true))
        if (!b.isEmpty) {
          acc = freshStats(Loops.checkpoint(
            if (acc == null) b else acc.unionByName(b), eager = true))
          shells = freshStats(Loops.checkpoint(
            graft.operators.KCore.corenessMaintain(
              acc, shells, delta = Some(b), maxK = 2 * CorenessMaxK,
              maxRounds = 2 * CorenessLayers), eager = true))
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    deleteDirTree(src)
    shells.orderBy("node")
  }

  /** q209's oracle bounds: chains for k = 2..[[CorenessMaxK]] at
    * [[CorenessLayers]] unrolled peel layers each. Degeneracy measured 4
    * at every SF with per-k waves ≤ 7 (`tools/ProbeCoreness.scala` at
    * `0ab6ae2`) — K = 6 and 12
    * layers carry the margin; the query asserts both. */
  private val CorenessMaxK = 6
  private val CorenessLayers = 12

  /** FULL CORENESS (k-shell) DECOMPOSITION
    * ([[graft.operators.KCore.coreness]]) of the top-3 affinity graph —
    * q176's single-threshold membership GRADED into every node's shell
    * index (the "how deep in the mutual-link web" centrality: spam cores
    * high, pendant fringe 1). The nesting property makes each k peel only
    * the previous core's edges; shells are exact longs; the oracle runs
    * one unrolled chain per k seeded by the previous fixpoint, unions the
    * shells, and maxes — the q176 fixed-unroll contract, graded. The
    * query asserts the measured degeneracy stays under the oracle's chain
    * count and every k's wave count under the per-k unroll. */
  def corenessShells(s: SparkSession, dir: String): DataFrame = {
    val (out, (degeneracy, roundsPerK)) =
      graft.operators.KCore.corenessWithStats(
        affinityTopEdges(s, dir), maxK = 2 * CorenessMaxK,
        maxRounds = 2 * CorenessLayers)
    require(degeneracy < CorenessMaxK,
      s"q209 degeneracy $degeneracy reached the oracle chain count " +
        s"$CorenessMaxK — raise CorenessMaxK")
    require(roundsPerK.forall(_ <= CorenessLayers),
      s"q209 per-k waves $roundsPerK exceed the oracle unroll " +
        s"$CorenessLayers — raise CorenessLayers")
    out.orderBy("node")
  }

  /** INCREMENTAL CORENESS maintenance ([[graft.operators.KCore
    * .corenessMaintain]]) — the q202 state-maintenance pattern GRADED:
    * yesterday's graph ((u+v) % 5 ≠ 0, the q202 split) is
    * coreness-decomposed once, then TODAY'S full edge set updates every
    * shell via one [[graft.operators.KCore.maintain]] call per level
    * (the nesting property: level k runs on today's (k−1)-core frame
    * with yesterday's "coreness ≥ k" set as the old core and the raw
    * delta widened by each level's newly-entered nodes). Insert-only
    * here, so every level's certify must be a one-round no-op — asserted
    * in-query (the q202 honesty assert, per level). The oracle is q209's
    * full-recompute nested peel chain VERBATIM: the maintained shells
    * must be indistinguishable from re-grading from scratch (the
    * q202/q209 output-invariance disciplines composed); q209, green on
    * the same graph every round, pins that the from-scratch waves fit
    * the shared unroll. Deletion cascades and delta-widening are
    * exercised in GraphSearchSpec; `tools/RampProbe6.scala` at `0ab6ae2`
    * measured the incremental-vs-full crossover. */
  def corenessIncremental(s: SparkSession, dir: String): DataFrame = {
    // r17: ONE events scan — und feeds the old build, the delta, and the
    // maintenance entry (each re-derived it from the raw scan before)
    val und = Loops.checkpoint(affinityTopEdges(s, dir)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = true)
    // r18: the filters of the canonical frame stay canonical — the graded
    // peel and maintenance run directly on them (no re-distinct + ckpt)
    val oldEdges = und.filter(pmod(col("u") + col("v"), lit(5)) =!= 0)
    val newEdges = und.filter(pmod(col("u") + col("v"), lit(5)) === 0)
      .select(col("u").as("src"), col("v").as("dst"))
    val oldCoreness = graft.operators.KCore.corenessCanonWithStats(
      oldEdges, maxK = 2 * CorenessMaxK, maxRounds = 2 * CorenessLayers)._1
    val (out, (degeneracy, stats)) =
      graft.operators.KCore.corenessMaintainCanonWithStats(
        und, oldCoreness, delta = Some(newEdges),
        maxK = 2 * CorenessMaxK, maxRounds = 2 * CorenessLayers)
    require(degeneracy < CorenessMaxK,
      s"q217 degeneracy $degeneracy reached the oracle chain count " +
        s"$CorenessMaxK — raise CorenessMaxK")
    require(stats.forall(_._1 <= 1),
      s"q217 is an insert-only delta — every level's certify must be a " +
        s"one-round no-op check, ran ${stats.map(_._1)}")
    out.orderBy("node")
  }

  /** The number of synchronous LPA sweeps q182 pins (and the oracle
    * unrolls). Fixed BY CONTRACT, not convergence-stopped: synchronous
    * label propagation can 2-cycle (the determinism price documented on
    * [[graft.operators.LabelProp]]), so the registered semantics is
    * "majority basins after exactly 4 sweeps". */
  private val LpaRounds = 4

  /** LABEL-PROPAGATION COMMUNITIES over the top-3 affinity graph
    * ([[graft.operators.LabelProp.communities]]): each node's label after
    * [[LpaRounds]] synchronous majority sweeps — the mesoscale community
    * signal beside q176's density cores and q45's connected components (a
    * component can hold many communities; LPA separates the dense basins).
    * Labels are exact longs (smallest seed id of the basin), every
    * tie-break is pinned (count desc, label asc), so the result is
    * engine-exact; the oracle unrolls the identical sweeps as MATERIALIZED
    * layers — the q172/q176 fixed-unroll contract. */
  def lpaCommunities(s: SparkSession, dir: String): DataFrame =
    graft.operators.LabelProp.communities(
      affinityTopEdges(s, dir), rounds = LpaRounds)
      .orderBy("node")

  /** COMMUNITY MODULARITY ([[graft.operators.GraphStats.modularity]],
    * Newman 2006) over q182's LPA partition of the top-3 affinity graph —
    * the evaluation row beside the detection row: per community,
    * Q_c = e_c/m − (d_c/2m)² from exact long counts (internal edges,
    * degree mass, |E|), as the single IEEE division
    * (4·m·e_c − d_c²)/(4m²) of integer-valued doubles — the q175/q189
    * engine-exactness contract, so the row needs no rounding. ΣQ_c is the
    * "denser than chance?" gate a partition must pass before anyone
    * shards or spam-screens by it. The oracle replays the q182 sweep
    * chain verbatim, then the same four exact terms. */
  def communityModularity(s: SparkSession, dir: String): DataFrame = {
    // r17: ONE events scan — edges feed both the detector and the evaluator
    val edges = Loops.checkpoint(affinityTopEdges(s, dir), eager = true)
    val labels = graft.operators.LabelProp.communities(
      edges, rounds = LpaRounds).select("node", "label")
    graft.operators.GraphStats.modularity(edges, labels).orderBy("label")
  }

  /** q213's greedy-move half-sweep count — fixed BY CONTRACT like
    * [[LpaRounds]] (the registered semantics is "greedy modularity basins
    * after exactly 6 parity half-sweeps" — 3 full passes — which the
    * oracle unrolls). */
  private val LouvainSweeps = 6

  /** ONE-LEVEL LOUVAIN COMMUNITIES ([[graft.operators.Louvain
    * .communities]], Blondel et al. 2008's local-move phase) over the
    * top-3 affinity graph — the modularity-OPTIMIZING detector beside
    * q182's objective-free LPA and q205's after-the-fact evaluator: each
    * half-sweep the active parity class greedily moves to the neighbor
    * community with the best exact modularity gain (the q205 integer
    * terms, ×4m² so scores stay exact longs), synchronously against the
    * previous sweep's labels, ties (gain DESC, label ASC), moving only
    * on STRICT improvement over staying; the alternating-parity schedule
    * is the swap-cycle breaker (the operator doc derives it).
    * Deterministic end to end, so the oracle
    * unrolls the identical sweeps (the q182 fixed-round precedent);
    * GraphSearchSpec pins the point of the operator — its partition's
    * ΣQ ≥ LPA's on the same graph (the evaluation row gating the
    * detection row). */
  def louvainCommunities(s: SparkSession, dir: String): DataFrame =
    graft.operators.Louvain.communities(
      affinityTopEdges(s, dir), sweeps = LouvainSweeps)
      .orderBy("node")

  /** The q220 refinement unroll depth: min-label propagation converges in
    * community-diameter rounds; the rank-capped affinity graph's FULL
    * diameter lower bound is q211's ~6, so 16 carries the usual ~3×
    * margin, and the query asserts the converged count fits. */
  private val RefineLayers = 16

  /** LEIDEN-STYLE CONNECTIVITY REFINEMENT over q213's partition
    * ([[graft.operators.Louvain.refine]], Traag et al. 2019's guarantee
    * as a repair pass): every Louvain community is split into the
    * connected components of its induced subgraph, refined ids = the
    * component's min node (pinned). A one-level greedy optimizer can
    * glue two pockets through a mover that then leaves — an internally
    * DISCONNECTED community, which Traag et al. show is always
    * modularity-suboptimal (splitting never lowers Q: the edge term is
    * unchanged, the (Σd)² penalty drops to Σd²); the spec asserts both
    * the connectivity postcondition and Q(refined) ≥ Q(louvain) under
    * the exact q205 evaluator, on the real graph and on a
    * disconnected-community fixture. Fully deterministic, so the oracle
    * replays the q213 sweep chain VERBATIM then [[RefineLayers]]
    * unrolled min-propagation layers over the intra-community adjacency
    * (monotone — any depth ≥ the converged count is the identical
    * fixpoint; the in-query require pins the fit, the q176 contract). */
  def louvainRefined(s: SparkSession, dir: String): DataFrame = {
    // r17: ONE events scan — edges feed both the detector and the refiner
    val edges = Loops.checkpoint(affinityTopEdges(s, dir), eager = true)
    val labels = graft.operators.Louvain.communities(
      edges, sweeps = LouvainSweeps)
    val (out, rounds) = graft.operators.Louvain.refineWithRounds(
      edges, labels.select("node", "label"), maxRounds = 2 * RefineLayers)
    // the final round is the no-op fixpoint check; effective propagation
    // depth must fit the oracle's unroll
    require(rounds - 1 <= RefineLayers,
      s"q220 refinement needed $rounds rounds — raise RefineLayers " +
        s"($RefineLayers)")
    out.orderBy("node")
  }


  /** q225's level-2 half-sweep count (level 1 reuses [[LouvainSweeps]]). */
  private val LouvainL2Sweeps = 4

  /** TWO-LEVEL LOUVAIN ([[graft.operators.Louvain.twoLevel]]) — the full
    * Blondel pass over the affinity graph: q213's local moves, then the
    * AGGREGATION step (communities contract to supernodes; inter-
    * community weights sum; intra-community weight becomes self-loops),
    * then weighted local moves on the community graph, mapped back. The
    * aggregated graph carries self-loop DEGREES (d += 2·w_self, m +=
    * w_self), which is exactly what makes aggregated-graph modularity
    * equal original-graph modularity of the coarsened partition — so
    * every accepted level-2 move strictly raises the original Q
    * (measured: ΣQ 0.18→0.22, 0.12→0.18, 0.16→0.20 at the three SFs,
    * communities 38→20 / 41→22 / 39→16). The scale point of the level
    * structure: level 2 runs on the COMMUNITY graph — thousands of
    * supernodes where the input had billions of nodes — so deep
    * optimization there is nearly free. Deterministic end to end (the
    * q213 schedule at both levels); the oracle replays level 1, the
    * aggregation rollup, and the weighted level-2 sweeps as one CTE
    * chain in exact BIGINT arithmetic. */
  def louvainTwoLevel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Louvain.twoLevel(affinityTopEdges(s, dir),
      sweeps1 = LouvainSweeps, sweeps2 = LouvainL2Sweeps)
      .orderBy("node")


  /** q226's warm refresh budget: 2 half-sweeps. `tools/ProbeWarm.scala`
    * at `0ab6ae2` measured warm-vs-cold ΣQ at budgets 1/2/4 on all three SFs: at 1–2
    * sweeps warm wins 1.3–1.9× everywhere (0.168/0.164/0.172 vs
    * 0.118/0.124/0.129 at budget 2); by budget 4 the advantage
    * dissipates (greedy paths converge — 0.203 vs 0.183, 0.186 vs 0.134,
    * 0.169 vs 0.171), so the refresh budget is pinned where the
    * warm-start economics actually live. */
  private val LouvainWarmSweeps = 2

  /** INCREMENTAL (warm-start) LOUVAIN maintenance
    * ([[graft.operators.Louvain.communitiesFrom]]) — the maintenance-
    * family pattern (q199 PageRank warm-start, q202 certify-then-grow)
    * applied to the COMMUNITY shelf: yesterday's graph (events before
    * [[KCoreChurnCutoff]], the q219 churn split) is optimized once with
    * the full q213 budget; today's daily refresh runs only
    * [[LouvainWarmSweeps]] half-sweeps on the full-corpus graph SEEDED
    * from yesterday's partition (new nodes join as singletons via the
    * coalesce hand-off). The economics: from singletons the optimizer
    * spends its first sweeps rebuilding yesterday's basins; seeded, the
    * same budget absorbs the delta — `tools/ProbeWarm.scala` at
    * `0ab6ae2` measured warm beating
    * cold 1.3–1.9× in ΣQ at this budget on every SF, and the spec pins
    * Q(warm) ≥ Q(cold) at the refresh budget on the real graph. Fully
    * deterministic, so the oracle replays yesterday's 6-sweep chain, the
    * coalesce hand-off, and the 2 seeded sweeps as ONE CTE chain (the
    * q199 two-phase replay applied to communities). */
  def louvainIncremental(s: SparkSession, dir: String): DataFrame = {
    // r17: both graphs from the one-scan split (see eventsTransitionEdgesSplit)
    val (tE, yE) = affinityTopEdgesSplit(s, dir, KCoreChurnCutoff)
    val old = graft.operators.Louvain.communities(yE, sweeps = LouvainSweeps)
    graft.operators.Louvain.communitiesFrom(
        tE, Some(old), sweeps = LouvainWarmSweeps)
      .orderBy("node")
  }

  /** The q213 oracle: [[LouvainSweeps]] unrolled synchronous greedy-move
    * sweeps over the [[affinityEdgesCte]] adjacency — per sweep, the
    * community degree-mass rollup, the k_{i,c} vote rollup, the best-move
    * argmax ((score DESC, label ASC) via row_number), and the
    * strictly-beats-staying CASE, all in exact BIGINT arithmetic
    * mirroring the Spark expressions term for term. Layers MATERIALIZED
    * (the q176/q182 inlining note). */
  private def louvainChainCte(sweeps: Int): String = {
    val base =
      s"""WITH $affinityEdgesCte,
         |adj AS MATERIALIZED (
         |  SELECT u AS node, v AS nbr FROM und
         |  UNION ALL
         |  SELECT v AS node, u AS nbr FROM und),
         |ldeg AS MATERIALIZED (
         |  SELECT node, CAST(count(*) AS BIGINT) AS deg
         |  FROM adj GROUP BY 1),
         |lm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
         |g0 AS MATERIALIZED (
         |  SELECT DISTINCT node, node AS label FROM adj)""".stripMargin
    val chain = (1 to sweeps).map { i =>
      s"""cd$i AS MATERIALIZED (
         |  SELECT l.label, CAST(sum(ldeg.deg) AS BIGINT) AS dsum
         |  FROM g${i - 1} l JOIN ldeg ON ldeg.node = l.node GROUP BY 1),
         |k$i AS MATERIALIZED (
         |  SELECT a.node, p.label AS clab, CAST(count(*) AS BIGINT) AS kic
         |  FROM adj a JOIN g${i - 1} p ON p.node = a.nbr GROUP BY 1, 2),
         |cur$i AS MATERIALIZED (
         |  SELECT l.node, l.label, ldeg.deg, cd.dsum
         |  FROM g${i - 1} l JOIN ldeg ON ldeg.node = l.node
         |  JOIN cd$i cd ON cd.label = l.label),
         |best$i AS (
         |  SELECT node, clab, score FROM (
         |    SELECT node, clab, score,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY score DESC, clab ASC) AS rn
         |    FROM (
         |      SELECT c.node, k.clab,
         |        4 * lm.m * k.kic - 2 * c.deg * cd.dsum AS score
         |      FROM k$i k JOIN cur$i c ON c.node = k.node
         |      JOIN cd$i cd ON cd.label = k.clab CROSS JOIN lm
         |      WHERE k.clab <> c.label)) WHERE rn = 1),
         |g$i AS MATERIALIZED (
         |  SELECT c.node,
         |    CASE WHEN (c.node % 2) = ${i % 2}
         |          AND b.score > 4 * lm.m * COALESCE(k.kic, 0)
         |                        - 2 * c.deg * (c.dsum - c.deg)
         |         THEN b.clab ELSE c.label END AS label
         |  FROM cur$i c CROSS JOIN lm
         |  LEFT JOIN k$i k ON k.node = c.node AND k.clab = c.label
         |  LEFT JOIN best$i b ON b.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$chain"
  }


  /** The q225 oracle: the q213 chain VERBATIM (level 1), the aggregation
    * rollup (canonical supernode pairs, counts as weights, self-loops
    * kept), then `sweeps2` unrolled WEIGHTED greedy-move sweeps with
    * self-loop degrees (deg = Σw_adj + 2·w_self, m = Σw_und + Σw_self),
    * mapped back through level 1's labels — all exact BIGINT. */
  private def louvainTwoLevelOracleSql(s1: Int, s2: Int): String = {
    val base =
      s"""${louvainChainCte(s1)},
         |se AS MATERIALIZED (
         |  SELECT least(lu.label, lv.label) AS u,
         |    greatest(lu.label, lv.label) AS v,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM und e
         |  JOIN g$s1 lu ON lu.node = e.u
         |  JOIN g$s1 lv ON lv.node = e.v
         |  GROUP BY 1, 2),
         |wund AS MATERIALIZED (SELECT u, v, w FROM se WHERE u <> v),
         |wself AS MATERIALIZED (SELECT u AS node, w AS sw FROM se WHERE u = v),
         |wadj AS MATERIALIZED (
         |  SELECT u AS node, v AS nbr, w FROM wund
         |  UNION ALL
         |  SELECT v AS node, u AS nbr, w FROM wund),
         |wnodes AS MATERIALIZED (
         |  SELECT DISTINCT node FROM (
         |    SELECT node FROM wadj UNION ALL SELECT node FROM wself)),
         |wdeg AS MATERIALIZED (
         |  SELECT n.node,
         |    CAST(coalesce(a.aw, 0) + 2 * coalesce(s.sw, 0) AS BIGINT) AS deg
         |  FROM wnodes n
         |  LEFT JOIN (SELECT node, sum(w) AS aw FROM wadj GROUP BY 1) a
         |    ON a.node = n.node
         |  LEFT JOIN wself s ON s.node = n.node),
         |wm AS (SELECT CAST(coalesce((SELECT sum(w) FROM wund), 0)
         |  + coalesce((SELECT sum(sw) FROM wself), 0) AS BIGINT) AS m),
         |wg0 AS MATERIALIZED (SELECT node, node AS label FROM wdeg)""".stripMargin
    val chain = (1 to s2).map { i =>
      s"""wcd$i AS MATERIALIZED (
         |  SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS dsum
         |  FROM wg${i - 1} l JOIN wdeg d ON d.node = l.node GROUP BY 1),
         |wk$i AS MATERIALIZED (
         |  SELECT a.node, p.label AS clab, CAST(sum(a.w) AS BIGINT) AS kic
         |  FROM wadj a JOIN wg${i - 1} p ON p.node = a.nbr GROUP BY 1, 2),
         |wcur$i AS MATERIALIZED (
         |  SELECT l.node, l.label, d.deg, cd.dsum
         |  FROM wg${i - 1} l JOIN wdeg d ON d.node = l.node
         |  JOIN wcd$i cd ON cd.label = l.label),
         |wbest$i AS (
         |  SELECT node, clab, score FROM (
         |    SELECT node, clab, score,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY score DESC, clab ASC) AS rn
         |    FROM (
         |      SELECT c.node, k.clab,
         |        4 * wm.m * k.kic - 2 * c.deg * cd.dsum AS score
         |      FROM wk$i k JOIN wcur$i c ON c.node = k.node
         |      JOIN wcd$i cd ON cd.label = k.clab CROSS JOIN wm
         |      WHERE k.clab <> c.label)) WHERE rn = 1),
         |wg$i AS MATERIALIZED (
         |  SELECT c.node,
         |    CASE WHEN (c.node % 2) = ${i % 2}
         |          AND b.score > 4 * wm.m * COALESCE(k.kic, 0)
         |                        - 2 * c.deg * (c.dsum - c.deg)
         |         THEN b.clab ELSE c.label END AS label
         |  FROM wcur$i c CROSS JOIN wm
         |  LEFT JOIN wk$i k ON k.node = c.node AND k.clab = c.label
         |  LEFT JOIN wbest$i b ON b.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$chain\n" +
      s"SELECT l.node, w.label FROM g$s1 l " +
      s"JOIN wg$s2 w ON w.node = l.label ORDER BY l.node"
  }


  /** The q226 oracle: yesterday's full [[LouvainSweeps]]-sweep chain over
    * the CUTOFF graph (prefix y), the warm hand-off (today's node set
    * coalescing yesterday's labels, singletons for new nodes), then
    * [[LouvainWarmSweeps]] seeded sweeps over today's graph (prefix t) —
    * the q199 two-phase replay applied to communities, all exact BIGINT. */
  private def louvainWarmOracleSql(s1: Int, s2: Int,
      cutoff: String): String = {
    def topCte(p: String, filter: String): String =
      s"""${p}tr AS MATERIALIZED (
         |  SELECT node AS src,
         |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM ev WHERE node IS NOT NULL$filter),
         |${p}wts AS MATERIALIZED (
         |  SELECT src, dst, count(*) AS w FROM ${p}tr
         |  WHERE dst IS NOT NULL AND src <> dst GROUP BY 1, 2),
         |${p}top3 AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |      row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
         |    FROM ${p}wts) WHERE rn <= 3),
         |${p}und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ${p}top3)""".stripMargin
    def sweepCtes(p: String, sweeps: Int, seed: String): String = {
      val base =
        s"""${p}adj AS MATERIALIZED (
           |  SELECT u AS node, v AS nbr FROM ${p}und
           |  UNION ALL
           |  SELECT v AS node, u AS nbr FROM ${p}und),
           |${p}ldeg AS MATERIALIZED (
           |  SELECT node, CAST(count(*) AS BIGINT) AS deg
           |  FROM ${p}adj GROUP BY 1),
           |${p}lm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ${p}und),
           |${p}g0 AS MATERIALIZED ($seed)""".stripMargin
      val chain = (1 to sweeps).map { i =>
        s"""${p}cd$i AS MATERIALIZED (
           |  SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS dsum
           |  FROM ${p}g${i - 1} l JOIN ${p}ldeg d ON d.node = l.node
           |  GROUP BY 1),
           |${p}k$i AS MATERIALIZED (
           |  SELECT a.node, pp.label AS clab, CAST(count(*) AS BIGINT) AS kic
           |  FROM ${p}adj a JOIN ${p}g${i - 1} pp ON pp.node = a.nbr
           |  GROUP BY 1, 2),
           |${p}cur$i AS MATERIALIZED (
           |  SELECT l.node, l.label, d.deg, cd.dsum
           |  FROM ${p}g${i - 1} l JOIN ${p}ldeg d ON d.node = l.node
           |  JOIN ${p}cd$i cd ON cd.label = l.label),
           |${p}best$i AS (
           |  SELECT node, clab, score FROM (
           |    SELECT node, clab, score,
           |      row_number() OVER (PARTITION BY node
           |        ORDER BY score DESC, clab ASC) AS rn
           |    FROM (
           |      SELECT c.node, k.clab,
           |        4 * m.m * k.kic - 2 * c.deg * cd.dsum AS score
           |      FROM ${p}k$i k JOIN ${p}cur$i c ON c.node = k.node
           |      JOIN ${p}cd$i cd ON cd.label = k.clab
           |      CROSS JOIN ${p}lm m
           |      WHERE k.clab <> c.label)) WHERE rn = 1),
           |${p}g$i AS MATERIALIZED (
           |  SELECT c.node,
           |    CASE WHEN (c.node % 2) = ${i % 2}
           |          AND b.score > 4 * m.m * COALESCE(k.kic, 0)
           |                        - 2 * c.deg * (c.dsum - c.deg)
           |         THEN b.clab ELSE c.label END AS label
           |  FROM ${p}cur$i c CROSS JOIN ${p}lm m
           |  LEFT JOIN ${p}k$i k ON k.node = c.node AND k.clab = c.label
           |  LEFT JOIN ${p}best$i b ON b.node = c.node)""".stripMargin
      }.mkString(",\n")
      s"$base,\n$chain"
    }
    val ev =
      """ev AS MATERIALIZED (
        |  SELECT user_id, ts, event_id,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
        |  FROM events)""".stripMargin
    val seed2 = s"SELECT n.node, coalesce(o.label, n.node) AS label " +
      s"FROM (SELECT DISTINCT node FROM tadj) n " +
      s"LEFT JOIN yg$s1 o ON o.node = n.node"
    s"WITH $ev,\n" +
      topCte("y", s" AND ts < TIMESTAMP '$cutoff'") + ",\n" +
      topCte("t", "") + ",\n" +
      sweepCtes("y", s1, "SELECT DISTINCT node, node AS label FROM yadj") +
      ",\n" +
      sweepCtes("t", s2, seed2) + "\n" +
      s"SELECT node, label FROM tg$s2 ORDER BY node"
  }

  private def louvainOracleSql(sweeps: Int): String =
    s"${louvainChainCte(sweeps)}\nSELECT node, label FROM g$sweeps ORDER BY node"

  /** The q220 oracle: the q213 sweep chain VERBATIM, then `layers`
    * unrolled min-label propagation rounds over the intra-community
    * adjacency (both endpoints in g_sweeps with equal labels) — monotone
    * layers, the q176 any-depth-past-convergence argument; refined seeds
    * are the nodes themselves (the Spark operator's singleton base). */
  private def louvainRefineOracleSql(sweeps: Int, layers: Int): String = {
    val base =
      s"""${louvainChainCte(sweeps)},
         |rintra AS MATERIALIZED (
         |  SELECT e.u, e.v FROM und e
         |  JOIN g$sweeps lu ON lu.node = e.u
         |  JOIN g$sweeps lv ON lv.node = e.v
         |  WHERE lu.label = lv.label),
         |radj AS MATERIALIZED (
         |  SELECT u AS node, v AS nbr FROM rintra
         |  UNION ALL
         |  SELECT v AS node, u AS nbr FROM rintra),
         |r0 AS MATERIALIZED (
         |  SELECT node, node AS refined FROM g$sweeps)""".stripMargin
    val chain = (1 to layers).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT node, min(refined) AS refined FROM (
         |    SELECT node, refined FROM r${i - 1}
         |    UNION ALL
         |    SELECT a.node, p.refined AS refined
         |    FROM radj a JOIN r${i - 1} p ON p.node = a.nbr)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$chain\n" +
      s"SELECT l.node, l.label, r.refined FROM g$sweeps l " +
      s"JOIN r$layers r ON r.node = l.node ORDER BY l.node"
  }

  /** The q182 oracle: [[LpaRounds]] unrolled synchronous sweeps over the
    * [[affinityEdgesCte]] adjacency. Every layer is MATERIALIZED (each is
    * read once per direction of the vote join but the chain would inline
    * exponentially). The per-node argmax restates Spark's
    * max(struct(cnt, −label)) as (cnt DESC, label ASC) — identical on
    * exact integers. */
  private def lpaChainCte(rounds: Int): String = {
    val base =
      s"""WITH $affinityEdgesCte,
         |adj AS MATERIALIZED (
         |  SELECT u AS node, v AS nbr FROM und
         |  UNION ALL
         |  SELECT v AS node, u AS nbr FROM und),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT node, node AS label FROM adj)""".stripMargin
    val chain = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY cnt DESC, label ASC) AS rn
         |    FROM (
         |      SELECT a.node, p.label, count(*) AS cnt
         |      FROM adj a JOIN l${i - 1} p ON p.node = a.nbr
         |      GROUP BY 1, 2)) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$chain"
  }

  private def lpaOracleSql(rounds: Int): String =
    s"${lpaChainCte(rounds)}\nSELECT node, label FROM l$rounds ORDER BY node"

  /** The q205 oracle: the q182 LPA chain verbatim, then the modularity
    * arithmetic — exact BIGINT terms (m, e_c, d_c) and ONE final division
    * of two integer-valued doubles, mirroring the Spark expression. */
  private def modularityOracleSql(rounds: Int): String =
    s"""${lpaChainCte(rounds)},
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
       |        FROM adj GROUP BY 1),
       |lab AS (SELECT node, label FROM l$rounds),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |ein AS (SELECT la.label AS label, CAST(count(*) AS BIGINT) AS e_in
       |        FROM und JOIN lab la ON la.node = und.u
       |                 JOIN lab lb ON lb.node = und.v
       |        WHERE la.label = lb.label GROUP BY 1),
       |d AS (SELECT lab.label, CAST(count(*) AS BIGINT) AS n_nodes,
       |             CAST(sum(deg.deg) AS BIGINT) AS d_sum
       |      FROM lab JOIN deg ON deg.node = lab.node GROUP BY 1)
       |SELECT d.label, d.n_nodes,
       |  CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in, d.d_sum,
       |  CAST(4 * mm.m * coalesce(ein.e_in, 0) - d.d_sum * d.d_sum
       |       AS DOUBLE) / CAST(4 * mm.m * mm.m AS DOUBLE) AS modularity
       |FROM d LEFT JOIN ein ON ein.label = d.label CROSS JOIN mm
       |ORDER BY d.label""".stripMargin

  /** STRONGLY CONNECTED COMPONENTS over the DIRECTED top-3 affinity graph
    * ([[graft.operators.Scc.componentsWithRounds]], iterative coloring):
    * mutual-reachability classes — the directed complement of q45's WCC
    * (a redirect/alias ring is an SCC; PageRank's rank sinks are the
    * terminal SCCs) on the same graph whose undirected shadow q175/q176/
    * q182 analyze. Non-trivial at every SF (45/16/10 SCCs: one giant core
    * plus a one-way fringe). Labels are exact longs (scc = min member
    * id), so the result is engine-exact; the oracle needs NO fixed
    * unroll — mutual reachability is a depth-free recursive closure. */
  def sccComponents(s: SparkSession, dir: String): DataFrame = {
    val (out, rounds) = graft.operators.Scc.componentsWithRounds(
      affinityTopEdges(s, dir), maxRounds = 50)
    log.info(s"q188 scc: finished in $rounds peel rounds")
    out.select(col("id").as("node"), col("scc").as("scc_id")).orderBy("node")
  }

  /** q212's truncation depth — walks vanish under 0.5^k; 4 layers is the
    * registered semantics (the LPA fixed-round precedent) and the oracle's
    * unroll. */
  private val KatzDepth = 4

  /** KATZ CENTRALITY ([[graft.operators.Katz.scores]], Katz 1953) over
    * the DIRECTED top-3 affinity graph — the influence member of the
    * centrality shelf beside q146 PageRank (flow), q166 harmonic
    * (closeness), q201 betweenness (brokerage), and q209 coreness
    * (depth): α-discounted directed-walk counts, α = 0.5 (exactly
    * representable) truncated at [[KatzDepth]]. Deterministic mode:
    * per-layer sorted folds + a fixed accumulation chain, so every double
    * is bit-identical to the oracle's `list_reduce(list(… ORDER BY src))`
    * replay (the q140/q201 contract); rounded to 12dp like q201 purely as
    * presentation armor. */
  def katzCentrality(s: SparkSession, dir: String): DataFrame =
    graft.operators.Katz.scores(
        affinityTopEdges(s, dir).filter(col("src") =!= col("dst"))
          .select("src", "dst").distinct(),
        alpha = 0.5, depth = KatzDepth)
      .select(col("node"), round(col("katz"), 12).as("katz"))
      .orderBy("node")

  /** DOUBLE-SWEEP DIAMETER PROBE ([[graft.operators.Bfs.doubleSweep]],
    * Magnien–Latapy–Habib 2009) of the top-3 affinity graph — the
    * two-BFS diameter lower bound that justifies every fixed-unroll depth
    * and `maxRounds` cap this library's oracles rely on, now a REGISTERED
    * number instead of a probe: seed = min node id, peripheral = farthest
    * (ties → min id), second eccentricity = the bound. Exact longs, every
    * tie-break pinned; the oracle replays both sweeps as depth-capped
    * recursive closures. The operator itself rejects a truncated sweep
    * (a capped BFS would silently understate the bound). NOTE: EAGER like
    * pagerank/graph_bfs — resolving this call (registering/Verify-listing
    * q211) runs BOTH BFS sweeps on the driver's session; the returned
    * frame is the 1-row literal result. */
  def graphDiameter(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bfs.doubleSweep(affinityTopEdges(s, dir), maxDepth = 60)

  /** DEGREE ASSORTATIVITY ([[graft.operators.GraphStats.assortativity]],
    * Newman 2002) of the top-3 affinity graph — the one-number wiring
    * signature beside q205's partition quality: negative = hubs wire to
    * leaves (star-burst / spam-farm shape), positive = hubs wire to hubs.
    * Undirected symmetry collapses the usual sqrt-variance denominator,
    * so the row is exact longs + ONE IEEE division (the q175/q189/q205
    * contract — no sqrt, no rounding); the exact stub sums ship alongside
    * so the gate compares integers. */
  def degreeAssortativity(s: SparkSession, dir: String): DataFrame =
    graft.operators.GraphStats.assortativity(affinityTopEdges(s, dir))

  /** LAG-7 AUTOCORRELATION ([[graft.operators.TimeSeries
    * .autocorrelation]]) of the daily revenue series q185/q192 monitor —
    * the weekly-seasonality probe that decides whether day-over-day
    * monitors are even meaningful: deviations scaled by n (the q185
    * integer trick), products/sums exact DECIMAL(38,0) (n·x squares past
    * 2⁶³ — the HUGEINT mirror on the oracle side), the human `acf` column
    * the single division rounded to 9dp (the q146 policy). Lag pairs via
    * ONE keyed equi-self-join on (yr, day+7) — gap semantics, no range
    * scan. */
  def acfRevenue(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .groupBy(year(col("ts")).as("yr"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    graft.operators.TimeSeries.autocorrelation(
        daily, Seq("yr"), "day", "cents", lag = 7)
      // the exact DECIMAL(38,0) terms ride as STRINGS for the gate:
      // DuckDB surfaces >18-digit decimals through float64 (lossy),
      // while both engines print the exact integer digits identically
      .withColumn("acf_num", col("acf_num").cast("string"))
      .withColumn("acf_den", col("acf_den").cast("string"))
      .orderBy("yr")
  }

  /** INCREMENTAL SCC maintenance ([[graft.operators.Scc.maintain]]) —
    * the q202/q203 state-maintenance pattern on DIRECTED mutual
    * reachability: yesterday's graph (directed top-3 affinity edges with
    * (src+dst) % 5 ≠ 0) is SCC-labeled once, then TODAY'S full edge set
    * updates the labeling — certification is FREE here (insert-only
    * deltas have no dirty classes: a class's strong connectivity depends
    * only on its within-class edges — asserted in-query), every certified
    * class contracts to one node, and the iterative coloring runs on the
    * CONDENSATION graph only, skipping the giant component's internal
    * waves (the full recompute's dominant cost). The oracle is q188's
    * depth-free recursive-closure SQL VERBATIM over the complete graph:
    * the incremental result must be indistinguishable from re-solving
    * from scratch (the q186/q202 output-invariance discipline). Deletion
    * cascades (dirty-class splits), merges through the contracted solve,
    * and garbage-label tolerance are exercised in GraphSearchSpec;
    * `tools/RampProbe5.scala` at `0ab6ae2` measured the crossover on
    * deep-cycle history. */
  def sccIncremental(s: SparkSession, dir: String): DataFrame = {
    // r17: ONE events scan — the frame feeds the old solve, the delta, and
    // the maintenance entry (each re-derived it from the raw scan before)
    val edges = Loops.checkpoint(affinityTopEdges(s, dir)
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct(), eager = true)
    // r18b: the filters of the distinct canonical frame stay distinct —
    // the solve and maintenance entries run directly on them (the public
    // entries re-paid a full distinct shuffle + checkpoint each); the lazy
    // checkpoint materializes the filtered view in the solve's first job
    val oldEdges = Loops.checkpoint(
      edges.filter(pmod(col("src") + col("dst"), lit(5)) =!= 0), eager = false)
    val newEdges = edges.filter(pmod(col("src") + col("dst"), lit(5)) === 0)
    val oldScc = graft.operators.Scc.componentsCanonWithRounds(
      oldEdges, maxRounds = 50)._1
    val (out, (certifyRounds, _)) =
      graft.operators.Scc.maintainCanonWithRounds(
        edges, oldScc, maxRounds = 50, delta = Some(newEdges))
    require(certifyRounds == 0,
      s"q204 is an insert-only delta — certification must be free " +
        s"(no dirty classes), ran $certifyRounds rounds")
    out.select(col("id").as("node"), col("scc").as("scc_id")).orderBy("node")
  }

  /** CHURN SCC maintenance — the q219 discipline on DIRECTED mutual
    * reachability: yesterday's state is the real prior directed top-3
    * affinity graph (events before [[KCoreChurnCutoff]]), today's the
    * full-corpus graph; the exact symmetric difference carries both
    * directions at every SF (128–200 deletions, 140–200 insertions
    * measured), so certification actually finds DIRTY classes (a deleted
    * within-class edge can split a component) and re-solves them before
    * the condensation coloring merges across today's insertions. The
    * oracle is q188's depth-free recursive-closure SQL VERBATIM over
    * today's graph (the q204 output-invariance discipline with deletions
    * live); the in-query requires pin the mixed-delta premise loudly. */
  def sccChurn(s: SparkSession, dir: String): DataFrame = {
    def dedir(e: DataFrame): DataFrame = e
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    // r17: both graphs from the one-scan split (see eventsTransitionEdgesSplit)
    val (tE, yE) = affinityTopEdgesSplit(s, dir, KCoreChurnCutoff)
    val today = Loops.checkpoint(dedir(tE), eager = true)
    val yesterday = Loops.checkpoint(dedir(yE), eager = true)
    val inserts = today.join(yesterday, Seq("src", "dst"), "left_anti")
    val deletes = yesterday.join(today, Seq("src", "dst"), "left_anti")
    require(!inserts.isEmpty && !deletes.isEmpty,
      s"q222 premises a MIXED delta (cutoff $KCoreChurnCutoff) — one " +
        "direction is empty, so the row no longer exercises deletions")
    val delta = inserts.unionByName(deletes)
    // r18: today/yesterday are already deduplicated + materialized — the
    // solve and maintenance entries run directly on them
    val oldScc = graft.operators.Scc.componentsCanonWithRounds(
      yesterday, maxRounds = 50)._1
    graft.operators.Scc.maintainCanonWithRounds(
        today, oldScc, maxRounds = 50, delta = Some(delta))._1
      .select(col("id").as("node"), col("scc").as("scc_id")).orderBy("node")
  }

  /** LINK PREDICTION over the top-3 affinity graph
    * ([[graft.operators.LinkPredict.jaccardCandidates]], Liben-Nowell &
    * Kleinberg CIKM'03): every non-adjacent pair sharing a neighbor, with
    * its common-neighbor count and neighborhood Jaccard — the wedge that
    * never closed, i.e. the candidate edges a recommender/crawl-frontier
    * ranker scores, on the SAME degree-bounded graph q155/q175 close
    * triangles over (the ≤3-out rank cap is what bounds the wedge work —
    * the operator's documented contract). Counts/degrees are exact longs
    * and the Jaccard is one IEEE division of exact integers, so the row is
    * engine-exact with NO rounding — the q175 policy. */
  def linkPrediction(s: SparkSession, dir: String): DataFrame =
    graft.operators.LinkPredict.jaccardCandidates(affinityTopEdges(s, dir))
      .orderBy("u", "v")

  /** The unroll depth the q194 oracle states. The Spark loop converges in
    * 6–11 waves across the SFs (measured); the query ASSERTS its count
    * fits under this — the q172 contract. */
  private val TemporalOracleLayers = 14

  /** The per-user consecutive transition edges WITH the destination event's
    * epoch-millis — the temporal interaction graph q194 traverses (same
    * construction as [[eventsTransitionEdges]], keeping each transition
    * instance + its time instead of collapsing to weights). */
  private def eventsTemporalEdges(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("node"))
      .filter(col("node").isNotNull)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.select(col("node").as("src"),
        lead(col("node"), 1).over(w).as("dst"),
        unix_millis(lead(col("ts"), 1).over(w)).as("ts"))
      .filter(col("dst").isNotNull)
  }

  /** TIME-RESPECTING REACHABILITY
    * ([[graft.operators.TemporalReach.earliestArrival]], Holme & Saramäki
    * 2012): earliest arrival from the q152 seed set over the TIMESTAMPED
    * transition graph, where a path may only traverse edges firing at or
    * after its current arrival — the blast-radius/influence question
    * [[Bfs]]'s static reachability over-reports (an edge that fired before
    * the infection arrived cannot carry it). Arrivals are exact
    * epoch-millis longs (sources at the −1 sentinel), so the result is
    * engine-exact; the oracle is the unrolled MATERIALIZED relaxation
    * chain (the q172 contract — the query asserts its converged wave count
    * fits the unroll). */
  def temporalReachability(s: SparkSession, dir: String): DataFrame = {
    val edges = eventsTemporalEdges(s, dir)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    val (out, rounds) = graft.operators.TemporalReach
      .earliestArrivalWithRounds(edges,
        nodes.filter(col("node") % 7 === 0), maxRounds = 50)
    require(rounds <= TemporalOracleLayers,
      s"q194 converged in $rounds waves — above the oracle unroll depth " +
        s"$TemporalOracleLayers; raise TemporalOracleLayers")
    out.select(col("node"), col("arrival")).orderBy("node")
  }

  /** The q194 oracle: unrolled synchronous earliest-arrival relaxation
    * layers over the temporal transition edges. Monotone (arrivals only
    * decrease), so any unroll depth ≥ the converged wave count is the
    * identical fixpoint; every layer is MATERIALIZED (referenced twice and
    * chained — the q152/q172 inlining argument). */
  private def temporalOracleSql(layers: Int): String = {
    val base =
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, ts, event_id,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
        |  FROM events),
        |tr AS MATERIALIZED (
        |  SELECT node AS src,
        |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst,
        |    epoch_ms(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS ets
        |  FROM ev WHERE node IS NOT NULL),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst, ets FROM tr WHERE dst IS NOT NULL),
        |nd AS MATERIALIZED (SELECT DISTINCT src AS node FROM
        |       (SELECT src FROM e UNION ALL SELECT dst FROM e) t(src)),
        |a0 AS MATERIALIZED (
        |  SELECT node, CAST(-1 AS BIGINT) AS arr FROM nd WHERE node % 7 = 0)""".stripMargin
    val chain = (1 to layers).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT node, min(arr) AS arr FROM (
         |    SELECT node, arr FROM a${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, e.ets AS arr
         |    FROM a${i - 1} p JOIN e ON e.src = p.node AND p.arr <= e.ets)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$chain\nSELECT node, CAST(arr AS BIGINT) AS arrival " +
      s"FROM a$layers ORDER BY node"
  }

  /** q195's truss order and oracle unroll depth. k = 4 on the TOP-8
    * affinity graph peels in real cascades (11–14 waves measured across
    * the SFs, 221–262 surviving edges) — the top-3 graph's 4-truss is
    * empty and its 3-truss peels in one wave, neither of which exercises
    * the operator; the query asserts its wave count fits the unroll. */
  private val TrussK = 4
  private val TrussOracleLayers = 16

  /** k-TRUSS EXTRACTION ([[graft.operators.Truss.edges]], Cohen 2008):
    * the edges whose every survivor sits in ≥ k−2 triangles WITHIN the
    * surviving subgraph — the edge-level cohesion core between q176's
    * k-core (degree floor — fakeable with pendant links) and clique
    * mining; the standard mutual-admiration/link-farm extractor. Over the
    * TOP-8 affinity graph (denser than q175/q176's top-3 so the peel
    * actually cascades). Supports are exact longs; the oracle is the
    * unrolled peel-layer chain (triangle enumeration per layer restated
    * relationally on the canonical node order — the same triangle set the
    * degree-ordered orientation finds). */
  def trussEdges(s: SparkSession, dir: String): DataFrame = {
    val (out, rounds) = graft.operators.Truss.edgesWithRounds(
      affinityTopEdges(s, dir, n = 8), k = TrussK, maxRounds = 50)
    require(rounds <= TrussOracleLayers,
      s"q195 converged in $rounds waves — above the oracle unroll depth " +
        s"$TrussOracleLayers; raise TrussOracleLayers")
    out.orderBy("u", "v")
  }

  /** INCREMENTAL k-truss maintenance ([[graft.operators.Truss.maintain]])
    * — q202's certify-then-grow state-maintenance pattern lifted from
    * node-level to EDGE-level cohesion: yesterday's graph (canonical top-8
    * affinity edges with (u+v) % 5 ≠ 0) is trussed once, then TODAY'S full
    * edge set updates that edge membership — certification is a one-round
    * no-op here (insert-only deltas keep the old truss valid: the truss is
    * monotone under edge addition — asserted in-query), and the grow phase
    * peels only the delta-closed candidate neighborhood with static
    * certified-apex supports, never re-enumerating history's triangles.
    * The oracle is q195's FULL-recompute unrolled peel chain VERBATIM over
    * the complete graph: the incremental result must be indistinguishable
    * from re-peeling from scratch (the q186/q202 output-invariance
    * discipline); q195, green on the same graph and k every round, pins
    * that the from-scratch wave count fits the shared unroll depth.
    * Deletion cascades and evictee re-entry are exercised in
    * GraphSearchSpec (the operator is sound under arbitrary deltas);
    * `tools/RampProbe5.scala` at `0ab6ae2` measured the incremental-vs-full
    * crossover on the truss family's 10× history ramp. */
  def trussIncremental(s: SparkSession, dir: String): DataFrame = {
    // r17: ONE events scan — und feeds the old build, the delta, and the
    // maintenance entry (each re-derived it from the raw scan before)
    val und = Loops.checkpoint(affinityTopEdges(s, dir, n = 8)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = true)
    // r18: the filters of the canonical frame stay canonical — the peel and
    // the maintenance entries run directly on them (no re-distinct shuffle
    // + checkpoint per entry, the cross-operator canonical factoring)
    val oldEdges = und.filter(pmod(col("u") + col("v"), lit(5)) =!= 0)
    val newEdges = und.filter(pmod(col("u") + col("v"), lit(5)) === 0)
      .select(col("u").as("src"), col("v").as("dst"))
    val oldTruss = graft.operators.Truss.edgesCanonWithRounds(oldEdges,
      k = TrussK, maxRounds = 50)._1
    val (out, (certifyRounds, _)) =
      graft.operators.Truss.maintainCanonWithRounds(
        und, oldTruss.select("u", "v"), k = TrussK, maxRounds = 50,
        delta = Some(newEdges),
        prevCanon = true) // truss output is canonical (u < v, distinct)
    require(certifyRounds <= 1,
      s"q203 is an insert-only delta — certify must be a one-round no-op " +
        s"check, ran $certifyRounds")
    out.orderBy("u", "v")
  }

  /** CHURN k-truss maintenance — the q219 discipline lifted to EDGE-level
    * cohesion: yesterday's state is the real prior top-8 affinity graph
    * (events before [[KCoreChurnCutoff]]), today's the full-corpus graph,
    * and the exact symmetric difference carries both directions at every
    * SF (70–394 deletions, 331–390 insertions measured), so certify must
    * cascade support losses through yesterday's truss while grow
    * re-admits re-entrant edges. The oracle is q195's full-recompute peel
    * chain VERBATIM over today's graph (the q203 output-invariance
    * discipline with deletions live in a registered row); the in-query
    * requires pin the mixed-delta premise loudly, as in q219. */
  def trussChurn(s: SparkSession, dir: String): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // r17: both graphs from the one-scan split (see eventsTransitionEdgesSplit)
    val (tE, yE) = affinityTopEdgesSplit(s, dir, KCoreChurnCutoff, n = 8)
    val today = Loops.checkpoint(canon(tE), eager = true)
    val yesterday = Loops.checkpoint(canon(yE), eager = true)
    val inserts = today.join(yesterday, Seq("u", "v"), "left_anti")
    val deletes = yesterday.join(today, Seq("u", "v"), "left_anti")
    require(!inserts.isEmpty && !deletes.isEmpty,
      s"q221 premises a MIXED delta (cutoff $KCoreChurnCutoff) — one " +
        "direction is empty, so the row no longer exercises deletions")
    val delta = inserts.unionByName(deletes)
      .select(col("u").as("src"), col("v").as("dst"))
    // r18: today/yesterday are already canonical + materialized — the peel
    // and maintenance entries run directly on them
    val oldTruss = graft.operators.Truss.edgesCanonWithRounds(
      yesterday, k = TrussK, maxRounds = 50)._1
    graft.operators.Truss.maintainCanonWithRounds(
        today, oldTruss.select("u", "v"), k = TrussK, maxRounds = 50,
        delta = Some(delta),
        prevCanon = true)._1 // truss output is canonical (u < v, distinct)
      .orderBy("u", "v")
  }

  /** q201's oracle unrolls this many σ (forward) and δ (backward) layers —
    * the measured affinity-graph BFS depth is 4–5 at every SF
    * (`tools/ProbeBc.scala` at `0ab6ae2`);
    * the in-query require keeps the unroll honest (the q172/q176/q195
    * fixed-unroll contract). */
  private val BcOracleDepth = 8

  /** BETWEENNESS CENTRALITY, exact Brandes over the top-3 affinity graph
    * ([[graft.operators.Betweenness.fromPivots]], Brandes 2001): every
    * node's bridge/broker score Σ σ_st(v)/σ_st — the centrality shelf's
    * missing chokepoint detector next to q140's PageRank (flow), q154's
    * harmonic (closeness), and q175's clustering (density). EXACT mode —
    * all 100 affinity nodes as pivots — which is what makes the row fully
    * DuckDB-oracle-able: σ are exact longs, every dependency term is the
    * same IEEE tree (σv/σw)·(1+δw), and both the per-node term fold and
    * the final per-root fold run in sorted order on both engines (the
    * q140/q154 deterministic-fold contract), so the doubles match bit for
    * bit under the standard 12dp guard. At corpus scale the SAME kernel
    * runs SAMPLED pivots (Brandes & Pich 2007 — the ranking survives; the
    * GraphSearchSpec recall-floor spec pins that), the q152/q154 landmark
    * discipline. Scale shape: composite-key frontier — one keyed
    * equi-join + rollup per BFS level forward, one per level backward;
    * rounds = diameter (4–5 here), never |pivots|. */
  def betweennessQ(s: SparkSession, dir: String): DataFrame = {
    val edges = affinityTopEdges(s, dir)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    val (bc, rounds) = graft.operators.Betweenness.fromPivotsWithRounds(
      edges, nodes, maxDepth = 20)
    require(rounds <= BcOracleDepth,
      s"q201 oracle unrolls $BcOracleDepth sigma/delta layers but the BFS " +
        s"ran $rounds — raise BcOracleDepth")
    bc.select(col("node"), round(col("betweenness"), 12).as("betweenness"))
      .orderBy("node")
  }

  /** SAMPLED-BETWEENNESS RECALL REPORT — the q80/q148/q174 discipline
    * applied to q201: the scale-correct mode (Brandes & Pich 2007 uniform
    * pivots — sampling IS the algorithm at corpus scale, the q152/q154
    * landmark posture) measured against the exact run ON THE REAL
    * affinity graph, so the approximate kernel's quality is a NUMBER in
    * the round artifacts, not a synthetic-spec assertion. Pivots are
    * every node with id ≡ 0 (mod 2) — deterministic, half the exact
    * row's work. TWO measured gates (numbers from `tools/ProbeBc2.scala`
    * at `0ab6ae2`):
    * top-10 recall ≥ 0.7 — measured 0.9 / 0.9 / 0.7 at sf0.001/0.01/0.1;
    * the sf0.1 misses are NOT rank inversions but boundary swaps inside
    * the flat centrality band at ranks 7–16 (scores 172→151, 1–2 %
    * apart), so the second gate pins the stronger band statement: EVERY
    * sampled top-10 pick must sit inside the exact top-16 (measured
    * 10/10 at all three SFs; densities up to 3/4 of all nodes still
    * missed 2/10 at the top-10 cut — the band, not the estimator, is
    * the limit; the q118 band-oracle discipline). ONE report row:
    * (n_nodes, n_pivots, k, hits, recall_top10, band_hits, band_ok)
    * under the pinned (betweenness DESC, node ASC) rank order. Rows-only
    * (no oracle — the number measures divergence from exact by design);
    * the exact twin q201 is fully oracled. EAGER like its twin:
    * resolving runs both kernels. Bench-excluded (the q148 rule: a
    * recall report re-runs the kernel the bench already times via
    * q201). */
  def betweennessSampledReport(s: SparkSession, dir: String): DataFrame = {
    val edges = affinityTopEdges(s, dir)
    val nodes = Loops.checkpoint(edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct(), eager = true)
    val pivots = nodes.filter(pmod(col("node"), lit(2)) === 0)
    val exact = Loops.checkpoint(graft.operators.Betweenness.fromPivots(
      edges, nodes, maxDepth = 20), eager = true)
    val sampled = graft.operators.Betweenness.fromPivots(
      edges, pivots, maxDepth = 20)
    val k = 10
    val band = 16
    def top(df: DataFrame, n: Int) = df
      .orderBy(col("betweenness").desc, col("node").asc).limit(n)
      .select("node")
    val topSampled = Loops.checkpoint(top(sampled, k), eager = true)
    val hits = top(exact, k).join(topSampled, Seq("node"), "left_semi")
      .count()
    val bandHits = topSampled.join(top(exact, band), Seq("node"),
      "left_semi").count()
    val recall = hits.toDouble / k
    require(recall >= 0.7,
      f"q214 sampled-betweenness top-$k recall $recall%.2f fell below " +
        "the measured 0.7 floor — densify the pivot set")
    require(bandHits == k,
      s"q214 sampled top-$k escaped the exact top-$band band " +
        s"($bandHits/$k contained) — a real rank inversion, not a " +
        "boundary swap; densify the pivot set")
    s.range(1).select(
      lit(nodes.count()).as("n_nodes"), lit(pivots.count()).as("n_pivots"),
      lit(k).as("k"), lit(hits).as("hits"), lit(recall).as("recall_top10"),
      lit(bandHits).as("band_hits"), lit(bandHits == k).as("band_ok"))
  }

  /** The q201 oracle: Brandes replayed relationally on the
    * [[affinityEdgesCte]] graph — BFS distances via the q154 recursive
    * walk, then `depth` unrolled σ layers forward (level DP: σ(v) sums
    * σ(u) over level-(d−1) neighbors) and `depth` unrolled δ layers
    * backward (δ(v) folds (σv/σw)·(1+δw) over level-(d+1) neighbors in
    * sorted order — the q154 `list_reduce(list(... ORDER BY ...))`
    * idiom), ½·Σ over pivots at the end. Layers are MATERIALIZED (each is
    * referenced by the next and by the final union — DuckDB's default
    * inlining would expand the chain exponentially, the q176 note). */
  private def betweennessOracleSql(depth: Int): String = {
    val sigChain = (1 to depth).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT s.root, a.nbr AS node, CAST(sum(s.sig) AS BIGINT) AS sig
         |  FROM s${i - 1} s JOIN adj a ON a.node = s.node
         |  JOIN md ON md.root = s.root AND md.node = a.nbr AND md.d = $i
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val sigUnion = (0 to depth)
      .map(i => s"SELECT root, node, sig, $i AS d FROM s$i")
      .mkString("\n  UNION ALL ")
    val deltaChain = ((depth - 1) to 0 by -1).map { i =>
      s"""t$i AS (
         |  SELECT v.root, v.node,
         |    list_reduce(
         |      list((CAST(v.sig AS DOUBLE) / CAST(w.sig AS DOUBLE)) *
         |             (1.0 + w.delta) ORDER BY w.node),
         |      (a, b) -> a + b) AS sdep
         |  FROM (SELECT * FROM sig WHERE d = $i) v
         |  JOIN adj a ON a.node = v.node
         |  JOIN d${i + 1} w ON w.root = v.root AND w.node = a.nbr
         |  GROUP BY 1, 2),
         |d$i AS MATERIALIZED (
         |  SELECT v.root, v.node, v.sig,
         |    COALESCE(t.sdep, CAST(0 AS DOUBLE)) AS delta
         |  FROM (SELECT * FROM sig WHERE d = $i) v
         |  LEFT JOIN t$i t ON t.root = v.root AND t.node = v.node)""".stripMargin
    }.mkString(",\n")
    val allUnion = (0 to depth)
      .map(i => s"SELECT root, node, delta FROM d$i")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $affinityEdgesCte,
       |adj AS MATERIALIZED (
       |  SELECT u AS node, v AS nbr FROM und
       |  UNION ALL SELECT v, u FROM und),
       |nd AS MATERIALIZED (SELECT DISTINCT node FROM adj),
       |walk AS (
       |  SELECT node AS root, node, 0 AS d FROM nd
       |  UNION
       |  SELECT w.root, a.nbr AS node, w.d + 1 AS d
       |  FROM walk w JOIN adj a ON a.node = w.node
       |  WHERE w.d < $depth),
       |md AS MATERIALIZED (SELECT root, node, min(d) AS d FROM walk GROUP BY 1, 2),
       |s0 AS MATERIALIZED (
       |  SELECT node AS root, node, CAST(1 AS BIGINT) AS sig FROM nd),
       |$sigChain,
       |sig AS MATERIALIZED (
       |  $sigUnion),
       |d$depth AS MATERIALIZED (
       |  SELECT root, node, sig, CAST(0 AS DOUBLE) AS delta
       |  FROM sig WHERE d = $depth),
       |$deltaChain,
       |alld AS (
       |  $allUnion),
       |bc AS (
       |  SELECT node,
       |    0.5 * list_reduce(list(delta ORDER BY root), (a, b) -> a + b) AS b
       |  FROM alld WHERE root <> node GROUP BY node)
       |SELECT n.node, round(COALESCE(bc.b, CAST(0 AS DOUBLE)), 12) AS betweenness
       |FROM nd n LEFT JOIN bc ON bc.node = n.node
       |ORDER BY 1""".stripMargin
  }

  /** The q188/q175-style affinity CTE at rank 8 (separate aliases so the
    * shared top-3 CTE stays byte-stable for its established oracles). */
  private val affinityEdgesCteTop8: String =
    """ev8 AS MATERIALIZED (
      |  SELECT user_id, ts, event_id,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
      |  FROM events),
      |tr8 AS MATERIALIZED (
      |  SELECT node AS src,
      |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM ev8 WHERE node IS NOT NULL),
      |wts8 AS MATERIALIZED (
      |  SELECT src, dst, count(*) AS w FROM tr8
      |  WHERE dst IS NOT NULL AND src <> dst GROUP BY 1, 2),
      |top8 AS MATERIALIZED (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
      |    FROM wts8) WHERE rn <= 8),
      |und8 AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM top8)""".stripMargin

  /** The q212 oracle: [[KatzDepth]] unrolled Katz layers over the
    * DIRECTED top-3 edges — each layer the same sorted fold (`list(t
    * ORDER BY src)` reduced left-to-right from an implicit leading term,
    * bit-identical to Spark's 0.0-seeded aggregate) scaled by the exact
    * 0.5 literal, accumulated in the same chain order. */
  private def katzOracleSql(depth: Int): String = {
    val chain = (1 to depth).map { k =>
      s"""t$k AS MATERIALIZED (
         |  SELECT n.node, COALESCE(f.t, CAST(0 AS DOUBLE)) AS t
         |  FROM nd n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      0.5 * list_reduce(list(p.t ORDER BY e.src),
         |                        (a, b) -> a + b) AS t
         |    FROM de e JOIN t${k - 1} p ON p.node = e.src
         |    GROUP BY e.dst) f ON f.node = n.node)""".stripMargin
    }.mkString(",\n")
    val acc = (1 to depth).map(k => s"t$k.t").mkString(" + ")
    val joins = (1 to depth)
      .map(k => s"JOIN t$k ON t$k.node = nd.node").mkString("\n")
    s"""WITH $affinityEdgesCte,
       |de AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM top3 WHERE src <> dst),
       |nd AS MATERIALIZED (SELECT DISTINCT src AS node FROM
       |  (SELECT src FROM de UNION ALL SELECT dst FROM de) t(src)),
       |t0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) AS t FROM nd)
       |,
       |$chain
       |SELECT nd.node, round(CAST(0 AS DOUBLE) + $acc, 12) AS katz
       |FROM nd
       |$joins
       |ORDER BY nd.node""".stripMargin
  }

  /** The q188 (and q204) oracle: mutual reachability as a depth-free
    * recursive closure over the DIRECTED top-3 edges (the affinity CTE's
    * `top3`, not `und`) — scc = min over the mutually-reachable set
    * including self. Shared verbatim by the full-recompute row (q188) and
    * the incremental-maintenance row (q204): output-invariance. */
  private def sccClosureOracleSql: String =
    s"WITH RECURSIVE $affinityEdgesCte,\n" +
      """de AS (SELECT src AS u, dst AS v FROM top3),
        |reach AS (
        |  SELECT u, v FROM de
        |  UNION
        |  SELECT r.u, de.v FROM reach r JOIN de ON de.u = r.v),
        |nd AS (SELECT DISTINCT u AS node FROM
        |        (SELECT u FROM de UNION ALL SELECT v FROM de) t(u)),
        |mutual AS (
        |  SELECT a.u AS n, a.v AS m
        |  FROM reach a JOIN reach b ON b.u = a.v AND b.v = a.u),
        |pairs AS (SELECT n, m FROM mutual
        |          UNION ALL SELECT node, node FROM nd)
        |SELECT n AS node, min(m) AS scc_id
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q195 oracle: unrolled truss peel layers. Per layer, triangles are
    * enumerated once each on the canonical node order (x<y<z via two
    * ordered joins — the same triangle set Spark's degree-ordered
    * orientation finds), exploded to their three edges, counted, and the
    * filter keeps support ≥ k−2; one extra support layer at the end
    * states each fixpoint edge's final support. All MATERIALIZED, all
    * integer arithmetic. */
  private def trussOracleSql(k: Int, layers: Int): String = {
    val base =
      s"""WITH $affinityEdgesCteTop8,
         |e0 AS MATERIALIZED (SELECT u, v FROM und8)""".stripMargin
    def triAndSup(i: Int) =
      s"""tri$i AS MATERIALIZED (
         |  SELECT a.u AS x, a.v AS y, b.v AS z
         |  FROM e${i - 1} a JOIN e${i - 1} b ON b.u = a.u AND b.v > a.v
         |  JOIN e${i - 1} c ON c.u = a.v AND c.v = b.v),
         |s$i AS MATERIALIZED (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
         |    SELECT x AS u, y AS v FROM tri$i
         |    UNION ALL SELECT x AS u, z AS v FROM tri$i
         |    UNION ALL SELECT y AS u, z AS v FROM tri$i) t
         |  GROUP BY 1, 2)""".stripMargin
    val chain = (1 to layers).map { i =>
      s"""${triAndSup(i)},
         |e$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${i - 1} e
         |  JOIN s$i s ON s.u = e.u AND s.v = e.v
         |  WHERE s.sup >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$chain,
       |${triAndSup(layers + 1)}
       |SELECT e.u, e.v, s.sup AS support
       |FROM e$layers e JOIN s${layers + 1} s ON s.u = e.u AND s.v = e.v
       |ORDER BY 1, 2""".stripMargin
  }

  /** The q176 oracle: unrolled peel layers over the [[affinityEdgesCte]]
    * base graph. Every layer is MATERIALIZED (referenced twice — degree
    * rollup and the edge filter — and chained; DuckDB's default inlining
    * would expand the chain exponentially). All integer arithmetic. */
  /** The q209 oracle: the q176 peel-layer pattern GRADED — one fixed-depth
    * chain per k in 2..maxK, each seeded by the previous k's fixpoint (the
    * nesting property: k-core(G) = k-core((k−1)-core)), shells unioned and
    * maxed. Any per-k unroll ≥ that k's converged wave count (asserted
    * in-query via [[graft.operators.KCore.corenessWithStats]]) yields the
    * identical fixpoints. */
  private def corenessOracleSql(maxK: Int, layers: Int): String = {
    val base =
      s"""WITH $affinityEdgesCte,
         |k1e$layers AS MATERIALIZED (SELECT u, v FROM und)""".stripMargin
    val chains = (2 to maxK).map { k =>
      val seed =
        s"""k${k}e0 AS MATERIALIZED (
           |  SELECT u, v FROM k${k - 1}e$layers)""".stripMargin
      val chain = (1 to layers).map { i =>
        s"""k${k}a$i AS MATERIALIZED (
           |  SELECT node FROM (
           |    SELECT u AS node FROM k${k}e${i - 1}
           |    UNION ALL SELECT v FROM k${k}e${i - 1})
           |  GROUP BY node HAVING count(*) >= $k),
           |k${k}e$i AS MATERIALIZED (
           |  SELECT u, v FROM k${k}e${i - 1}
           |  WHERE u IN (SELECT node FROM k${k}a$i)
           |    AND v IN (SELECT node FROM k${k}a$i))""".stripMargin
      }.mkString(",\n")
      s"$seed,\n$chain"
    }.mkString(",\n")
    val shells = (2 to maxK).map { k =>
      s"""SELECT node, $k AS k FROM (
         |  SELECT u AS node FROM k${k}e$layers
         |  UNION SELECT v FROM k${k}e$layers)""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""$base,
       |$chains
       |SELECT node, CAST(max(k) AS BIGINT) AS coreness FROM (
       |  SELECT node, 1 AS k FROM (
       |    SELECT u AS node FROM und UNION SELECT v FROM und)
       |  UNION ALL $shells)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  private def kcoreOracleSql(k: Int, layers: Int): String = {
    val base =
      s"""WITH $affinityEdgesCte,
         |e0 AS MATERIALIZED (SELECT u, v FROM und)""".stripMargin
    val chain = (1 to layers).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT u AS node FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
         |  GROUP BY node HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT node FROM a$i) AND v IN (SELECT node FROM a$i))""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$chain
       |SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM (
       |  SELECT u AS node FROM e$layers UNION ALL SELECT v FROM e$layers)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** Period-over-period snapshot diff ([[graft.operators.SnapshotDiff
    * .diff]]): each user's activity rollup for Jan 1–15 vs Jan 16–30,
    * emitting only users whose state moved (added / removed / changed) —
    * the incremental-refresh audit primitive. Totals go through DECIMAL
    * (exact, engine-independent); planted users force every change branch
    * at every SF (99901 removed, 99902 added, 99903 identical → NO row —
    * the unchanged-suppression contract). */
  def snapshotDiffQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def snap(lo: String, hi: String, planted: Seq[(Long, Long, Double)]) =
      T(s, dir, "events")
        .filter(col("ts") >= lit(lo).cast("timestamp") &&
          col("ts") < lit(hi).cast("timestamp"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .unionAll(planted.toDF("user_id", "n_events", "total_value"))
    val older = snap("2024-01-01", "2024-01-16",
      Seq((99901L, 5L, 10.0), (99903L, 2L, 4.0)))
    val newer = snap("2024-01-16", "2024-01-31",
      Seq((99902L, 3L, 6.0), (99903L, 2L, 4.0)))
    graft.operators.SnapshotDiff.diff(older, newer,
      Seq("user_id"), Seq("n_events", "total_value"))
      .orderBy("user_id")
  }

  private val streamWindowRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The WATERMARKED APPEND-MODE streaming surface, driver-oracled — the
    * state-store behavior q105 (stateless) and q121 (complete-mode) leave
    * unexercised: events stream in four time-ordered micro-batches through
    * [[graft.streaming.EventStream.windowedCountsExact]] (1-hour tumbling
    * windows, 30-minute watermark) into an APPEND sink, so a window row is
    * emitted exactly once — when the advancing watermark EVICTS its state —
    * and never retracted. The accumulated sink is therefore "every window
    * finalized by the final watermark", a set batch SQL states exactly:
    * windows whose end ≤ max(ts) − 30 min (watermark timestamps are
    * millisecond-floored; whole-hour window ends make the floor
    * unobservable). Files are range-split ON ts and their modification
    * times stamped in range order (FileStreamSource picks oldest-first), so
    * batches arrive in event-time order and NO row is ever late-dropped —
    * the property that makes the streamed result batch-equal. Counts are
    * exact longs; the value sum rides DECIMAL (order-independent), so the
    * driver hash-compares bit-for-bit.
    *
    * Scale shape: one keyed state store bounded by (windows inside the
    * watermark horizon × event types) — eviction is the point; the batch
    * equivalent is one map-side-combined rollup. */
  /** Write `df` as `parts` range-split parquet files whose modification
    * times replay in `tsCol` order — FileStreamSource picks oldest-first,
    * so a `maxFilesPerTrigger=1` stream over the returned directory
    * delivers micro-batches in EVENT-TIME order (the q142 contract that
    * makes watermarked streamed results batch-equal: no row ever arrives
    * late). A filesystem that refuses the stamp would reorder batches and
    * silently late-drop rows — fail loudly instead. */
  private def stampedTsReplay(df: DataFrame, tsCol: String, parts: Int,
      prefix: String): String = {
    val src = java.nio.file.Files.createTempDirectory(prefix).toString
    df.repartitionByRange(parts, col(tsCol)).write.mode("overwrite").parquet(src)
    val files = new java.io.File(src).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    files.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(1700000000000L + i * 60000L),
        s"could not stamp modification time on ${f.getName} — " +
          "batch order (and therefore watermark semantics) would be undefined")
    }
    src
  }

  def streamWindowedAppend(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("ts"), col("event_type"), col("value"))
    val src = stampedTsReplay(ev, "ts", 4, "q142_src")
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val counted = graft.streaming.EventStream
      .windowedCountsExact(stream, "30 minutes", "1 hour")
    val sink = s"q142_sink_${streamWindowRuns.incrementAndGet()}"
    val q = counted.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // materialize, then release the run's resources — without this every
    // invocation leaks a temp parquet dir and an accumulating memory-sink
    // table (repeated correctness runs grow disk + driver heap unboundedly)
    val out = Loops.checkpoint(
      s.table(sink).orderBy("window_start", "event_type"), eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(src)
    out
  }

  /** Best-effort recursive delete of a query-scoped temp directory (the
    * streaming sources write one per invocation; leaving them accumulates
    * disk across correctness runs). Best-effort: a failed delete must never
    * fail the already-computed query. */
  private def deleteDirTree(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rec)
      f.delete(): Unit
    }
    try rec(new java.io.File(path)) catch { case _: Exception => () }
  }

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

  /** The STREAM-STREAM JOIN surface, driver-oracled — the one Structured
    * Streaming join shape the registered rows (stateless gate q105,
    * complete-mode agg q121, append windowed agg q142, index maintenance
    * q147) leave unexercised: view events and purchase events run as TWO
    * independent watermarked file streams through
    * [[graft.streaming.EventStream.correlateStreams]] (user-keyed interval
    * join: purchase within 1 hour AFTER the view — the attribution
    * correlation), APPEND sink, both sides replayed in event-time order
    * ([[stampedTsReplay]]).
    *
    * Batch equality (what makes it DuckDB-oracle-able): the global
    * watermark is the MIN over both sources, each replayed in ts order, so
    * no row ever arrives behind it (nothing late-drops) and state eviction
    * only ever discards rows past the join bound — the accumulated sink IS
    * the batch interval join. Timestamps are exact µs on both engines
    * (generator is µs-aligned; probed), the bound is integer-interval
    * arithmetic, and the joined rows carry RAW columns (no float math), so
    * the driver hash-compares bit-for-bit.
    *
    * Scale shape: per-side state is bounded by the watermark horizon × the
    * join window (eviction is the point); the batch equivalent is one
    * user-keyed equi-join with the time bound as a residual predicate. */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_event"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_event"), col("value"))
    val srcV = stampedTsReplay(views, "view_ts", 4, "q149_views")
    val srcP = stampedTsReplay(purchases, "purchase_ts", 4, "q149_purchases")
    val vStream = s.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcV)
    val pStream = s.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcP)
    val joined = graft.streaming.EventStream.correlateStreams(
      vStream, "view_ts", pStream, "purchase_ts",
      keys = Seq("user_id"), watermark = "30 minutes", within = "1 HOUR")
    val sink = s"q149_sink_${streamJoinRuns.incrementAndGet()}"
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = Loops.checkpoint(s.table(sink)
      .orderBy("user_id", "view_ts", "view_event", "purchase_ts", "purchase_event"),
      eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(srcV)
    deleteDirTree(srcP)
    out
  }

  private val streamJoinRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The LEFT-OUTER stream-stream join, driver-oracled — q149's completion
    * semantics: a view whose 1-hour match window closes UNMATCHED is
    * emitted once with null purchase columns at state-eviction time (the
    * only moment a stream can prove "no purchase ever came"), while views
    * whose window the final watermark never passed remain buffered and are
    * ABSENT from the sink. That eviction-gated tail is exactly what batch
    * SQL can state: the final watermark is min over both sources of
    * (ms-floored max event time − 30 min), and an unmatched view emits iff
    * `view_ts + 1 hour < watermark` (the strict inequality pinned against
    * the engine at every SF — Spark evicts left state strictly below the
    * watermark-derived bound). Matched rows are q149's rows unchanged.
    * Everything else (ordered replay, min-watermark no-late-drops, exact µs
    * arithmetic, raw columns) carries over from q149. */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_event"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_event"), col("value"))
    val srcV = stampedTsReplay(views, "view_ts", 4, "q150_views")
    val srcP = stampedTsReplay(purchases, "purchase_ts", 4, "q150_purchases")
    val vStream = s.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcV)
    val pStream = s.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcP)
    val joined = graft.streaming.EventStream.correlateStreams(
      vStream, "view_ts", pStream, "purchase_ts",
      keys = Seq("user_id"), watermark = "30 minutes", within = "1 HOUR",
      joinType = "left_outer")
    val sink = s"q150_sink_${streamJoinRuns.incrementAndGet()}"
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = Loops.checkpoint(s.table(sink)
      .orderBy("user_id", "view_ts", "view_event", "purchase_ts", "purchase_event"),
      eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(srcV)
    deleteDirTree(srcP)
    out
  }

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

  /** The FULL-OUTER stream-stream join, driver-oracled — the last cell of
    * the streaming join matrix (q149 inner, q150 left-outer): BOTH sides'
    * completeness sweeps in one stream. Unmatched views null-pad exactly as
    * q150 pinned (`view_ts + 1 hour < watermark`, strict); unmatched
    * purchases null-pad at THEIR state eviction — a purchase at `t` can
    * still match a future view iff a view with `view_ts <= t` can still
    * arrive, which the watermark forecloses once it passes `t`, so the
    * emission rule is `purchase_ts < watermark` (strict, pinned against the
    * engine at every SF like q150's left rule). Key columns COALESCE across
    * sides, so right-only rows carry their user_id. Everything else
    * (ordered replay, min-watermark no-late-drops, exact µs arithmetic, raw
    * columns) carries over from q149/q150. */
  def streamFullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_event"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_event"), col("value"))
    val srcV = stampedTsReplay(views, "view_ts", 4, "q173_views")
    val srcP = stampedTsReplay(purchases, "purchase_ts", 4, "q173_purchases")
    val vStream = s.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcV)
    val pStream = s.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcP)
    val joined = graft.streaming.EventStream.correlateStreams(
      vStream, "view_ts", pStream, "purchase_ts",
      keys = Seq("user_id"), watermark = "30 minutes", within = "1 HOUR",
      joinType = "full_outer")
    val sink = s"q173_sink_${streamJoinRuns.incrementAndGet()}"
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = Loops.checkpoint(s.table(sink)
      .orderBy("user_id", "view_ts", "view_event", "purchase_ts", "purchase_event"),
      eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(srcV)
    deleteDirTree(srcP)
    out
  }

  /** RIGHT-OUTER stream-stream join — the last cell of the streaming join
    * matrix (inner q149 / left q150 / full q173 / RIGHT q184): only the
    * unmatched PURCHASES null-pad, each exactly once at state eviction
    * (the watermark passes the purchase's own timestamp — the tightest
    * view a purchase at `t` can join sits at `view_ts = t`), while
    * matched pairs emit as they join. Same replay/watermark machinery as
    * q173; the oracle is q173's restatement MINUS the unmatched-view
    * tail — pinning that right_outer emits exactly the full_outer's
    * right-side sweep and nothing else. */
  def streamRightOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_event"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_event"), col("value"))
    val srcV = stampedTsReplay(views, "view_ts", 4, "q184_views")
    val srcP = stampedTsReplay(purchases, "purchase_ts", 4, "q184_purchases")
    val vStream = s.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcV)
    val pStream = s.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcP)
    val joined = graft.streaming.EventStream.correlateStreams(
      vStream, "view_ts", pStream, "purchase_ts",
      keys = Seq("user_id"), watermark = "30 minutes", within = "1 HOUR",
      joinType = "right_outer")
    val sink = s"q184_sink_${streamJoinRuns.incrementAndGet()}"
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = Loops.checkpoint(s.table(sink)
      .orderBy("user_id", "view_ts", "view_event", "purchase_ts", "purchase_event"),
      eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(srcV)
    deleteDirTree(srcP)
    out
  }

  /** The CUSTOM-KEYED-STATE streaming surface, driver-oracled — the
    * `flatMapGroupsWithState` shape (q105 stateless / q121 complete agg /
    * q142 windowed append / q149-q150 joins leave it the one uncovered
    * stateful primitive): gap sessionization through
    * [[graft.streaming.EventStream.sessionize]] (explicit per-user state,
    * event-time TIMEOUT closes idle sessions via the watermark), events
    * replayed in event-time order, APPEND sink.
    *
    * Batch restatement: the engine's state math runs on `Timestamp.getTime`
    * MILLISECONDS (sub-ms micros truncate — the generator has them, so the
    * oracle floors via `epoch_ns // 1 000 000`); with ordered replay a
    * user's sessions close two ways, both batch-expressible — by GAP (a
    * later event > 30 min after the session's last: every session except
    * the user's final one) or by TIMEOUT (the final watermark, ms-floored
    * max ts − 30 min, passes `last + gap` STRICTLY — the `hasTimedOut`
    * inequality pinned at every SF). A final session the watermark never
    * closed stays buffered and is ABSENT. Output pins the FULL row —
    * (user, bounds-ms, count, sum): bounds and count are exact integers,
    * and `sum_value` rides exact DECIMAL(18,2)-cents accumulation inside
    * the state (order-independent long addition — the q142 policy routed
    * through `flatMapGroupsWithState`), so the oracle hash-verifies every
    * emitted column, ms-tie arrival order included. */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    val src = stampedTsReplay(ev, "ts", 4, "q151_src")
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val sessions = graft.streaming.EventStream.sessionize(
      stream.as[graft.streaming.EventStream.Event],
      watermark = "30 minutes", gapMillis = 30L * 60 * 1000)
    val sink = s"q151_sink_${streamJoinRuns.incrementAndGet()}"
    val q = sessions.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = Loops.checkpoint(s.table(sink)
      .select(col("user_id"), unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("session_end")).as("last_ms"), col("n_events"),
        col("sum_value"))
      .orderBy("user_id", "start_ms"), eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(src)
    out
  }

  /** VIDEO near-dup pairs ([[graft.multimodal.Multimodal.videoNearDupPairs]]):
    * the synthetic video corpus unioned with two planted variant families —
    * exact RE-ENCODES (same payload, new id) and TRIMMED copies (the
    * container REASSEMBLED from frame 1 onward: frameSample splits the
    * stream into standalone BMPs, a bounded sorted fold concatenates the
    * tail back into a valid motion-BMP — the declarative cut a video
    * pipeline performs). dHash per frame is a pure integer function of the
    * raster, the generator's frame seeds (id·31 + f) are collision-free
    * across the corpus and frames are distinct within each video (frozen
    * corpus, spec-verified), so the pair set is CLOSED FORM: each
    * non-corrupt video (f = 2 + id%4 frames) pairs with its re-encode at
    * Jaccard 1 and both pair with the trim at (f−1)/f — the q125/q25
    * range-arithmetic oracle pattern, jaccard as the identical integer
    * division on both engines. Corrupt videos walk zero frames and emit
    * nothing. */
  def videoNearDup(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val media = mm.syntheticMedia(s, 600).filter(col("kind") === "video")
      .select("media_id", "kind", "payload")
    val copies = media.select((col("media_id") + lit(100000L)).as("media_id"),
      col("kind"), col("payload"))
    val trimmed = mm.frameSample(media, everyK = 1)
      .filter(col("frame_idx") >= 1)
      .groupBy("media_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("frame_idx"), col("frame")))),
        lit(Array.emptyByteArray),
        (acc, x) => concat(acc, x.getField("frame"))).as("payload"))
      .select((col("media_id") + lit(200000L)).as("media_id"),
        lit("video").as("kind"), col("payload"))
    mm.videoNearDupPairs(
      media.unionByName(copies).unionByName(trimmed), minJaccard = 0.3)
      .orderBy("id_a", "id_b")
  }

  /** AUDIO near-dup pairs — the third modality closing the dedup symmetry
    * (q125 image, q144 video): the synthetic audio corpus unioned with its
    * STEREO RE-LAYOUTS ([[graft.multimodal.Multimodal.toStereoDup]] — every
    * mono clip re-containered as duplicated-channel stereo: same content,
    * twice the bytes, byte hashing can never pair them), hashed by the
    * 64-bit envelope-gradient hash ([[graft.multimodal.Multimodal
    * .audioEnvelopeHash64]], a pure function of per-frame channel MEANS —
    * exactly layout-invariant), paired by the banded-Hamming equi-join at
    * distance 0. Closed form (the q125/q144 pattern): each non-corrupt MONO
    * audio id (i%3=1, i%2=0, i%97≠13) pairs with its re-layout at Hamming
    * 0; envelope hashes are distinct across clips on the frozen generator
    * (spec-pinned), so no other pair exists. */
  def audioDupPairs(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val media = mm.syntheticMedia(s, 600).filter(col("kind") === "audio")
      .select("media_id", "kind", "payload")
    val stereo = mm.toStereoDup(media).filter(col("stereoized"))
      .select((col("media_id") + lit(100000L)).as("media_id"),
        col("kind"), col("payload"))
    val hashes = mm.audioHash(media.unionByName(stereo)).filter(col("valid"))
      .select(col("media_id"), col("ahash"))
    graft.operators.Dedup.hammingNearDupPairs(
      hashes, "media_id", "ahash", bits = 64, maxHamming = 0)
      .orderBy("id_a", "id_b")
  }

  /** MEASURED RECALL for the perceptual near-dup kernels — the q80 posture
    * extended to q144/q145, closing "robustness is a property of the
    * generator, not a number": each planted pair is a non-corrupt media row
    * versus a REAL perturbed re-encode of itself —
    * [[graft.multimodal.Multimodal.lumaNudge]] (+1 on every pixel byte,
    * clipped — the lossy-transcode shift) for video,
    * [[graft.multimodal.Multimodal.scaleAmplitude]] (×9/10 integer
    * requantization) for audio — and the report row counts how many planted
    * pairs the kernel recovers at its operating thresholds. Rows-only (the
    * recall denominators are deterministic but the perturbed payloads are
    * not SQL-expressible); the kernels' EXACTNESS is separately
    * driver-hash-verified by q144/q145, and MultimodalSpec asserts floors
    * on these same numbers so a robustness regression fails the suite, not
    * just the report. */
  def perceptualRecall(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    def row(kernel: String, truth: DataFrame, found: DataFrame): DataFrame = {
      val hit = truth.join(found.select("id_a", "id_b"),
        Seq("id_a", "id_b"), "left_semi").agg(count(lit(1)).as("n_hit"))
      truth.agg(count(lit(1)).as("n_exact")).crossJoin(hit).select(
        lit(kernel).as("kernel"), col("n_exact"), col("n_hit"),
        when(col("n_exact") > 0,
          col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
    }
    // the perturb/decode/hash passes are the expensive part and every frame
    // below is referenced 2-4 times (two video thresholds, two Hamming
    // radii, truth + corpus per kernel) — checkpoint each once (the q147
    // posture) instead of re-running the codec work per report row
    val media = mm.syntheticMedia(s, 600)
    val videos = media.filter(col("kind") === "video")
      .select("media_id", "kind", "payload")
    val nudged = Loops.checkpoint(
      mm.lumaNudge(videos, delta = 1).filter(col("nudged")), eager = true)
    val vTruth = nudged.select(col("media_id").as("id_a"),
      (col("media_id") + lit(100000L)).as("id_b"))
    val vCorpus = Loops.checkpoint(videos.unionByName(
      nudged.select((col("media_id") + lit(100000L)).as("media_id"),
        col("kind"), col("payload"))), eager = true)
    val audio = media.filter(col("kind") === "audio")
      .select("media_id", "kind", "payload")
    val ascaled = Loops.checkpoint(
      mm.scaleAmplitude(audio, 9, 10).filter(col("scaled")), eager = true)
    val aTruth = ascaled.select(col("media_id").as("id_a"),
      (col("media_id") + lit(100000L)).as("id_b"))
    val aHashes = Loops.checkpoint(mm.audioHash(audio.unionByName(
        ascaled.select((col("media_id") + lit(100000L)).as("media_id"),
          col("kind"), col("payload"))))
      .filter(col("valid")).select("media_id", "ahash"), eager = true)
    def audioPairs(maxHamming: Int) = graft.operators.Dedup
      .hammingNearDupPairs(aHashes, "media_id", "ahash",
        bits = 64, maxHamming = maxHamming)
    Seq(
      row("q144_video_vs_lumanudge_j05", vTruth,
        mm.videoNearDupPairs(vCorpus, minJaccard = 0.5)),
      row("q144_video_vs_lumanudge_j03", vTruth,
        mm.videoNearDupPairs(vCorpus, minJaccard = 0.3)),
      row("q145_audio_vs_ampscale_h0", aTruth, audioPairs(0)),
      row("q145_audio_vs_ampscale_h2", aTruth, audioPairs(2))
    ).reduce(_ unionAll _).orderBy("kernel")
  }

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

  /** Heavy trigrams, exact ([[graft.operators.HeavyHitters.frequentGrams]]):
    * every complete word trigram the corpus repeats ≥ 5 times, with exact
    * counts — the frequent-phrase mining rollup. One gram-rollup shuffle +
    * the presentation sort. */
  def heavyGrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters.frequentGrams(
      T(s, dir, "documents"), "text", n = 3, minCount = 5L)

  /** q117 with the count-min prescreen
    * ([[graft.operators.HeavyHitters.frequentGramsSketched]]): the gram
    * stream is sketched into a fixed-size CMS and only grams whose estimate
    * reaches the threshold shuffle to the exact rollup. CMS never
    * underestimates, so the prescreen is output-invariant — q118 runs
    * against q117's exact oracle, the same driver-checked exactness
    * statement as the q52/q113 bloom pair. */
  def heavyGramsSketched(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters.frequentGramsSketched(
      T(s, dir, "documents"), "text", n = 3, minCount = 5L)

  /** Weekly unique users from the per-day HLL sketch table
    * ([[graft.operators.DistinctRollup]]): ONE event-log pass builds the
    * day×sketch frame, and the weekly grain re-aggregates sketches alone
    * (register-max union — no event rescan, the pre-aggregated pattern that
    * answers ANY range at 100 TB in O(days)). Approximate by nature (~1.6%
    * RSE at the default lgK), so no cross-engine oracle — the driver checks
    * rows; exactness is carried by the q120 coupon-regime fixture twin and
    * the spec's merge-equality + error-bound pins. */
  def weeklyUniquesSketched(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.operators.DistinctRollup
      .dailySketches(T(s, dir, "events"), "ts", "user_id")
    graft.operators.DistinctRollup
      .rollupUniques(daily, floor(col("day") / 7).cast("long"), "week")
      .orderBy("week")
  }

  /** Frozen rows the q120 HLL fixture and its DuckDB VALUES mirror both
    * derive from: 3 days with overlapping user sets (range-distinct 40 <
    * sum-of-daily-distinct 56 — the union must actually dedup). */
  private val hllFixtureRows: Seq[(Long, Long)] =
    (1 to 20).map(u => (0L, u.toLong)) ++
      (11 to 35).map(u => (1L, u.toLong)) ++
      (30 to 40).map(u => (2L, u.toLong))

  /** The q119 kernel where the approximate output provably equals the exact
    * answer (the ANN-fixture pattern): at ≤56 distinct keys the DataSketches
    * HLL sketch is still in its exact coupon-list regime, so per-day AND
    * range estimates equal true distinct counts, and the DuckDB mirror
    * computes them as plain COUNT(DISTINCT) over the same VALUES. The range
    * row exercises the sketch UNION path (3-way register merge), not just
    * single-sketch estimation. */
  def hllFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = hllFixtureRows.toDF("day", "user_id")
    val daily = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("key_sketch"),
        count(lit(1)).as("n_events"))
    val perDay = daily.select(
      lit("day").as("grain"), col("day").as("key"),
      hll_sketch_estimate(col("key_sketch")).as("approx_uniques"),
      col("n_events"))
    val range = graft.operators.DistinctRollup
      .rollupUniques(daily, lit(-1L), "key")
      .select(lit("range").as("grain"), col("key"),
        col("approx_uniques"), col("n_events"))
    perDay.unionByName(range).orderBy("grain", "key")
  }

  /** The k the q190 KMV sketch keeps. 64 saturates on every day at
    * sf0.01+ (hundreds of distinct users/day), exercising the ESTIMATOR
    * path, and stays UNSATURATED at sf0.001 (15 users), exercising the
    * exact path — both branches driver-verified; hand-data pins are in
    * OperatorsSpec. */
  private val KmvK = 64

  /** MERGEABLE DISTINCT-COUNT SKETCH, fully oracled
    * ([[graft.operators.Kmv]], bottom-k / KMV — Beyer et al. SIGMOD'07):
    * per-DAY sketches of distinct user_id plus the MERGED range row (the
    * q120 grain/key shape), each beside its exact count — the
    * distinct-rollup primitive q119/q120 cover with HLL, restated with the
    * sketch family whose estimate is a pure deterministic function of the
    * data (an explicit portable hash + an order statistic), so unlike HLL
    * it gets a full DuckDB oracle instead of a frozen fixture: the engines
    * agree on the k-set, the k-th minimum, and the one-IEEE-division
    * estimate bit for bit. The merged row is the point of the sketch:
    * range cardinality from 30 days of k-bounded state only, no rescan —
    * the cross-partition/cross-day rollup shape at 100 TB (daily user
    * sets OVERLAP, so the union row is a genuine dedup across sketches,
    * not a sum). exact_distinct rides along as the eval column (the q178
    * approx-vs-truth report pattern). */
  /** DAY-OVER-DAY AUDIENCE SIMILARITY FROM SKETCHES
    * ([[graft.operators.Kmv.jaccardEstimate]], Beyer et al. SIGMOD'07 §5)
    * — set algebra on the O(k) state q190 already keeps: for each
    * consecutive-day pair, Jaccard estimated as |M ∩ A ∩ B| / |M| with M
    * the bottom-k of the sketch union — no raw-data rescan (the
    * [[graft.operators.Overlap]] theta-sketch role on the fully
    * oracle-able family). The LCG mixer makes the ESTIMATE a pure
    * function of the data, so the oracle replays it exactly — and the
    * exact Jaccard twin rides in-row (both are single IEEE divisions of
    * exact integers), making the estimator's error a visible, verified
    * number at every SF. */
  def kmvJaccardDays(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
        .as("key"), col("user_id"))
    val sk = graft.operators.Kmv.sketch(ev, Seq("key"), "user_id", KmvK)
    val pairs = sk.select(col("key").as("day_a"), col("kmv").as("kmv_a"))
      .join(sk.select((col("key") - 1).as("day_a"), col("key").as("day_b"),
        col("kmv").as("kmv_b")), Seq("day_a"))
    val du = ev.distinct()
    val inter = du.select(col("key").as("day_a"), col("user_id"))
      .join(du.select((col("key") - 1).as("day_a"), col("user_id")),
        Seq("day_a", "user_id"))
      .groupBy("day_a").agg(count(lit(1)).as("n_inter"))
    val cnt = du.groupBy("key").agg(count(lit(1)).as("n"))
    pairs
      .join(cnt.toDF("day_a", "__na"), Seq("day_a"))
      .join(cnt.toDF("day_b", "__nb"), Seq("day_b"))
      .join(inter, Seq("day_a"), "left_outer")
      .select(col("day_a"), col("day_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("__na") + col("__nb") - coalesce(col("n_inter"), lit(0L)))
          .as("n_union"),
        (coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("__na") + col("__nb") - coalesce(col("n_inter"), lit(0L)))
            .cast("double")).as("jaccard_exact"),
        graft.operators.Kmv.jaccardEstimate(col("kmv_a"), col("kmv_b"),
          KmvK).as("jaccard_est"))
      .orderBy("day_a")
  }

  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
        .as("key"), col("user_id"))
    val sk = graft.operators.Kmv.sketch(ev, Seq("key"), "user_id", KmvK)
    val withAll = sk.select(lit("day").as("grain"), col("key"), col("kmv"))
      .unionByName(graft.operators.Kmv.mergeAll(sk, KmvK)
        .select(lit("range").as("grain"), lit(-1L).as("key"), col("kmv")))
    val exact = ev.groupBy("key")
      .agg(countDistinct("user_id").as("exact_distinct"))
      .select(lit("day").as("grain"), col("key"), col("exact_distinct"))
      .unionByName(ev.agg(countDistinct("user_id").as("exact_distinct"))
        .select(lit("range").as("grain"), lit(-1L).as("key"),
          col("exact_distinct")))
    withAll.select(col("grain"), col("key"),
        size(col("kmv")).cast("long").as("n_kept"),
        when(size(col("kmv")) >= KmvK, element_at(col("kmv"), KmvK))
          .as("kth_min"),
        graft.operators.Kmv.estimate(col("kmv"), KmvK).as("est_distinct"))
      .join(exact, Seq("grain", "key"))
      .orderBy("grain", "key")
  }

  private val streamKmvRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** STREAMED KMV SKETCH MAINTENANCE, batch-equality ORACLED
    * ([[graft.streaming.EventStream.kmvSketchStream]]): the q190 per-day
    * distinct-user sketches maintained as STREAMING STATE — events arrive
    * in 4 round-robin micro-batches (every day's rows split across ALL
    * batches, so each key's sketch is genuinely updated incrementally),
    * O(k) state per key forever, the live-dashboard form of the
    * cardinality rollup. The sketch is a SET property of the data, so the
    * streamed fixpoint equals the batch sketch EXACTLY under any arrival
    * interleaving — the same q190 day-grain oracle verifies the full row
    * (the q105/q167 batch-equality argument extended to STATEFUL
    * maintenance; latest state selected by the monotone n_seen counter,
    * no wall-clock anywhere). */
  def streamKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
        .as("key"), col("user_id"))
    val src = java.nio.file.Files.createTempDirectory("q198_src").toString
    ev.repartition(4).write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val sk = graft.streaming.EventStream.kmvSketchStream(
      stream, "key", "user_id", KmvK)
    val sink = s"q198_sink_${streamKmvRuns.incrementAndGet()}"
    val q = sk.writeStream.format("memory").queryName(sink)
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val latest = s.table(sink).groupBy("key")
      .agg(max_by(col("kmv"), col("n_seen")).as("kmv"))
    val exact = ev.groupBy("key")
      .agg(countDistinct("user_id").as("exact_distinct"))
    val out = Loops.checkpoint(latest.select(col("key"),
        size(col("kmv")).cast("long").as("n_kept"),
        when(size(col("kmv")) >= KmvK, element_at(col("kmv"), KmvK))
          .as("kth_min"),
        graft.operators.Kmv.estimate(col("kmv"), KmvK).as("est_distinct"))
      .join(exact, Seq("key"))
      .orderBy("key"), eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(src)
    out
  }

  /** SLIDING-WINDOW DISTINCT via sketch merge
    * ([[graft.operators.Kmv.mergeTrailing]]): 7-day trailing distinct
    * users, daily — the rollup workload MERGEABLE sketches exist for. The
    * sketch path touches only the 30 daily k-bounded sketches (each
    * contributing to its 7 windows through an exploded offset equi-group —
    * the RangeJoin exactly-once bin discipline, never a BNLJ); the exact
    * column rescans the raw events window×7 — carried here as the eval
    * column (the q178/q190 approx-vs-truth pattern) precisely because at
    * 100 TB nobody would. Full windows only (n_periods = 7); same
    * estimator/exactness contract as q190. */
  def kmvSlidingDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
        .as("key"), col("user_id"))
    val merged = graft.operators.Kmv.mergeTrailing(
        graft.operators.Kmv.sketch(ev, Seq("key"), "user_id", KmvK),
        "key", window = 7, k = KmvK)
      .filter(col("n_periods") === 7)
    val exact = ev
      .select(col("key"), col("user_id"),
        explode(sequence(lit(0), lit(6))).as("__off"))
      .select((col("key") + col("__off")).as("key"), col("user_id"))
      .groupBy("key").agg(countDistinct("user_id").as("exact_distinct"))
    merged.select(col("key"),
        size(col("kmv")).cast("long").as("n_kept"),
        when(size(col("kmv")) >= KmvK, element_at(col("kmv"), KmvK))
          .as("kth_min"),
        graft.operators.Kmv.estimate(col("kmv"), KmvK).as("est_distinct"))
      .join(exact, Seq("key"))
      .orderBy("key")
  }

  /** Estimate band for the production-hash twin q200: KMV with k = 64 has
    * relative standard error ≈ 1/√(k−2) ≈ 12.7%, so 0.35 is ~2.8σ. The
    * check is DETERMINISTIC per dataset (one fixed hash of fixed data), so
    * the row cannot flake — the band documents the estimator's quality
    * class. Measured (`tools/ProbeXx.scala` at `0ab6ae2`): sf0.001 fully
    * unsaturated (exact path,
    * zero mismatches); saturated grains ≤ 19.8% off exact at sf0.01 and
    * ≤ 10.2% at sf0.1 — inside the band with ≥ 1.7× margin. */
  private val KmvXxBand = 0.35

  /** PRODUCTION-HASH KMV twin ([[graft.operators.Kmv.hashXx]] — Spark's
    * codegen'd xxhash64 masked to [0, 2⁶²)) of q190's per-day + merged
    * range sketch: the estimator you would actually ship, registered so a
    * round artifact describes ITS quality, not just the demonstration
    * LCG's (the q118≡q117 sketched-twin discipline). The mixer is
    * engine-specific, so the oracle pins the exact columns and an estimate
    * BAND instead of hash values: `n_kept` must equal min(exact, k) —
    * i.e. zero 62-bit collisions among each grain's distinct keys, a
    * deterministic property of the fixed dataset — and `band_ok` asserts
    * the unsaturated path is EXACT and the saturated estimate sits within
    * [[KmvXxBand]] of the true cardinality. Same scale shape as q190: one
    * distinct pass + bounded-heap rollup, O(k) state per grain. */
  def kmvXxDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
        .as("key"), col("user_id"))
    val sk = graft.operators.Kmv.sketch(ev, Seq("key"), "user_id", KmvK,
      graft.operators.Kmv.hashXx)
    val withAll = sk.select(lit("day").as("grain"), col("key"), col("kmv"))
      .unionByName(graft.operators.Kmv.mergeAll(sk, KmvK)
        .select(lit("range").as("grain"), lit(-1L).as("key"), col("kmv")))
    val exact = ev.groupBy("key")
      .agg(countDistinct("user_id").as("exact_distinct"))
      .select(lit("day").as("grain"), col("key"), col("exact_distinct"))
      .unionByName(ev.agg(countDistinct("user_id").as("exact_distinct"))
        .select(lit("range").as("grain"), lit(-1L).as("key"),
          col("exact_distinct")))
    val est = graft.operators.Kmv.estimate(col("kmv"), KmvK,
      graft.operators.Kmv.XxModulus)
    withAll
      .join(exact, Seq("grain", "key"))
      .select(col("grain"), col("key"),
        size(col("kmv")).cast("long").as("n_kept"),
        col("exact_distinct"),
        when(size(col("kmv")) < KmvK,
            est === col("exact_distinct").cast("double"))
          .otherwise(
            abs(est / col("exact_distinct").cast("double") - 1.0)
              <= KmvXxBand)
          .as("band_ok"))
      .orderBy("grain", "key")
  }

  /** FUNCTIONAL-DEPENDENCY / CANDIDATE-KEY discovery
    * ([[graft.operators.Profile.functionalDeps]]) over orders' id/status/
    * priority columns — the schema-inference report beside q170's value
    * profile: `a → b` iff distinct(a) = distinct(a,b) (the classic
    * count-based FD test), key-candidacy iff distinct(a) = rows. ONE scan,
    * one Expand aggregation (the q170 documented exact-profiling cost),
    * declarative 1-row explode reshape; exact longs + equality compares —
    * engine-exact. The planted truth: o_orderkey keys the table and
    * determines everything; nothing else determines anything — both
    * branches of `holds` live at every SF. */
  def fdProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.functionalDeps(T(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))

  /** The q197 oracle: one UNION ALL branch per key/FD row, the same
    * count-distinct arithmetic with the NULL contract stated explicitly. */
  private def fdOracleSql(table: String, cols: Seq[String]): String = {
    val keyRows = cols.map { c =>
      s"""SELECT '$c' AS determinant, '*' AS dependent,
         |  CAST((SELECT count(DISTINCT $c) FROM $table) AS BIGINT) AS n_determinant,
         |  CAST((SELECT count(*) FROM $table) AS BIGINT) AS n_pair""".stripMargin
    }
    // n_determinant carries the SAME null filter as the pair count (the
    // Profile.functionalDeps contract): count(DISTINCT a) over rows whose
    // dependent is non-NULL — filtering only one side lets opposing errors
    // cancel on data where a determinant value appears only with NULLs
    val fdRows = for (a <- cols; b <- cols if a != b) yield
      s"""SELECT '$a', '$b',
         |  CAST((SELECT count(DISTINCT $a) FROM $table
         |        WHERE $b IS NOT NULL) AS BIGINT),
         |  CAST((SELECT count(*) FROM (SELECT DISTINCT $a, $b FROM $table
         |        WHERE $a IS NOT NULL AND $b IS NOT NULL) t) AS BIGINT)""".stripMargin
    s"""SELECT determinant, dependent, n_determinant, n_pair,
       |  n_determinant = n_pair AS holds
       |FROM (
       |${(keyRows ++ fdRows).mkString("\nUNION ALL\n")}
       |) u
       |ORDER BY 1, 2""".stripMargin
  }

  private val streamCurateRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The STREAMING ingest gate, driver-oracled: documents.parquet is read as
    * a real file STREAM (Structured Streaming source, not a batch scan), run
    * through [[graft.streaming.EventStream.curateStream]] — language gate,
    * quality floor, token-range, PII scrub, the stage every arriving
    * micro-batch passes in the live pipeline — into a memory sink, and the
    * ACCUMULATED sink table is the query result. The gate is a stateless
    * projection+filter, so the streamed output equals the batch SQL over the
    * same parquet row-for-row (batch-equality) — which is exactly what makes
    * a streaming surface DuckDB-oracle-able: the oracle replays the q41
    * scoring mirror + the q54 scrub mirror with the gate cutoffs.
    *
    * Scale shape: the gate is scan-local per micro-batch (no shuffle, no
    * state store); the only nonlinearity in the whole run is the
    * presentation sort of the final accumulated frame. */
  def streamCurate(s: SparkSession, dir: String): DataFrame = {
    val schema = T(s, dir, "documents").schema
    val stream = s.readStream.schema(schema)
      // FileStreamSource wants a DIRECTORY; select the one table by glob
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select("doc_id", "text")
    val gated = graft.streaming.EventStream.curateStream(stream)
    val sink = s"q105_sink_${streamCurateRuns.incrementAndGet()}"
    val q = gated.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // materialize + drop the sink view (the q142 leak fix — an accumulating
    // memory-sink table per invocation grows driver heap across runs)
    val out = Loops.checkpoint(s.table(sink)
      .select(col("doc_id"), col("lang_pred"), col("quality_score"),
        col("n_tokens"), col("text").as("scrubbed"))
      .orderBy("doc_id"), eager = true)
    s.catalog.dropTempView(sink)
    out
  }

  private val streamScoreRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** TRAIN OFFLINE, GATE ONLINE — the deployment shape of the q161
    * classifier: the model trains in batch (the identical GD loop, so the
    * weights are the bit-identical doubles q161's oracle replays), then
    * serves as a STATELESS streaming projection over the document stream
    * (the q105 class — scoring is scan-local column arithmetic, no state,
    * no watermark), so the accumulated APPEND sink equals batch scoring
    * row-for-row and q161's training-replay oracle verifies the whole
    * train→deploy→stream path. At 100 TB the serving side is the shape
    * that matters: a trained gate scores an ingest firehose without ever
    * touching the training corpus again. */
  def streamQualityScore(s: SparkSession, dir: String): DataFrame = {
    val feats = classifierFeatures
    val label = graft.functions.Heuristics.c4Keep(col("text"))
    val proj = T(s, dir, "documents").select(
      label.cast("double").as("__y") +: feats.map { case (n, c) => c.as(n) }: _*)
    proj.persist()
    val model =
      try graft.operators.Classifier.train(
        proj, feats.map(_._1), "__y", iters = 3, lr = 0.5,
        link = graft.operators.Classifier.Link.Softsign)
      finally { proj.unpersist(); () }
    val schema = T(s, dir, "documents").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val scored = round(model.score(feats.map(_._2)), 6)
    val gated = stream.select(
      col("doc_id"), label.cast("long").as("label"),
      scored.as("score"), (scored >= lit(0.5)).as("predicted"))
    val sink = s"q167_sink_${streamScoreRuns.incrementAndGet()}"
    val q = gated.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // materialize + release the sink view (the q142 hygiene)
    val out = Loops.checkpoint(s.table(sink).orderBy("doc_id"), eager = true)
    s.catalog.dropTempView(sink)
    out
  }

  private val streamDedupRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The STATEFUL streaming surface, driver-oracled (q105's stateless
    * sibling): documents are re-laid as FOUR range-split files and streamed
    * one file per micro-batch through
    * [[graft.streaming.EventStream.dedupRollup]], so the per-content-hash
    * (keeper, copies) aggregation genuinely folds across batches in the
    * state store. min/count are commutative-associative ⇒ the complete-mode
    * snapshot after the last batch equals the batch SQL over all documents
    * regardless of file pickup order — which is exactly what the DuckDB
    * oracle checks. */
  def streamDedupRollup(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select("doc_id", "text")
    val src = java.nio.file.Files.createTempDirectory("q121_src").toString
    docs.repartitionByRange(4, col("doc_id")).write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val rolled = graft.streaming.EventStream.dedupRollup(stream, "doc_id", "text")
    val sink = s"q121_sink_${streamDedupRuns.incrementAndGet()}"
    val q = rolled.writeStream.format("memory").queryName(sink)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    // materialize, then release the sink view + temp source dir (q142 fix)
    val out = Loops.checkpoint(s.table(sink).orderBy("content_hash"), eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(src)
    out
  }

  /** Per-user event-type HISTORY ([[OrderedAnalytics.valueRuns]]): each
    * user's stream collapsed to consecutive same-type runs with half-open
    * [valid_from, valid_to) ns intervals — the generic SCD2 "attribute
    * history from an event log" builder (gaps-and-islands on value change,
    * complementing q10's time-gap islands). Exact ns longs order the
    * stream; event_id breaks same-instant ties so both engines collapse
    * identically. */
  def eventTypeHistory(s: SparkSession, dir: String): DataFrame =
    graft.operators.OrderedAnalytics.valueRuns(
      T(s, dir, "events").select("user_id", "ts_ns", "event_id", "event_type"),
      Seq("user_id"), "ts_ns", "event_id", "event_type")
      .orderBy("user_id", "run_id")

  /** Audience overlap across event-type segments
    * ([[graft.operators.Overlap]]): distinct-user intersection/union/Jaccard
    * for every segment pair, from ONE fact pass into per-segment theta
    * sketches + segment-level set algebra — never a fact self-join. At this
    * corpus the sketches are in exact mode (users ≪ 2^lgK), so every count
    * is the true count and the plain COUNT(DISTINCT) self-join SQL is the
    * oracle; at estimation scale the same plan degrades to ±RSE estimates
    * while the exact SQL's self-join becomes the thing you can no longer
    * afford. */
  def audienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val segs = graft.operators.Overlap.segmentSketches(
      T(s, dir, "events").select("event_type", "user_id"),
      "event_type", "user_id")
    graft.operators.Overlap.overlapMatrix(segs)
      .select("seg_a", "seg_b", "uniques_a", "uniques_b",
        "n_common", "n_either", "jaccard")
      .orderBy("seg_a", "seg_b")
  }

  /** Day-over-day returning users FROM THE SKETCH TABLE alone
    * ([[graft.functions.ThetaSketch]] composability): per-day theta
    * sketches, then returning = |today ∩ yesterday| and churn-side new =
    * |today \ yesterday| as segment-level set algebra — the retention
    * numerator WITHOUT re-joining users day-against-day. One fact pass +
    * a |days|-row equi-join. Exact mode at every tested SF (users ≪
    * 2^lgK), so the plain day-pair COUNT(DISTINCT) SQL is the oracle. */
  def returningUsersSketched(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ThetaSketch
    val daily = T(s, dir, "events")
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .agg(ThetaSketch.thetaSketchAgg(col("user_id")).as("sk"))
    val prev = daily.select((col("day") + 1).as("day"), col("sk").as("__prev_sk"))
    daily.join(prev, Seq("day"))
      .select(col("day"),
        ThetaSketch.thetaEstimate(col("sk")).as("n_active"),
        ThetaSketch.thetaEstimate(
          ThetaSketch.thetaIntersect(col("sk"), col("__prev_sk")))
          .as("n_returning"),
        ThetaSketch.thetaEstimate(
          ThetaSketch.thetaDiff(col("sk"), col("__prev_sk")))
          .as("n_fresh"))
      .withColumn("return_rate",
        when(col("n_active") > 0,
          col("n_returning").cast("double") / col("n_active")))
      .orderBy("day")
  }

  /** Funnel conversion by signup cohort — q87 composed with the q88 cohort
    * idea: per signup epoch-day, how many users entered the funnel, reached
    * step 2, and completed, plus the conversion ratio. Day numbers come
    * from integer division of the exact ns longs (never a double — ns
    * magnitudes exceed the 53-bit mantissa); counts are exact,
    * conversion is one IEEE division. */
  def funnelByCohort(s: SparkSession, dir: String): DataFrame =
    graft.operators.OrderedAnalytics.funnel(
      T(s, dir, "events"), Seq("user_id"), "ts_ns", "event_type",
      Seq("signup", "click", "purchase"))
      .filter(col("step1_ts").isNotNull)
      .withColumn("cohort_day", expr("step1_ts div 86400000000000"))
      .groupBy("cohort_day")
      .agg(
        count(lit(1)).as("n_entered"),
        count(col("step2_ts")).as("n_step2"),
        count(col("step3_ts")).as("n_completed"))
      .withColumn("conversion",
        col("n_completed").cast("double") / col("n_entered"))
      .orderBy("cohort_day")

  /** Robust per-type outlier flags over the event values: deviation beyond
    * 3× the median absolute deviation (the selection-based robust z-score —
    * median/MAD are order statistics, not float sums, so no
    * summation-order hazard exists; the interpolated midpoints are rounded
    * to 6dp, the q33 percentile precedent, and the flag compares against
    * the ROUNDED statistics so both engines test identical operands).
    * Scale shape: two grouped exact-percentile passes over the
    * |types|-partitioned frame + two broadcast joins of |types|-row
    * statistics. Both statistic dims materialize eagerly (the bounded-dim
    * posture): left lazy, the MAD subtree re-derived the median dim and the
    * final flag pass re-derived both — four percentile passes where two is
    * the MAD floor. */
  private[graft] def outliersOf(ev: DataFrame): DataFrame = {
    val med = Loops.checkpoint(ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med")), eager = true)
    val withMed = ev.join(broadcast(med), Seq("event_type"))
    val mad = Loops.checkpoint(withMed
      .withColumn("__adev", abs(col("value") - col("med")))
      .groupBy("event_type")
      .agg(round(expr("percentile(__adev, 0.5)"), 6).as("mad")), eager = true)
    withMed.join(broadcast(mad), Seq("event_type"))
      .withColumn("is_outlier", abs(col("value") - col("med")) > lit(3.0) * col("mad"))
      .select("event_id", "event_type", "value", "med", "mad", "is_outlier")
  }

  def valueOutliers(s: SparkSession, dir: String): DataFrame =
    outliersOf(T(s, dir, "events").select("event_id", "event_type", "value"))
      .orderBy("event_id")

  /** Kernel of q97: first-order transition counts and row-normalized
    * probabilities between consecutive event types per key. The lead window
    * orders by (ord, tiebreakCol) — callers pass a unique tiebreak so the
    * successor of equal-instant events is deterministic on both engines.
    * Scale shape: ONE key shuffle for the lead window; the transition
    * rollup is |types|² rows, its per-row normalization a window over that
    * tiny aggregate partitioned by from_type (never single-partition). */
  private[graft] def transitionsOf(
      events: DataFrame, keyCol: String, ordCol: String,
      typeCol: String, tiebreakCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(col(ordCol), col(tiebreakCol))
    events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum("n").over(Window.partitionBy("from_type")))
  }

  /** First-order event-type transition matrix per user (the Markov-chain
    * view of the event stream — the behavioral fingerprint funnels and
    * sessions are special cases of): counts and exact-ratio probabilities
    * of each consecutive (from → to) pair. Counts are exact longs, p is
    * one IEEE division of two exact values. */
  def eventTransitions(s: SparkSession, dir: String): DataFrame =
    transitionsOf(T(s, dir, "events"), "user_id", "ts_ns", "event_type", "event_id")
      .orderBy("from_type", "to_type")

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

  // ---- Corpus curation: splitting, decontamination, repetition, PII ---------

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

  // ---- Choir alert analytics on an embedded fixture -------------------------

  /** Fixed-date mart_attendance fixture exercising every alert branch:
    * unavailable rows shortening a streak (c1), attended-last exclusion (c2),
    * inactive-latest exclusion (c3), mid-window attendance (c4), exact
    * threshold (c5). Dates are literals so the DuckDB oracle can hardcode the
    * expected output. */
  private[graft] def alertFixture(s: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    val d = (1 to 6).map(i => java.time.LocalDate.of(2025, 1, 6).plusWeeks(i - 1).toString)
    def row(date: String, cid: String, name: String, part: String, tgid: String,
        missed: Int, attended: Int, avail: Int, active: Int) =
      org.apache.spark.sql.Row(date, cid, name, part, tgid, missed, attended, avail, active)
    val rows =
      (1 to 6).map(i => row(d(i - 1), "c1", "Иван", "Bass", "",
        1, 0, if (i <= 2) 0 else 1, 1)) ++
      (3 to 6).map(i => row(d(i - 1), "c2", "Anna", "Alto", "",
        if (i == 6) 0 else 1, if (i == 6) 1 else 0, 1, 1)) ++
      (3 to 6).map(i => row(d(i - 1), "c3", "Пётр", "Tenor", "", 1, 0, 1, 0)) ++
      (2 to 6).map(i => row(d(i - 1), "c4", "Ольга", "Soprano", "@olga",
        if (i == 2) 0 else 1, if (i == 2) 1 else 0, 1, 1)) ++
      (4 to 6).map(i => row(d(i - 1), "c5", "Майкл", "Bass", "", 1, 0, 1, 1))
    import org.apache.spark.sql.types._
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("rehearsal_date", StringType), StructField("chorister_id", StringType),
      StructField("full_name", StringType), StructField("voice_part", StringType),
      StructField("tgid", StringType), StructField("missed_flag", IntegerType),
      StructField("attended_flag", IntegerType), StructField("available_flag", IntegerType),
      StructField("is_active", IntegerType))))
  }

  /** W1/W2/W4 alert streaks over the fixture (sfDir unused by design). */
  def alertStreaks(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Alerts.currentMissedStreaks(alertFixture(s), 12, 3)
      .select(
        col("chorister_id"), col("full_name"), col("voice_part"), col("tgid"),
        col("last_attended_date"), col("streak_len"),
        concat_ws(",", col("missed_dates")).as("missed_dates"))
      .orderBy("chorister_id")

  /** A4+A5 attendance rate over the fixture. */
  def alertRate(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Alerts.attendanceRateFrame(alertFixture(s), 12)

  // ---- Choir marts on the golden fixture (driver-verified ETL core) ---------

  /** The curated tables of [[Main.CuratedTables]] over the golden fixture. */
  private def choirTables(s: SparkSession): Map[String, DataFrame] = {
    val raw = graft.etl.ChoirFixture.raw(s)
    Main.CuratedTables.map { case (name, build) => name -> build(raw) }.toMap
  }

  /** The full mart_attendance pipeline (R1/R2/P7/P8/D1/D4/J1/J3/X1/P11) on
    * the golden fixture; oracle = the hand-computed expected rows. */
  def choirMartAttendance(s: SparkSession, dir: String): DataFrame = {
    val t = choirTables(s)
    graft.etl.Marts.martAttendance(
      t("dim_chorister"), t("dim_chorister_assignment"), t("fact_attendance"))
      .orderBy("chorister_id", "rehearsal_date")
  }

  /** mart_song_rehearsal (R3/D2/D5/J2/P12) on the golden fixture. */
  def choirMartSong(s: SparkSession, dir: String): DataFrame = {
    val t = choirTables(s)
    graft.etl.Marts.martSongRehearsal(t("dim_song"), t("fact_song_time"))
      .orderBy("rehearsal_date", "song_id")
  }

  /** mart_chorister_song (J3/J4/J5) on the golden fixture. */
  def choirMartChoristerSong(s: SparkSession, dir: String): DataFrame = {
    val t = choirTables(s)
    graft.etl.Marts.martChoristerSong(
      t("dim_chorister"), t("dim_chorister_assignment"), t("dim_song"),
      t("fact_attendance"), t("fact_song_time"))
      .orderBy("rehearsal_date", "chorister_id", "song_id")
  }

  // ---- Registry -------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg_pricing" -> (aggPricing _),
    "q02_join_agg_nation" -> (joinAggNation _),
    "q03_filter_pushdown" -> (filterPushdown _),
    "q04_unpivot_dense" -> (unpivotDense _),
    "q05_unpivot_sparse" -> (unpivotSparse _),
    "q06_dup_numbering" -> (dupNumbering _),
    "q07_asof_join" -> (asofJoin _),
    "q08_window_topk" -> (windowTopK _),
    "q09_trailing_streak" -> (trailingStreak _),
    "q10_sessionize" -> (sessionize _),
    "q11_date_normalize" -> (dateNormalize _),
    "q12_parse_lenient" -> (parseLenient _),
    "q13_flag_norm" -> (flagNorm _),
    "q14_lookback_rate" -> (lookbackRate _),
    "q15_dedup_exact" -> (dedupExact _),
    "q16_text_stats" -> (textStats _),
    "q17_lang_id" -> (langId _),
    "q18_quality_score" -> (qualityScore _),
    "q19_fingerprint" -> (fingerprint _),
    "q20_minhash_pairs" -> (minhashPairs _),
    "q21_ann_brute" -> (annBrute _),
    "q22_ann_lsh" -> (annLsh _),
    "q23_alert_streaks" -> (alertStreaks _),
    "q24_alert_rate" -> (alertRate _),
    "q25_multimodal_decode" -> (multimodalDecode _),
    "q26_ngram_jaccard" -> (ngramJaccard _),
    "q27_embedding_neardup" -> (embeddingNearDup _),
    "q28_ann_ivf" -> (annIvf _),
    "q29_choir_mart_attendance" -> (choirMartAttendance _),
    "q30_choir_mart_song" -> (choirMartSong _),
    "q31_choir_mart_chorister_song" -> (choirMartChoristerSong _),
    "q32_rollup_agg" -> (rollupAgg _),
    "q33_distinct_percentiles" -> (distinctAndPercentiles _),
    "q34_window_functions" -> (windowFunctions _),
    "q35_approx_percentiles" -> (approxPercentiles _),
    "q36_neardup_lsh" -> (neardupLsh _),
    "q37_dedup_clusters" -> (dedupClusters _),
    "q38_range_join" -> (rangeJoin _),
    "q39_minhash_fixture" -> (minhashFixture _),
    "q40_interval_overlap" -> (intervalOverlapQ _),
    "q41_curation" -> (curation _),
    "q42_ann_join" -> (annJoin _),
    "q43_neardup_join" -> (neardupJoin _),
    "q44_dedup_clusters_logrounds" -> (dedupClustersLogRounds _),
    "q45_dedup_corpus" -> (dedupClustersCorpus _),
    "q46_neardup_exact" -> (neardupExactPairs _),
    "q47_ann_lsh_fixture" -> (annLshFixture _),
    "q48_ann_ivf_fixture" -> (annIvfFixture _),
    "q49_neardup_lsh_fixture" -> (neardupLshFixture _),
    "q50_simhash_neardup" -> (simhashNearDup _),
    "q51_split_assign" -> (splitAssignQ _),
    "q52_decontaminate" -> (decontaminate _),
    "q53_repetition" -> (repetitionStats _),
    "q54_pii_scrub" -> (piiScrub _),
    "q55_sequence_pack" -> (sequencePack _),
    "q56_stratified_sample" -> (stratifiedSampleQ _),
    "q57_decontaminate_pairs" -> (decontaminatePairs _),
    "q58_json_extract" -> (jsonExtract _),
    "q59_neardup_capped_clusters" -> (dedupClustersCapped _),
    "q60_corpus_stats" -> (corpusStats _),
    "q61_embedding_quantize" -> (embeddingQuantize _),
    "q62_vocab_topk" -> ((s, dir) => vocabTopK(s, dir)),
    "q63_token_budget" -> (tokenBudgetQ _),
    "q64_line_boilerplate" -> (lineDedupQ _),
    "q65_shuffle_rank" -> (shuffleRankQ _),
    "q66_neardup_incremental" -> (neardupIncremental _),
    "q67_vocab_coverage" -> ((s, dir) => vocabCoverage(s, dir)),
    "q68_dedup_cluster_sizes" -> (dedupClusterSizes _),
    "q69_packing_stats" -> (packingStats _),
    "q70_source_quality" -> (sourceQualityQ _),
    "q71_span_dupes" -> (spanDupes _),
    "q72_span_scrub" -> (spanScrub _),
    "q73_c4_filter" -> (c4Filter _),
    "q74_unigram_lm" -> (unigramLmQ _),
    "q75_doc_chunk" -> (docChunk _),
    "q76_semdedup_fixture" -> (semDedupFixtureQ _),
    "q77_quality_cutoff" -> ((s, dir) => qualityCutoff(s, dir)),
    "q78_bpe_pairs" -> ((s, dir) => bpePairs(s, dir)),
    "q79_bpe_train" -> (bpeTrain _),
    "q80_recall_report" -> (recallReport _),
    "q81_perplexity_buckets" -> (perplexityBuckets _),
    "q82_normalize_text" -> (normalizeText _),
    "q83_dsir_weights" -> (dsirWeights _),
    "q84_shard_assign" -> (shardAssign _),
    "q85_tfidf_keywords" -> ((s, dir) => tfidfKeywords(s, dir)),
    "q86_hashed_embedding" -> (hashedEmbeddingQ _),
    "q87_event_funnel" -> (eventFunnel _),
    "q88_retention_cohorts" -> (retentionCohorts _),
    "q89_rolling_activity" -> (rollingActivity _),
    "q90_event_pivot" -> (eventTypePivot _),
    "q91_ann_pq" -> (annPq _),
    "q92_ann_pq_fixture" -> (annPqFixture _),
    "q93_mixture_weights" -> (mixtureWeights _),
    "q94_token_entropy" -> (tokenEntropy _),
    "q95_gap_fill" -> (gapFillDaily _),
    "q96_last_touch" -> (lastTouch _),
    "q97_event_transitions" -> (eventTransitions _),
    "q98_inverted_index" -> (invertedIndex _),
    "q99_funnel_cohort" -> (funnelByCohort _),
    "q100_value_outliers" -> (valueOutliers _),
    "q101_shipping_priority" -> (shippingPriority _),
    "q102_local_supplier_volume" -> (localSupplierVolume _),
    "q103_daily_uniques" -> (dailyUniques _),
    "q104_trade_volume" -> (tradeVolume _),
    "q105_stream_curate" -> (streamCurate _),
    "q106_market_share" -> (marketShare _),
    "q107_large_orders" -> (largeOrders _),
    "q108_late_order_priorities" -> (lateOrderPriorities _),
    "q109_ship_delay_mix" -> (shipDelayMix _),
    "q110_promo_revenue" -> (promoRevenue _),
    "q111_order_count_histogram" -> (orderCountHistogram _),
    "q112_returned_items" -> (returnedItems _),
    "q113_decontaminate_bloom" -> (decontaminateBloom _),
    "q114_small_qty_revenue" -> (smallQuantityRevenue _),
    "q115_bracket_revenue" -> (bracketRevenue _),
    "q116_dormant_customers" -> (dormantCustomers _),
    "q117_heavy_grams" -> (heavyGrams _),
    "q118_heavy_grams_sketched" -> (heavyGramsSketched _),
    "q119_weekly_uniques_sketched" -> (weeklyUniquesSketched _),
    "q120_hll_fixture" -> (hllFixture _),
    "q121_stream_dedup_rollup" -> (streamDedupRollup _),
    "q122_event_type_history" -> (eventTypeHistory _),
    "q123_audience_overlap" -> (audienceOverlap _),
    "q124_returning_users" -> (returningUsersSketched _),
    "q125_image_phash_dedup" -> (imagePhashDedup _),
    "q126_image_dup_groups" -> (imageDupGroups _),
    "q127_hamming_join_rewrite" -> (imagePhashDedupDeclarative _),
    "q128_forecast_revenue" -> (forecastRevenue _),
    "q129_top_supplier" -> (topSupplier _),
    "q130_product_profit" -> (productProfit _),
    "q131_waiting_suppliers" -> (waitingSuppliers _),
    "q132_cheapest_supplier" -> (cheapestRegionalSupplier _),
    "q133_supplier_mix" -> (supplierMix _),
    "q134_dominant_suppliers" -> (dominantSuppliers _),
    "q135_important_stock" -> (importantStock _),
    "q136_ann_index_exact" -> (annIndexExact _),
    "q137_editdist_join" -> (editDistJoin _),
    "q138_interpolate" -> (interpolateDaily _),
    "q139_bm25_search" -> (bm25Search _),
    "q140_pagerank" -> (pageRankQ _),
    "q141_snapshot_diff" -> (snapshotDiffQ _),
    "q142_stream_windowed_append" -> (streamWindowedAppend _),
    "q143_weighted_sample" -> (weightedSampleQ _),
    "q144_video_neardup" -> (videoNearDup _),
    "q145_audio_neardup" -> (audioDupPairs _),
    "q146_pagerank_prod" -> (pageRankProdQ _),
    "q147_ann_index_streamed" -> (annIndexStreamed _),
    "q148_perceptual_recall" -> (perceptualRecall _),
    "q149_stream_stream_join" -> (streamStreamJoin _),
    "q150_stream_outer_join" -> (streamOuterJoin _),
    "q151_stream_sessionize" -> (streamSessionize _),
    "q173_stream_full_outer_join" -> (streamFullOuterJoin _),
    "q174_ann_index_staleness" -> (annIndexStaleness _),
    "q152_graph_bfs" -> (graphBfs _),
    "q153_neardup_prefix" -> (neardupPrefixPairs _),
    "q154_harmonic_centrality" -> (harmonicCentralityQ _),
    "q155_triangle_counts" -> (triangleCounts _),
    "q156_pagerank_personalized" -> (pageRankPersonalizedQ _),
    "q157_sales_cube" -> (salesCube _),
    "q158_median_revenue" -> (medianRevenue _),
    "q159_ann_dot" -> (annDot _),
    "q160_ann_l2" -> (annL2 _),
    "q161_quality_classifier" -> (qualityClassifier _),
    "q162_bucketed_join" -> (bucketedJoin _),
    "q163_hybrid_rerank" -> (hybridRerank _),
    "q164_bpe_encode" -> (bpeEncode _),
    "q165_salted_event_types" -> (saltedEventTypes _),
    "q166_zorder_scan" -> (zorderScan _),
    "q167_stream_quality_gate" -> (streamQualityScore _),
    "q168_dedup_keep_best" -> (dedupKeepBest _),
    "q169_mixture_resample" -> (mixtureResample _),
    "q170_table_profile" -> (tableProfile _),
    "q171_corpus_card" -> (corpusCard _),
    "q172_graph_sssp" -> (graphSssp _),
    "q175_clustering_coeff" -> (clusteringCoeff _),
    "q176_kcore" -> (kcoreMembers _),
    "q177_rrf_fusion" -> (rrfFusion _),
    "q178_retrieval_metrics" -> (retrievalMetrics _),
    "q179_curriculum_order" -> (curriculumOrder _),
    "q180_grouping_sets" -> (groupingSetsRevenue _),
    "q181_mmr_rerank" -> (mmrRerank _),
    "q182_lpa_communities" -> (lpaCommunities _),
    "q183_table_digest" -> (tableDigest _),
    "q184_stream_right_outer_join" -> (streamRightOuterJoin _),
    "q185_cusum_revenue" -> (cusumRevenue _),
    "q186_dedup_incremental_cc" -> (dedupIncrementalClusters _),
    "q187_matryoshka_eval" -> (matryoshkaEval _),
    "q188_scc" -> (sccComponents _),
    "q189_link_prediction" -> (linkPrediction _),
    "q190_kmv_distinct" -> (kmvDistinct _),
    "q191_compaction_lifecycle" -> (compactionLifecycle _),
    "q192_ewma_anomaly" -> (ewmaAnomaly _),
    "q193_corpus_drift" -> (corpusDrift _),
    "q194_temporal_reach" -> (temporalReachability _),
    "q195_truss" -> (trussEdges _),
    "q196_kmv_sliding" -> (kmvSlidingDistinct _),
    "q197_fd_profile" -> (fdProfile _),
    "q198_stream_kmv" -> (streamKmvDistinct _),
    "q199_pagerank_incremental" -> (pageRankIncremental _),
    "q200_kmv_xxhash" -> (kmvXxDistinct _),
    "q201_betweenness" -> (betweennessQ _),
    "q202_kcore_incremental" -> (kcoreIncremental _),
    "q203_truss_incremental" -> (trussIncremental _),
    "q204_scc_incremental" -> (sccIncremental _),
    "q205_modularity" -> (communityModularity _),
    "q206_assortativity" -> (degreeAssortativity _),
    "q207_acf_revenue" -> (acfRevenue _),
    "q208_stream_kcore" -> (streamKcoreMaintain _),
    "q209_coreness" -> (corenessShells _),
    "q210_kmv_jaccard" -> (kmvJaccardDays _),
    "q211_diameter" -> (graphDiameter _),
    "q212_katz" -> (katzCentrality _),
    "q213_louvain" -> (louvainCommunities _),
    "q214_betweenness_sampled" -> (betweennessSampledReport _),
    "q215_stream_truss" -> (streamTrussMaintain _),
    "q216_stream_scc" -> (streamSccMaintain _),
    "q217_coreness_incremental" -> (corenessIncremental _),
    "q218_seasonal_naive" -> (seasonalNaiveRevenue _),
    "q219_kcore_churn" -> (kcoreChurn _),
    "q220_louvain_refine" -> (louvainRefined _),
    "q221_truss_churn" -> (trussChurn _),
    "q222_scc_churn" -> (sccChurn _),
    "q223_stream_coreness" -> (streamCorenessMaintain _),
    "q224_semantic_decon" -> (semanticDecontamination _),
    "q225_louvain_two_level" -> (louvainTwoLevel _),
    "q226_louvain_incremental" -> (louvainIncremental _))

  /** Shared DuckDB CTE chain (q45/q46): exact distinct-shingle Jaccard over
    * ALL document pairs via the exhaustive shingle equi-join, ending in
    * `j(id_a, id_b, jac)`. Same tokenizer / shingler / set-arithmetic mirror
    * proven bit-exact by q26 — oracle-side only; the Spark side replaces the
    * all-pairs shape with LSH-banded candidates. */
  private val shingleJaccardCte: String =
    """tok AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) AS w,
      |    unnest(range(1, len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) + 1)) AS ord
      |  FROM documents
      |  WHERE len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) >= 3
      |    AND trim(coalesce(text,'')) <> ''),
      |sh AS (
      |  SELECT DISTINCT doc_id, w || ' ' || l1 || ' ' || l2 AS s FROM (
      |    SELECT doc_id, w, lead(w,1) OVER win AS l1, lead(w,2) OVER win AS l2
      |    FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY ord))
      |  WHERE l1 IS NOT NULL AND l2 IS NOT NULL),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jac
      |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)""".stripMargin

  /** The q45/q186 shared oracle: exact-Jaccard edges ≥ 0.5 closed into
    * components by the recursive reach CTE, min label per doc, singletons
    * labeling themselves. q45 verifies the batch clustering against it;
    * q186 verifies that the INCREMENTAL update reaches the identical
    * fixpoint. */
  private lazy val dedupClosureOracle: String =
    s"""WITH RECURSIVE $shingleJaccardCte,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM j WHERE jac >= 0.5
       |  UNION ALL
       |  SELECT id_b, id_a FROM j WHERE jac >= 0.5),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS lab FROM documents
       |  UNION
       |  SELECT r.id, e.v AS lab FROM reach r JOIN edges e ON e.u = r.lab)
       |SELECT id AS doc_id, min(lab) AS cluster_id
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared q47/q48 oracle: the EXACT brute-force top-3 over the planted
    * [[annFixture]] corpus, restated entirely in DuckDB (fixture rebuilt from
    * range(16), cosine via list_cosine_similarity on doubles — operand-exact
    * vs Spark's float→double math by construction). Both approximate kernels
    * must emit this exact relation on the planted structure. */
  private val annFixtureOracle: String =
    """WITH fx AS (
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
      |scored AS (
      |  SELECT id, neighbor_id,
      |    CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END AS c FROM raw),
      |ranked AS (
      |  SELECT id, neighbor_id, c,
      |    CAST(row_number() OVER (PARTITION BY id ORDER BY c DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT id, neighbor_id, round(c, 6) AS cosine, rank
      |FROM ranked WHERE rank <= 3 ORDER BY id, rank""".stripMargin

  /** q49 oracle: every unordered pair of the planted fixture with exact
    * cosine ≥ 0.9 — by construction exactly the 24 in-cluster pairs. */
  private val annPairsFixtureOracle: String =
    """WITH fx AS (
      |  SELECT CAST(i AS BIGINT) AS vec_id,
      |    list_transform(range(0, 8), d ->
      |      CASE WHEN d = i // 4 THEN 1.0
      |           WHEN d = 4 + (i // 4) THEN 0.125 * (i % 4)
      |           ELSE 0.0 END) AS v
      |  FROM range(16) t(i))
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      |FROM fx a CROSS JOIN fx b
      |WHERE a.vec_id < b.vec_id
      |  AND list_cosine_similarity(a.v, b.v) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** Shared DuckDB CTE chain (q52/q57): the q51 content-hash split collapsed
    * to train/eval, the tokenizer mirror, and DISTINCT 8-gram shingles per
    * doc, ending in `sh(doc_id, split, s)`. One definition so the two
    * decontamination oracles screen the identical partitions and criterion —
    * mirrors the single `Decontamination.shingled` on the Spark side. */
  private val decontaminationCte: String =
    """sp AS (
      |  SELECT doc_id, text,
      |    CASE WHEN substr(md5(coalesce(text,'')),1,2) < '1a' THEN 'eval'
      |         ELSE 'train' END AS split
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, split,
      |    unnest(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) AS w,
      |    unnest(range(1, len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) + 1)) AS ord
      |  FROM sp
      |  WHERE len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) >= 8
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


  /** The q140/q146 shared DuckDB oracle: 3 PageRank iterations unrolled
    * as CTE layers, final rank rounded to `dp` decimals (12 for the
    * deterministic sorted-fold q140, 9 for the production sum-fold q146
    * whose < 1e-9 drift the coarser round absorbs). */
  private def pageRankOracleSql(dp: Int): String =
    s"""WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS node
        |  FROM events),
        |tr AS (
        |  SELECT node AS src,
        |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM ev WHERE node IS NOT NULL),
        |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
        |      FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
        |nd AS (SELECT DISTINCT node FROM
        |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
        |r0 AS (SELECT nd.node, (1.0 / CAST(nn.n AS DOUBLE)) AS rank
        |       FROM nd CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS node,
        |         list_reduce(list((r.rank * CAST(e.w AS DOUBLE))
        |             / CAST(o.ow AS DOUBLE) ORDER BY e.src),
        |           (a, b) -> a + b) AS s
        |       FROM e JOIN r0 r ON r.node = e.src JOIN ow o ON o.src = e.src
        |       GROUP BY e.dst),
        |d1 AS (SELECT coalesce(list_reduce(list(r.rank ORDER BY r.node),
        |           (a, b) -> a + b), 0.0) AS dm
        |       FROM r0 r LEFT JOIN ow o ON o.src = r.node WHERE o.src IS NULL),
        |r1 AS (SELECT nd.node,
        |         ((1.0 - 0.85) / CAST(nn.n AS DOUBLE))
        |         + (0.85 * (d1.dm / CAST(nn.n AS DOUBLE)))
        |         + (0.85 * coalesce(c1.s, 0.0)) AS rank
        |       FROM nd CROSS JOIN nn CROSS JOIN d1
        |         LEFT JOIN c1 ON c1.node = nd.node),
        |c2 AS (SELECT e.dst AS node,
        |         list_reduce(list((r.rank * CAST(e.w AS DOUBLE))
        |             / CAST(o.ow AS DOUBLE) ORDER BY e.src),
        |           (a, b) -> a + b) AS s
        |       FROM e JOIN r1 r ON r.node = e.src JOIN ow o ON o.src = e.src
        |       GROUP BY e.dst),
        |d2 AS (SELECT coalesce(list_reduce(list(r.rank ORDER BY r.node),
        |           (a, b) -> a + b), 0.0) AS dm
        |       FROM r1 r LEFT JOIN ow o ON o.src = r.node WHERE o.src IS NULL),
        |r2 AS (SELECT nd.node,
        |         ((1.0 - 0.85) / CAST(nn.n AS DOUBLE))
        |         + (0.85 * (d2.dm / CAST(nn.n AS DOUBLE)))
        |         + (0.85 * coalesce(c2.s, 0.0)) AS rank
        |       FROM nd CROSS JOIN nn CROSS JOIN d2
        |         LEFT JOIN c2 ON c2.node = nd.node),
        |c3 AS (SELECT e.dst AS node,
        |         list_reduce(list((r.rank * CAST(e.w AS DOUBLE))
        |             / CAST(o.ow AS DOUBLE) ORDER BY e.src),
        |           (a, b) -> a + b) AS s
        |       FROM e JOIN r2 r ON r.node = e.src JOIN ow o ON o.src = e.src
        |       GROUP BY e.dst),
        |d3 AS (SELECT coalesce(list_reduce(list(r.rank ORDER BY r.node),
        |           (a, b) -> a + b), 0.0) AS dm
        |       FROM r2 r LEFT JOIN ow o ON o.src = r.node WHERE o.src IS NULL),
        |r3 AS (SELECT nd.node,
        |         ((1.0 - 0.85) / CAST(nn.n AS DOUBLE))
        |         + (0.85 * (d3.dm / CAST(nn.n AS DOUBLE)))
        |         + (0.85 * coalesce(c3.s, 0.0)) AS rank
        |       FROM nd CROSS JOIN nn CROSS JOIN d3
        |         LEFT JOIN c3 ON c3.node = nd.node)
        |SELECT node, round(rank, $dp) AS rank FROM r3 ORDER BY node""".stripMargin

  /** The q156 personalized-PageRank oracle: the q140 CTE with the teleport
    * vector p (uniform over the %7 seed set, 0 elsewhere) replacing 1/N in
    * the init AND in both teleport terms — term shapes mirror the Spark
    * side's ((1-d)·p) + ((d·dm)·p) + (d·c) exactly; production sum folds
    * on the Spark side, <1e-9 drift absorbed by 9dp (the q146 policy). */
  private def pageRankPersonalizedOracleSql(dp: Int): String = {
    def layer(k: Int): String = {
      val prev = if (k == 1) "r0" else s"r${k - 1}"
      s"""c$k AS (SELECT e.dst AS node,
         |         sum((r.rank * CAST(e.w AS DOUBLE))
         |             / CAST(o.ow AS DOUBLE)) AS s
         |       FROM e JOIN $prev r ON r.node = e.src JOIN ow o ON o.src = e.src
         |       GROUP BY e.dst),
         |d$k AS (SELECT coalesce(sum(r.rank), 0.0) AS dm
         |       FROM $prev r LEFT JOIN ow o ON o.src = r.node WHERE o.src IS NULL),
         |r$k AS (SELECT p.node,
         |         ((1.0 - 0.85) * p.pv)
         |         + ((0.85 * d$k.dm) * p.pv)
         |         + (0.85 * coalesce(c$k.s, 0.0)) AS rank
         |       FROM p CROSS JOIN d$k
         |         LEFT JOIN c$k ON c$k.node = p.node)""".stripMargin
    }
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS node
       |  FROM events),
       |tr AS (
       |  SELECT node AS src,
       |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |  FROM ev WHERE node IS NOT NULL),
       |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |      FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
       |nd AS (SELECT DISTINCT node FROM
       |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |sn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd WHERE node % 7 = 0),
       |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
       |p AS (SELECT nd.node,
       |        CASE WHEN nd.node % 7 = 0 THEN 1.0 / CAST(sn.n AS DOUBLE)
       |             ELSE 0.0 END AS pv
       |      FROM nd CROSS JOIN sn),
       |r0 AS (SELECT node, pv AS rank FROM p),
       |${layer(1)},
       |${layer(2)},
       |${layer(3)}
       |SELECT node, round(rank, $dp) AS rank FROM r3 ORDER BY node""".stripMargin
  }

  /** The q161 oracle: REPLAY the gradient-descent training loop, unrolled
    * one CTE layer per step, then score with the learned weights.
    * Feature/label mirrors are q16's and q73's (proven); the linear term's
    * left-fold association, the softsign link's operation order, the
    * round-6dp-then-DECIMAL gradient contributions, and the
    * `w − 0.5·(g/n)` update chain each mirror the Spark side token for
    * token — see [[qualityClassifier]]'s Scaladoc for why the weights come
    * out bit-identical rather than approximately equal. */
  private def classifierOracleSql(iters: Int): String = {
    val xs = Seq("1.0", "x1", "x2", "x3", "x4")
    def z(w: String) =
      s"(((($w.w0 + (f.x1 * $w.w1)) + (f.x2 * $w.w2)) + (f.x3 * $w.w3)) + (f.x4 * $w.w4))"
    def p(w: String) = s"(0.5 * (1.0 + ${z(w)} / (1.0 + abs(${z(w)}))))"
    def layer(k: Int): String = {
      val prev = s"wgt${k - 1}"
      val err = s"(round(${p(prev)}, 6) - f.y)"
      val sums = xs.zipWithIndex.map { case (x, i) =>
        val c = if (x == "1.0") s"$err * 1.0" else s"$err * f.$x"
        s"SUM(CAST(round($c, 6) AS DECIMAL(28,6))) AS g$i"
      }.mkString(",\n        |    ")
      val upd = xs.indices.map { i =>
        s"$prev.w$i - 0.5 * (CAST(grad$k.g$i AS DOUBLE) / CAST(grad$k.n AS DOUBLE)) AS w$i"
      }.mkString(",\n        |    ")
      s"""grad$k AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    $sums
        |  FROM f CROSS JOIN $prev),
        |wgt$k AS (
        |  SELECT
        |    $upd
        |  FROM grad$k CROSS JOIN $prev)"""
    }
    val body = (1 to iters).map(layer).mkString(",\n        |")
    s"""WITH raw AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |cnt AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(t) = '' THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(t)), '[ \\t\\n\\f\\r]+')) END AS n_tokens,
        |    length(t) AS n_chars,
        |    length(regexp_replace(t, '[^.!?]', '', 'g')) AS n_punct,
        |    len(list_filter(string_split(t, chr(10)), x ->
        |      regexp_matches(trim(x), '[.!?]$$')
        |      AND len(regexp_split_to_array(trim(x), '[ \\t]+')) >= 5
        |      AND trim(x) <> ''
        |      AND NOT contains(lower(x), 'javascript'))) AS n_good,
        |    contains(t, '{') AS has_brace,
        |    contains(lower(t), 'lorem ipsum') AS has_lorem
        |  FROM raw),
        |f AS (
        |  SELECT doc_id,
        |    CAST(n_tokens AS DOUBLE) / 1024.0 AS x1,
        |    CAST(n_chars AS DOUBLE) / 4096.0 AS x2,
        |    CAST(n_punct AS DOUBLE) / 64.0 AS x3,
        |    CAST(n_good AS DOUBLE) / 16.0 AS x4,
        |    CASE WHEN n_good >= 3 AND NOT has_brace AND NOT has_lorem
        |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y
        |  FROM cnt),
        |wgt0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4),
        |$body
        |SELECT f.doc_id, CAST(f.y AS BIGINT) AS label,
        |  round(${p(s"wgt$iters")}, 6) AS score,
        |  round(${p(s"wgt$iters")}, 6) >= 0.5 AS predicted
        |FROM f CROSS JOIN wgt$iters ORDER BY f.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q47_ann_lsh_fixture" -> annFixtureOracle,
    "q48_ann_ivf_fixture" -> annFixtureOracle,
    "q92_ann_pq_fixture" -> annFixtureOracle,
    "q49_neardup_lsh_fixture" -> annPairsFixtureOracle,
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_join_agg_nation" ->
      """SELECT n_name, COUNT(*) AS order_cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q03_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' AND l_quantity > 45
        |ORDER BY 1, 2""".stripMargin,
    "q04_unpivot_dense" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |) ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    "q05_unpivot_sparse" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |) WHERE value > 0 ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    "q06_dup_numbering" ->
      """SELECT p_partkey, p_name,
        |  CASE WHEN rn = 1 THEN p_name ELSE p_name || ' (' || rn || ')' END AS uniq_name
        |FROM (SELECT p_partkey, p_name,
        |        row_number() OVER (PARTITION BY p_name ORDER BY p_partkey) AS rn
        |      FROM part)
        |ORDER BY p_partkey""".stripMargin,
    "q07_asof_join" ->
      """SELECT l.event_id, l.user_id, r.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    "q08_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_in_cust
        |  FROM orders)
        |WHERE rank_in_cust <= 3 ORDER BY o_custkey, rank_in_cust""".stripMargin,
    "q09_trailing_streak" ->
      """WITH m AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN event_id END) AS lb
        |  FROM events GROUP BY user_id)
        |SELECT e.user_id,
        |  count(CASE WHEN m.lb IS NULL OR e.event_id > m.lb THEN 1 END) AS streak
        |FROM events e JOIN m USING (user_id)
        |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin,
    "q10_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 3600000000000
        |         THEN 1 ELSE 0 END AS nf
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id,
        |    CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q11_date_normalize" ->
      """SELECT l_orderkey, l_linenumber,
        |  strftime(l_shipdate, '%Y-%m-%d') AS iso_dmy,
        |  strftime(l_shipdate, '%Y-%m-%d') AS iso_serial
        |FROM lineitem ORDER BY 1, 2""".stripMargin,
    "q12_parse_lenient" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_linenumber = 1 THEN NULL ELSE l_quantity END AS qty
        |FROM lineitem ORDER BY 1, 2""".stripMargin,
    "q13_flag_norm" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_returnflag IN ('R', 'A') THEN 1 ELSE 0 END AS flag
        |FROM lineitem ORDER BY 1, 2""".stripMargin,
    "q14_lookback_rate" ->
      """WITH mx AS (SELECT max(ts) AS mt FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS purchase_rate
        |FROM events, mx WHERE ts >= mt - INTERVAL 21 DAY
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q15_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_text_stats" ->
      """SELECT doc_id,
        |  CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |       ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
        |  CAST(len(regexp_extract_all(coalesce(text, ''),
        |    '\p{L}+|\p{N}+|[^ \t\n\f\r\p{L}\p{N}]+')) AS BIGINT) AS n_subword_tokens,
        |  CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS BIGINT) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q17_lang_id" ->
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
        |ORDER BY doc_id""".stripMargin,
    "q18_quality_score" ->
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
        |ORDER BY doc_id""".stripMargin,
    // Frozen-constant oracle over the planted corpus (see fingerprint's
    // Scaladoc): rows 1 and 3 identical = the exact-dup invariant.
    "q19_fingerprint" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(5672170603221991470 AS BIGINT), CAST(8126700452512382995 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(5690184984551351406 AS BIGINT), CAST(-6653316890966335135 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(5672170603221991470 AS BIGINT), CAST(8126700452512382995 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(-1214119164892584674 AS BIGINT), CAST(7651814851722374834 AS BIGINT)),
        |  (CAST(5 AS BIGINT), CAST(-5439010225589616608 AS BIGINT), CAST(1217673792449611733 AS BIGINT)),
        |  (CAST(6 AS BIGINT), CAST(2631449102751334432 AS BIGINT), CAST(-5154383817532933730 AS BIGINT)),
        |  (CAST(7 AS BIGINT), CAST(2716115072275374252 AS BIGINT), CAST(8250293090338001450 AS BIGINT)),
        |  (CAST(8 AS BIGINT), CAST(-1008713648022929324 AS BIGINT), CAST(8212288182320143936 AS BIGINT))
        |) t(doc_id, simhash, fingerprint) ORDER BY doc_id""".stripMargin,
    // ANN oracles: cosine recomputed by DuckDB over DOUBLE[] casts (same
    // float->double element values, sequential accumulation); both sides
    // round to 6 decimals, far above the cross-engine arithmetic-order noise
    // (~1e-15) and far below any data distinction (no near-threshold or
    // near-tie pairs at the verified SFs).
    // NaN guard on all ANN oracles: a zero-norm vector yields NaN from
    // list_cosine_similarity but 0.0 from the kernels (their documented
    // degenerate-vector convention) — map NaN -> 0.0 so the comparison
    // holds even if the fixture ever gains a zero vector.
    "q21_ann_brute" ->
      """WITH raw AS (
        |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS c0
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |scored AS (
        |  SELECT id, neighbor_id,
        |    CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END AS c FROM raw),
        |ranked AS (
        |  SELECT id, neighbor_id, c,
        |    CAST(row_number() OVER (PARTITION BY id ORDER BY c DESC, neighbor_id ASC) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT id, neighbor_id, round(c, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 3 ORDER BY id, rank""".stripMargin,
    "q42_ann_join" ->
      """WITH raw AS (
        |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS c0
        |  FROM (SELECT * FROM embeddings WHERE vec_id % 2 = 1) a
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 2 = 0) b),
        |scored AS (
        |  SELECT id, neighbor_id,
        |    CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END AS c FROM raw),
        |ranked AS (
        |  SELECT id, neighbor_id, c,
        |    CAST(row_number() OVER (PARTITION BY id ORDER BY c DESC, neighbor_id ASC) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT id, neighbor_id, round(c, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 3 ORDER BY id, rank""".stripMargin,
    "q43_neardup_join" ->
      """WITH raw AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS c0
        |  FROM (SELECT * FROM embeddings WHERE vec_id % 2 = 1) a
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 2 = 0) b),
        |scored AS (
        |  SELECT query_id, corpus_id,
        |    CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END AS c FROM raw)
        |SELECT query_id, corpus_id, round(c, 6) AS cosine
        |FROM scored WHERE c >= 0.3
        |ORDER BY query_id, corpus_id""".stripMargin,
    // q224: the q27 cosine oracle composed with the q51 split cut — the
    // cross-split survivors oriented train→eval (semantic leakage list).
    "q224_semantic_decon" ->
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
        |ORDER BY 1, 2""".stripMargin,
    "q27_embedding_neardup" ->
      """WITH raw AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS c0
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |scored AS (
        |  SELECT id_a, id_b, CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END AS c FROM raw)
        |SELECT id_a, id_b, round(c, 6) AS cosine
        |FROM scored WHERE c >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    // The alert fixture is embedded with literal dates, so the oracle is the
    // hand-computed expected output (an oracle may state the answer directly):
    // c1 streak 4 (2 unavailable rows excluded), c2 attended last (excluded),
    // c3 inactive (excluded), c4 streak 4 with mid-window attendance,
    // c5 streak exactly 3. Rate: 2 attended of 20 available.
    "q23_alert_streaks" ->
      """SELECT * FROM (VALUES
        |  ('c1', 'Иван', 'Bass', '', CAST(NULL AS VARCHAR), CAST(4 AS BIGINT),
        |   '2025-02-10,2025-02-03,2025-01-27,2025-01-20'),
        |  ('c4', 'Ольга', 'Soprano', '@olga', '2025-01-13', CAST(4 AS BIGINT),
        |   '2025-02-10,2025-02-03,2025-01-27,2025-01-20'),
        |  ('c5', 'Майкл', 'Bass', '', CAST(NULL AS VARCHAR), CAST(3 AS BIGINT),
        |   '2025-02-10,2025-02-03,2025-01-27')
        |) t(chorister_id, full_name, voice_part, tgid, last_attended_date, streak_len, missed_dates)
        |ORDER BY chorister_id""".stripMargin,
    "q24_alert_rate" ->
      """SELECT CAST(20 AS BIGINT) AS n_available, CAST(2 AS BIGINT) AS n_attended,
        |       CAST(2 AS DOUBLE) / 20 AS rate""".stripMargin,
    // The synthetic media header fields are pure functions of media_id
    // (kind = id%3, width = 16+(id%7)*8, height = 16+(id%5)*8,
    // total bytes = 9-byte header + 64 + id%32), so DuckDB can recompute the
    // aggregate from a range — oracling the decode plumbing end to end.
    // q25: every decoded field restated as arithmetic over range(500) —
    // image, even ids: 24-bit BMP (54-byte header + 3*w*h pixels; w is a
    // multiple of 8 so the stride pads to exactly 3*w); image, odd ids:
    // stored-block PNG (68 bytes of framing + h*(1+3*w) raw scanlines —
    // uncompressed deflate keeps the size closed-form); audio: 16-bit PCM
    // WAV (44-byte header + 2*ch*samples), width = samples, height = rate;
    // video: motion-BMP of 2+(i%4) 16x16 frames, 822 bytes each; i%97==13:
    // corrupt 16-byte payload, NULL dims, valid=false.
    "q25_multimodal_decode" ->
      """SELECT kind, count(*) AS n_media,
        |  CAST(sum(w) AS BIGINT) AS sum_width,
        |  CAST(sum(h) AS BIGINT) AS sum_height,
        |  CAST(sum(nb) AS BIGINT) AS sum_bytes,
        |  CAST(sum(ok) AS BIGINT) AS n_valid
        |FROM (SELECT
        |        CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image'
        |             WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |        CASE WHEN i % 97 = 13 THEN NULL
        |             WHEN i % 3 = 0 THEN 16 + (i % 7) * 8
        |             WHEN i % 3 = 1 THEN 64 + (i % 32)
        |             ELSE 16 END AS w,
        |        CASE WHEN i % 97 = 13 THEN NULL
        |             WHEN i % 3 = 0 THEN 16 + (i % 5) * 8
        |             WHEN i % 3 = 1 THEN 8000
        |             ELSE 16 END AS h,
        |        CASE WHEN i % 97 = 13 THEN 16
        |             WHEN i % 6 = 0 THEN 54 + 3 * (16 + (i % 7) * 8) * (16 + (i % 5) * 8)
        |             WHEN i % 3 = 0 THEN 68 + (16 + (i % 5) * 8) * (1 + 3 * (16 + (i % 7) * 8))
        |             WHEN i % 3 = 1 THEN 44 + 2 * (1 + (i % 2)) * (64 + (i % 32))
        |             ELSE (2 + (i % 4)) * 822 END AS nb,
        |        CASE WHEN i % 97 = 13 THEN 0 ELSE 1 END AS ok
        |      FROM range(500) t(i))
        |GROUP BY kind ORDER BY kind""".stripMargin,
    "q26_ngram_jaccard" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) AS w,
        |    unnest(range(1, len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) + 1)) AS ord
        |  FROM documents
        |  WHERE len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) >= 3
        |    AND trim(coalesce(text,'')) <> ''),
        |sh AS (
        |  SELECT DISTINCT doc_id, w || ' ' || l1 || ' ' || l2 AS s FROM (
        |    SELECT doc_id, w, lead(w,1) OVER win AS l1, lead(w,2) OVER win AS l2
        |    FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY ord))
        |  WHERE l1 IS NOT NULL AND l2 IS NOT NULL),
        |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.s = b.s
        |  GROUP BY 1, 2)
        |SELECT ca.doc_id AS id_a, cb.doc_id AS id_b,
        |  CAST(coalesce(i.i, 0) AS DOUBLE) / (ca.n + cb.n - coalesce(i.i, 0)) AS jaccard
        |FROM counts ca JOIN counts cb ON cb.doc_id = ca.doc_id + 1
        |LEFT JOIN inter i ON i.id_a = ca.doc_id
        |ORDER BY id_a""".stripMargin,
    // Choir mart oracles: the golden fixture's hand-computed rows (same
    // values the E2E spec asserts), stated directly as VALUES.
    "q29_choir_mart_attendance" ->
      """SELECT * FROM (VALUES
        |  ('2024-06-16', 'Anna A', 'Anna A', '2024-06-16', 'alto', '@anna', true, CAST(2.0 AS DOUBLE), 1, 0, 1),
        |  ('2024-06-23', 'Anna A', 'Anna A', '2024-06-16', 'alto', '@anna', true, CAST(0.0 AS DOUBLE), 0, 1, 1),
        |  ('2024-06-30', 'Anna A', 'Anna A', '2024-06-16', 'alto', '@anna', true, CAST(2.5 AS DOUBLE), 1, 0, 1),
        |  ('2024-07-07', 'Anna A', 'Anna A', '2024-06-16', 'alto', '@anna', true, CAST(0.0 AS DOUBLE), 0, 1, 1),
        |  ('2024-06-16', 'Anna A | 23.06.24', 'Anna A', '2024-06-23', '', '', false, CAST(0.0 AS DOUBLE), 0, 1, 0),
        |  ('2024-06-23', 'Anna A | 23.06.24', 'Anna A', '2024-06-23', 'alto', '', true, CAST(1.0 AS DOUBLE), 1, 0, 1),
        |  ('2024-06-30', 'Anna A | 23.06.24', 'Anna A', '2024-06-23', 'alto', '', true, CAST(0.0 AS DOUBLE), 0, 1, 1),
        |  ('2024-07-07', 'Anna A | 23.06.24', 'Anna A', '2024-06-23', 'alto', '', true, CAST(0.0 AS DOUBLE), 0, 1, 1),
        |  ('2024-06-16', 'Boris B', 'Boris B', '2024-06-16', 'tenor', '', false, CAST(1.5 AS DOUBLE), 1, 0, 1),
        |  ('2024-06-23', 'Boris B', 'Boris B', '2024-06-16', 'tenor', '', false, CAST(2.0 AS DOUBLE), 1, 0, 1),
        |  ('2024-06-30', 'Boris B', 'Boris B', '2024-06-16', 'tenor', '', false, CAST(0.0 AS DOUBLE), 0, 1, 1),
        |  ('2024-07-07', 'Boris B', 'Boris B', '2024-06-16', 'tenor', '', false, CAST(0.0 AS DOUBLE), 0, 1, 1),
        |  ('2024-06-16', 'Иван И', 'Иван И', '2024-06-16', 'bass', '@ivan', true, CAST(0.0 AS DOUBLE), 0, 1, 1),
        |  ('2024-06-23', 'Иван И', 'Иван И', '2024-06-16', 'bass', '@ivan', true, CAST(0.0 AS DOUBLE), 0, 1, 1),
        |  ('2024-06-30', 'Иван И', 'Иван И', '2024-06-16', 'bass', '@ivan', true, CAST(0.0 AS DOUBLE), 0, 1, 1),
        |  ('2024-07-07', 'Иван И', 'Иван И', '2024-06-16', 'bass', '@ivan', true, CAST(0.0 AS DOUBLE), 0, 1, 1),
        |  ('2024-06-16', 'Мария Дидуренко', 'Мария Дидуренко', '2024-10-02', 'soprano', '@maria', true, CAST(0.0 AS DOUBLE), 0, 1, 0),
        |  ('2024-06-23', 'Мария Дидуренко', 'Мария Дидуренко', '2024-10-02', 'soprano', '@maria', true, CAST(2.0 AS DOUBLE), 1, 0, 0),
        |  ('2024-06-30', 'Мария Дидуренко', 'Мария Дидуренко', '2024-10-02', 'soprano', '@maria', true, CAST(2.0 AS DOUBLE), 1, 0, 0),
        |  ('2024-07-07', 'Мария Дидуренко', 'Мария Дидуренко', '2024-10-02', 'soprano', '@maria', true, CAST(0.0 AS DOUBLE), 0, 1, 0)
        |) t(rehearsal_date, chorister_id, full_name, joined_date, voice_part, tgid,
        |    is_active, hours_attended, attended_flag, missed_flag, available_flag)
        |ORDER BY chorister_id, rehearsal_date""".stripMargin,
    "q30_choir_mart_song" ->
      """SELECT * FROM (VALUES
        |  ('2024-06-16', 'Gloria', 'Gloria', CAST(30.0 AS DOUBLE), CAST(30.0 AS DOUBLE) / 60),
        |  ('2024-06-23', 'Ave Maria', 'Ave Maria', CAST(10.0 AS DOUBLE), CAST(10.0 AS DOUBLE) / 60),
        |  ('2024-06-30', 'Gloria', 'Gloria', CAST(45.0 AS DOUBLE), CAST(45.0 AS DOUBLE) / 60),
        |  ('2024-06-30', 'Gloria (2)', 'Gloria', CAST(25.0 AS DOUBLE), CAST(25.0 AS DOUBLE) / 60)
        |) t(rehearsal_date, song_id, song_name, minutes_spent, hours_spent)
        |ORDER BY rehearsal_date, song_id""".stripMargin,
    "q31_choir_mart_chorister_song" ->
      """SELECT * FROM (VALUES
        |  ('2024-06-16', 'Anna A', 'Anna A', '16.06.24', 'alto', 'Gloria', 'Gloria', CAST(30.0 AS DOUBLE), CAST(30.0 AS DOUBLE) / 60),
        |  ('2024-06-16', 'Boris B', 'Boris B', '16.06.24', 'tenor', 'Gloria', 'Gloria', CAST(30.0 AS DOUBLE), CAST(30.0 AS DOUBLE) / 60),
        |  ('2024-06-23', 'Anna A | 23.06.24', 'Anna A', '23.06.24', 'alto', 'Ave Maria', 'Ave Maria', CAST(10.0 AS DOUBLE), CAST(10.0 AS DOUBLE) / 60),
        |  ('2024-06-23', 'Boris B', 'Boris B', '16.06.24', 'tenor', 'Ave Maria', 'Ave Maria', CAST(10.0 AS DOUBLE), CAST(10.0 AS DOUBLE) / 60),
        |  ('2024-06-23', 'Мария Дидуренко', 'Мария Дидуренко', '02.10.24', 'soprano', 'Ave Maria', 'Ave Maria', CAST(10.0 AS DOUBLE), CAST(10.0 AS DOUBLE) / 60),
        |  ('2024-06-30', 'Anna A', 'Anna A', '16.06.24', 'alto', 'Gloria', 'Gloria', CAST(45.0 AS DOUBLE), CAST(45.0 AS DOUBLE) / 60),
        |  ('2024-06-30', 'Anna A', 'Anna A', '16.06.24', 'alto', 'Gloria (2)', 'Gloria', CAST(25.0 AS DOUBLE), CAST(25.0 AS DOUBLE) / 60),
        |  ('2024-06-30', 'Мария Дидуренко', 'Мария Дидуренко', '02.10.24', 'soprano', 'Gloria', 'Gloria', CAST(45.0 AS DOUBLE), CAST(45.0 AS DOUBLE) / 60),
        |  ('2024-06-30', 'Мария Дидуренко', 'Мария Дидуренко', '02.10.24', 'soprano', 'Gloria (2)', 'Gloria', CAST(25.0 AS DOUBLE), CAST(25.0 AS DOUBLE) / 60)
        |) t(rehearsal_date, chorister_id, full_name, joined_date, voice_part,
        |    song_id, song_name, minutes_spent, hours_spent)
        |ORDER BY rehearsal_date, chorister_id, song_id""".stripMargin,
    "q32_rollup_agg" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN '<all>'
        |       ELSE coalesce(l_returnflag, '<null>') END AS l_returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN '<all>'
        |       ELSE coalesce(l_linestatus, '<null>') END AS l_linestatus,
        |  count(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q33_distinct_percentiles" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q35_approx_percentiles" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  quantile_disc(l_quantity, 0.5) AS median_qty,
        |  quantile_disc(l_quantity, 0.9) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Planted-cluster oracle (see dedupFixture): {1,2,3} and {5,6} are the
    // near-dup clusters, 4/7/8 singletons.
    "q37_dedup_clusters" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT)), (2, 1), (3, 1), (4, 4),
        |  (5, 5), (6, 5), (7, 7), (8, 8)
        |) t(doc_id, cluster_id) ORDER BY doc_id""".stripMargin,
    // q44: identical output contract to q37 — the alternating-star CC must
    // land on the same planted clustering as min-label propagation
    "q44_dedup_clusters_logrounds" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT)), (2, 1), (3, 1), (4, 4),
        |  (5, 5), (6, 5), (7, 7), (8, 8)
        |) t(doc_id, cluster_id) ORDER BY doc_id""".stripMargin,
    // q59: the fan-out-capped candidate graph must reach the SAME clusters
    // as the uncapped q37/q44 pipelines on the planted corpus.
    "q59_neardup_capped_clusters" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT)), (2, 1), (3, 1), (4, 4),
        |  (5, 5), (6, 5), (7, 7), (8, 8)
        |) t(doc_id, cluster_id) ORDER BY doc_id""".stripMargin,
    // q46: the oracle recomputes ALL-pairs exact Jaccard exhaustively (shingle
    // equi-join — affordable for DuckDB at oracle SF, the very shape the Spark
    // side's LSH gating exists to avoid); the Spark result must equal its
    // >= 0.5 slice pair-for-pair, value-for-value.
    "q46_neardup_exact" ->
      s"""WITH $shingleJaccardCte
         |SELECT id_a, id_b, jac AS jaccard FROM j
         |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // q153: the SAME exhaustive oracle — the prefix-filter kernel must
    // reproduce q46's pair set exactly (its completeness is a theorem, so
    // a hash mismatch here would be a bug, not bad luck).
    "q153_neardup_prefix" ->
      s"""WITH $shingleJaccardCte
         |SELECT id_a, id_b, jac AS jaccard FROM j
         |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // q45: recursive min-label closure over the SAME exact-Jaccard pair set —
    // every doc labelled with the smallest doc_id reachable through >= 0.5
    // edges; singletons (no edge) keep their own id.
    "q45_dedup_corpus" -> dedupClosureOracle,
    // q186: q45's full-closure oracle VERBATIM — the incremental update
    // must be indistinguishable from a from-scratch recompute over the
    // union graph (the q153 shared-oracle output-invariance pattern).
    "q186_dedup_incremental_cc" -> dedupClosureOracle,
    // q68: the q45 closure extended with the identical two-level rollup —
    // cluster sizes, then clusters per size.
    "q68_dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $shingleJaccardCte,
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM j WHERE jac >= 0.5
         |  UNION ALL
         |  SELECT id_b, id_a FROM j WHERE jac >= 0.5),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lab FROM documents
         |  UNION
         |  SELECT r.id, e.v AS lab FROM reach r JOIN edges e ON e.u = r.lab),
         |assign AS (
         |  SELECT id AS doc_id, min(lab) AS cluster_id
         |  FROM reach GROUP BY 1),
         |cs AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM assign GROUP BY 1)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin,
    // q50: the oracle recomputes the portable 32-bit SimHash from raw text —
    // same tokenizer mirror as q16/q26/q46, md5 nibbles parsed by hand (hex
    // position arithmetic), per-bit majority votes via a lateral range(32) —
    // then brute-forces ALL pairs with bit_count(xor) ≤ 2: the very all-pairs
    // shape the Spark side's pigeonhole banding exists to avoid.
    "q50_simhash_neardup" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) AS w
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |      (strpos('0123456789abcdef', substr(md5(w),1,1))-1)::BIGINT * 268435456
        |    + (strpos('0123456789abcdef', substr(md5(w),2,1))-1)::BIGINT * 16777216
        |    + (strpos('0123456789abcdef', substr(md5(w),3,1))-1)::BIGINT * 1048576
        |    + (strpos('0123456789abcdef', substr(md5(w),4,1))-1)::BIGINT * 65536
        |    + (strpos('0123456789abcdef', substr(md5(w),5,1))-1)::BIGINT * 4096
        |    + (strpos('0123456789abcdef', substr(md5(w),6,1))-1)::BIGINT * 256
        |    + (strpos('0123456789abcdef', substr(md5(w),7,1))-1)::BIGINT * 16
        |    + (strpos('0123456789abcdef', substr(md5(w),8,1))-1)::BIGINT AS h
        |  FROM tok),
        |votes AS (
        |  SELECT doc_id, b.bit, sum((h >> b.bit) & 1) AS v, count(*) AS n
        |  FROM th, range(32) b(bit)
        |  GROUP BY doc_id, b.bit),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN 2*v >= n THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS f
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // q51: content-hash split restated directly — md5 hex and its ASCII
    // ordering are engine-independent, so the cut points mean the same thing.
    "q51_split_assign" ->
      """SELECT doc_id, substr(md5(coalesce(text,'')),1,2) AS bucket,
        |  CASE WHEN substr(md5(coalesce(text,'')),1,2) < '0d' THEN 'test'
        |       WHEN substr(md5(coalesce(text,'')),1,2) < '1a' THEN 'val'
        |       ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q52: the full decontamination pipeline recomputed relationally — the
    // q51 split, 8-gram shingling (lead×7 mirror of the zipped-slice
    // shingler), eval-side distinct, and the per-train-doc overlap count.
    // The sp/tok/sh chain is shared with q57 (decontaminationCte below).
    "q52_decontaminate" -> decontaminateOracle,
    "q113_decontaminate_bloom" -> decontaminateOracle,
    // q57: the SAME sp/tok/sh chain with the eval doc id carried through the
    // shingle join — one row per contaminated (train, eval) pair.
    "q57_decontaminate_pairs" ->
      s"""WITH $decontaminationCte,
         |$decontaminationTdfCte
         |SELECT t.doc_id, e.doc_id AS eval_doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM sh t JOIN sh e ON e.s = t.s AND e.split = 'eval'
         |WHERE t.split = 'train' AND t.s IN (SELECT s FROM tdf)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q60: the corpus report recomposed from the PROVEN q51/q17/q16/q18
    // mirrors (split CASE, stopword lang vote, whitespace token count,
    // quality formula) — integer-exact aggregates only, so the rollup
    // hash-compares with no float-order caveat.
    "q60_corpus_stats" ->
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
        |ORDER BY 1, 2""".stripMargin,
    // q61: identical quantization arithmetic recomputed over the same
    // parquet floats — float→double casts are exact, 127/max and x·scale
    // are IEEE doubles, and floor(x+0.5) rounds halves identically in both
    // engines (no round-half-even ambiguity), so scale AND every
    // code-derived digest hash-compare bit-equal.
    "q61_embedding_quantize" ->
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
        |FROM q ORDER BY vec_id""".stripMargin,
    // q62: same tokenizer mirror as q16/q26 (explicit whitespace class —
    // see Text.tokens' dialect note); the (count desc, token) total order
    // makes the LIMIT deterministic in both engines.
    "q62_vocab_topk" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) AS token
        |  FROM documents
        |  WHERE trim(coalesce(text,'')) <> '')
        |SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM tok WHERE token <> ''
        |GROUP BY 1
        |ORDER BY 2 DESC, 1
        |LIMIT 50""".stripMargin,
    // q63: the bucketed two-phase prefix sum stated as ONE plain running-sum
    // window per source — DuckDB verifies the decomposition bit-for-bit.
    // Same tokenizer mirror as q16, same salted-md5 mirror as q56; sum() of
    // BIGINT is HUGEINT in DuckDB, cast back.
    "q63_token_budget" ->
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
        |FROM cum ORDER BY doc_id""".stripMargin,
    // q65: the distributed prefix count stated as the plain global
    // row_number over the identical (salted-md5, doc_id) order.
    "q65_shuffle_rank" ->
      """WITH p AS (
        |  SELECT doc_id, md5('shuffle:' || coalesce(text, '')) AS prio
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY prio, doc_id) AS BIGINT) AS shuffle_rank
        |FROM p ORDER BY doc_id""".stripMargin,
    // q66: the Spark side gates candidates through MinHash banding; the
    // oracle recomputes every CROSS-SIDE pair exhaustively with the same
    // tokenizer/shingler/set-arithmetic mirror as q45/q46 (sides assigned by
    // the identical doc_id % 10 rule, within-side pairs never formed).
    "q66_neardup_incremental" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) AS w,
        |    unnest(range(1, len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) + 1)) AS ord
        |  FROM documents
        |  WHERE len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) >= 3
        |    AND trim(coalesce(text,'')) <> ''),
        |sh AS (
        |  SELECT DISTINCT doc_id, w || ' ' || l1 || ' ' || l2 AS s FROM (
        |    SELECT doc_id, w, lead(w,1) OVER win AS l1, lead(w,2) OVER win AS l2
        |    FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY ord))
        |  WHERE l1 IS NOT NULL AND l2 IS NOT NULL),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |  GROUP BY 1, 2)
        |SELECT new_id, corpus_id,
        |  CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = new_id
        |JOIN sizes sb ON sb.doc_id = corpus_id
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        |ORDER BY new_id, corpus_id""".stripMargin,
    // q67: same tokenizer mirror as q16/q62; the top-10 vocabulary is a
    // deterministic (count desc, token) head, coverage is one IEEE division
    // of exact longs — bit-equal across engines. Blank docs → NULL coverage.
    "q67_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) AS token
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
        |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) END AS n_tokens
        |  FROM documents)
        |SELECT b.doc_id,
        |  CAST(b.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(h.n_in_vocab, 0) AS BIGINT) AS n_in_vocab,
        |  CASE WHEN b.n_tokens > 0
        |       THEN CAST(coalesce(h.n_in_vocab, 0) AS DOUBLE) / b.n_tokens
        |       ELSE NULL END AS vocab_coverage
        |FROM base b LEFT JOIN hits h ON h.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // q64: line explode via DuckDB's zipped unnest (list + 1-based position),
    // document-frequency cap, ordered string_agg rebuild. string_agg skips
    // the NULLs the CASE emits for boilerplate lines; coalesce('') matches
    // Spark's array_join on the empty array when every line was removed.
    // The VALUES mirror [[boilerplateFixture]] literally.
    "q64_line_boilerplate" ->
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
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q58: json_extract_string mirrors get_json_object (unquoted scalar
    // extraction), json_valid guards DuckDB's throwing parser where Spark
    // returns NULL, TRY_CAST mirrors ANSI try_cast; the planted VALUES are
    // identical to the Spark-side fixture.
    "q58_json_extract" ->
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
        |FROM ext GROUP BY 1 ORDER BY 1""".stripMargin,
    // q53: per-doc 2-gram occurrence counts via the same tokenizer mirror;
    // both fractions are one integer-double division — bit-equal across
    // engines — and the flag restates the same comparisons.
    "q53_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) AS w,
        |    unnest(range(1, len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) + 1)) AS ord
        |  FROM documents
        |  WHERE len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) >= 2
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
        |FROM gc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q54: counts + ordered replacement chain (email → IPv4 → phone, 'g'
    // flag = Java's replace-all default) over documents ∪ the same planted
    // VALUES the Spark side unions in.
    "q54_pii_scrub" ->
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
        |FROM uni ORDER BY doc_id""".stripMargin,
    // q55: the sequential first-fit walk replayed as a recursive CTE — each
    // group's rows joined in row_number order, carrying (bin, fill) state
    // forward with the same break rule, so every assignment is verified.
    "q55_sequence_pack" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, doc_id // 64 AS grp,
        |    CASE WHEN trim(coalesce(text,'')) = '' THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) END AS tokens,
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
        |         THEN t.tokens ELSE r.fill + t.tokens END
        |  FROM rec r JOIN t ON t.grp = r.grp AND t.rn = r.rn + 1)
        |SELECT doc_id, CAST(tokens AS BIGINT) AS n_tokens,
        |  CAST(grp * 64 + bin AS BIGINT) AS bin_id
        |FROM rec ORDER BY doc_id""".stripMargin,
    // q69: the q55 replay extended with the same two-level rollup binStats
    // computes — per-bin fill/docs, then the corpus-wide packing report.
    // All sums are exact integers, so avg and the waste division are
    // bit-deterministic in both engines.
    "q69_packing_stats" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, doc_id // 64 AS grp,
        |    CASE WHEN trim(coalesce(text,'')) = '' THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) END AS tokens,
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
        |         THEN t.tokens ELSE r.fill + t.tokens END
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
        |FROM bins""".stripMargin,
    // q56: the salted-hash sample restated directly; the hex thresholds are
    // the exact rateThresholdHex constants (0.05 → '0ccccc', 0.2 → '333333').
    "q56_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5('sample:' || coalesce(text,'')),1,6)
        |      < CASE WHEN lang = 'en' THEN '0ccccc' ELSE '333333' END
        |ORDER BY doc_id""".stripMargin,
    // q38: the range join stated as the literal non-equi BETWEEN join —
    // DuckDB plans it however it likes; the Spark side must produce the
    // identical relation through the bin equi-join decomposition.
    "q38_range_join" ->
      """WITH iv AS (
        |  SELECT o_orderkey,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS w_start,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + (o_orderkey % 30) + 1 AS BIGINT) AS w_end
        |  FROM orders WHERE o_orderkey % 1000 = 0)
        |SELECT o_orderkey, w_start, w_end, COUNT(*) AS n_ship,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM iv JOIN lineitem
        |  ON CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT)
        |     BETWEEN w_start AND w_end
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    // q39: frozen constants of the planted fixture (fixed MinHash seeds);
    // the hand-derivable content is WHICH pairs appear — the planted
    // clusters {1,2,3} and {5,6} and nothing else. est_jaccard is
    // agreeing-slots/64, an exact binary fraction: 59/64, 64/64, 47/64.
    "q39_minhash_fixture" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0.921875 AS DOUBLE)),
        |  (1, 3, 1.0),
        |  (2, 3, 0.921875),
        |  (5, 6, 0.734375)
        |) t(id_a, id_b, est_jaccard) ORDER BY id_a, id_b""".stripMargin,
    // q40: interval overlap stated as the literal non-equi predicate
    "q40_interval_overlap" ->
      """WITH a AS (
        |  SELECT o_orderkey AS a_orderkey,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS a_start,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + (o_orderkey % 45) + 1 AS BIGINT) AS a_end
        |  FROM orders WHERE o_orderkey % 500 = 0),
        |b AS (
        |  SELECT o_orderkey AS b_orderkey,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS b_start,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + (o_orderkey % 60) + 1 AS BIGINT) AS b_end
        |  FROM orders WHERE o_orderkey % 777 = 0)
        |SELECT a_orderkey, a_start, a_end, b_orderkey, b_start, b_end
        |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
        |ORDER BY a_orderkey, b_orderkey""".stripMargin,
    // q41: the curation chain stated from the SAME proven mirrors as
    // q15/q16/q17/q18 (token class, stopword regexes, CJK branch, score
    // arithmetic, md5 canonicalization) composed via CTEs.
    "q41_curation" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b')) AS en,
        |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b')) AS es,
        |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b')) AS de,
        |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS fr,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
        |    length(coalesce(text, '')) AS n_chars,
        |    length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS n_punct
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN length(regexp_replace(coalesce(text, ''), '[^\x{4e00}-\x{9fff}]', '', 'g')) * 5
        |           > length(coalesce(text, '')) THEN 'zh'
        |      WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
        |      WHEN en >= es AND en >= de AND en >= fr THEN 'en'
        |      WHEN es >= de AND es >= fr THEN 'es'
        |      WHEN de >= fr THEN 'de'
        |      ELSE 'fr' END AS lang_pred,
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |      + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
        |      + CASE WHEN (en + es + de + fr) > 0 THEN 0.2 ELSE 0.0 END
        |      + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END AS quality_score,
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
        |FROM flagged ORDER BY doc_id""".stripMargin,
    "q34_window_functions" ->
      """SELECT o_custkey, o_orderkey,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile,
        |  lag(o_orderkey, 1) OVER w AS prev_order,
        |  lead(o_orderkey, 1) OVER w AS next_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,
    // q70: the q18 quality formula (proven bit-exact there) rolled up per
    // source; good_share is one integer-ratio division, bit-deterministic
    // regardless of aggregation order.
    "q70_source_quality" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |    + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
        |    + CASE WHEN stop_hits > 0 THEN 0.2 ELSE 0.0 END
        |    + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END AS quality_score
        |  FROM (SELECT doc_id, source,
        |          CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |               ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
        |          length(coalesce(text, '')) AS n_chars,
        |          len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS stop_hits,
        |          length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS n_punct
        |        FROM documents)),
        |agg AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_good
        |  FROM q GROUP BY 1)
        |SELECT q.doc_id, q.source, a.n_docs, a.n_good,
        |  CAST(a.n_good AS DOUBLE) / CAST(a.n_docs AS DOUBLE) AS good_share,
        |  CAST(a.n_good AS DOUBLE) / CAST(a.n_docs AS DOUBLE) >= 0.5 AS source_kept
        |FROM q JOIN agg a USING (source)
        |ORDER BY doc_id""".stripMargin,
    // q71/q72: spans as inclusive 8-element list slices over the same
    // tokenizer mirror as q16; positions are 0-based like Spark's posexplode.
    "q71_span_dupes" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+') AS t,
        |    CASE WHEN trim(coalesce(text,'')) = '' THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) END AS n_tokens
        |  FROM documents),
        |gidx AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
        |  FROM toks WHERE n_tokens >= 8),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS span FROM gidx)
        |SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, n_occurrences DESC, span""".stripMargin,
    // q72: all-but-one span removal replayed relationally — canonical
    // occurrence via two-step min (doc then pos), covered token indices via
    // unnested offsets, rebuild via anti-join + order-preserving string_agg.
    "q72_span_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+') AS t,
        |    CASE WHEN trim(coalesce(text,'')) = '' THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')) END AS n_tokens
        |  FROM documents),
        |gidx AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
        |  FROM toks WHERE n_tokens >= 8),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS span FROM gidx),
        |dup AS (SELECT span FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |dupocc AS (SELECT g.doc_id, g.pos, g.span FROM grams g JOIN dup USING (span)),
        |kdoc AS (SELECT span, min(doc_id) AS kdoc FROM dupocc GROUP BY 1),
        |keeper AS (SELECT d.span, d.doc_id AS kdoc, min(d.pos) AS kpos
        |           FROM dupocc d JOIN kdoc k ON d.span = k.span AND d.doc_id = k.kdoc
        |           GROUP BY 1, 2),
        |hits AS (
        |  SELECT DISTINCT d.doc_id, d.pos
        |  FROM dupocc d LEFT JOIN keeper k
        |    ON d.span = k.span AND d.doc_id = k.kdoc AND d.pos = k.kpos
        |  WHERE k.span IS NULL),
        |cidx AS (SELECT doc_id, pos, unnest(generate_series(0, 7)) AS o FROM hits),
        |covered AS (SELECT DISTINCT doc_id, pos + o AS idx FROM cidx),
        |tokidx AS (
        |  SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS idx
        |  FROM toks WHERE n_tokens > 0),
        |kept AS (
        |  SELECT k.doc_id, k.idx, k.tok
        |  FROM tokidx k ANTI JOIN covered c ON k.doc_id = c.doc_id AND k.idx = c.idx),
        |rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY idx) AS text_scrubbed
        |  FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(t.n_tokens - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(r.text_scrubbed, '') AS text_scrubbed
        |FROM toks t LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q73: line predicates mirror Heuristics 1:1 (Java∩RE2 regexes; [ \t]
    // tokenizer, [.!?]$ search). The fixture VALUES are byte-identical to
    // the Spark-side c4Fixture.
    "q73_c4_filter" ->
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
        |FROM scored ORDER BY doc_id""".stripMargin,
    // q74: exact-integer sums; the ONE division (and the exact product
    // feeding it) mirrors the Spark expression order so the double is
    // bit-identical.
    "q74_unigram_lm" ->
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
        |ORDER BY doc_id""".stripMargin,
    // q75: range() replays the stride walk; list slicing is 1-based
    // inclusive on both engines' formulations here (Spark slice(start+1,
    // maxTokens) == DuckDB t[start+1 : least(start+64, n)]).
    "q75_doc_chunk" ->
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
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    // q76: frozen-constant oracle over the planted clusters (see
    // semDedupFixture's Scaladoc — the kernel is deterministic end-to-end,
    // same pattern as q39/q47/q48): components {1,2,3} and {4,5} collapse to
    // their min ids, the singleton keeps itself, the corrupt row vanishes.
    "q76_semdedup_fixture" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), true),
        |  (2, 1, false),
        |  (3, 1, false),
        |  (4, 4, true),
        |  (5, 4, false),
        |  (6, 6, true)
        |) v(id, canonical_id, keep)
        |ORDER BY id""".stripMargin,
    // q77: the q18 score mirror feeding the distinct-score rollup; window
    // sums CAST to BIGINT (DuckDB widens sum(BIGINT) to HUGEINT, Spark
    // keeps long); ceil(0.3·n) is the same double → ceil on both engines.
    "q77_quality_cutoff" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |    + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
        |    + CASE WHEN stop_hits > 0 THEN 0.2 ELSE 0.0 END
        |    + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END AS quality_score
        |  FROM (SELECT doc_id, source,
        |          CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |               ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
        |          length(coalesce(text, '')) AS n_chars,
        |          len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS stop_hits,
        |          length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS n_punct
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
        |ORDER BY doc_id""".stripMargin,
    // q78: the tokenizer mirror feeds a word-frequency rollup; unnest(range)
    // replays the adjacent-pair walk (range(1, len) = starts 1..len-1, the
    // same ascending guard as Spark's length>=2 filter); (weight DESC, pair)
    // is a total order so the LIMIT is deterministic.
    "q78_bpe_pairs" ->
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
        |LIMIT 100""".stripMargin,
    // q79: frozen-VALUES oracle — the trainer is deterministic end-to-end
    // on the planted Sennrich corpus (see bpeFixture's scaladoc); the
    // expected table is the paper's own walkthrough, independently recomputed
    // by a reference implementation before freezing.
    "q79_bpe_train" ->
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
        |ORDER BY step""".stripMargin,
    // q81: the q74 unigram mirror feeds the q77 rank-free cutoff idiom —
    // both tercile cutoffs via conditional max over the windowed rollup;
    // IS NOT DISTINCT FROM mirrors Spark's null-safe left cutoff join.
    "q81_perplexity_buckets" ->
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
        |ORDER BY doc_id""".stripMargin,
    // q82: identical Java∩RE2 patterns on both engines (the q54 precedent);
    // nfc_normalize is DuckDB's Unicode NFC, the same standard algorithm as
    // java.text.Normalizer; fixture chars are built with chr() since plain
    // SQL literals don't escape. trim(x, ' ') pins space-only trimming.
    "q82_normalize_text" ->
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
        |ORDER BY doc_id""".stripMargin,
    // q83: quality CTE is the proven q77 mirror; the bigram walk is the q78
    // unnest(range) idiom over the token LIST; buckets are md5 prefixes
    // (portable-hash precedent, q50/q51); score = (a/b)*(c/d) in fixed
    // order — bit-equal doubles on both engines.
    "q83_dsir_weights" ->
      """WITH uni AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(9420001 AS BIGINT), ''),
        |    (9420002, 'solo')
        |  ) v(doc_id, text)),
        |q AS (
        |  SELECT doc_id,
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |    + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
        |    + CASE WHEN stop_hits > 0 THEN 0.2 ELSE 0.0 END
        |    + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END AS quality_score
        |  FROM (SELECT doc_id,
        |          CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |               ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
        |          length(coalesce(text, '')) AS n_chars,
        |          len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS stop_hits,
        |          length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS n_punct
        |        FROM uni)),
        |tgt AS (SELECT doc_id FROM q WHERE quality_score >= 0.5),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+') AS t
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
        |ORDER BY u.doc_id""".stripMargin,
    // q84: the q63/q65 single-window replay — one running sum in
    // (md5 priority, doc_id) order verifies the bucketed decomposition
    // bit-for-bit; floor(x / 5000.0) routes through double on both engines
    // (CAST alone would ROUND in DuckDB).
    "q84_shard_assign" ->
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
        |ORDER BY doc_id""".stripMargin,
    // q85: row_number() replays Spark's in-aggregate slice(sort_array) —
    // (score DESC, term) is a total order because (doc, term) determines
    // tf/df/score; the score expression is (tf·N)/df in fixed double order
    // on both engines.
    "q85_tfidf_keywords" ->
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
        |ORDER BY doc_id, rank""".stripMargin,
    // q86: two-hex-char strpos ladder = Spark's conv(md5 prefix) bucket;
    // sqrt is correctly rounded on both engines per IEEE-754, so the
    // normalized weights match bit-for-bit.
    "q86_hashed_embedding" ->
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
        |ORDER BY doc_id, bucket""".stripMargin,
    // q87: per-step min-after-previous CTEs replay the greedy-earliest
    // match; epoch_ns mirrors Spark's ts_ns (the q10 precedent); strict >
    // on both engines (same-instant events never advance the funnel).
    "q87_event_funnel" ->
      """WITH k AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (
        |  SELECT user_id, min(epoch_ns(ts)) AS t1
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.t1
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t2
        |  GROUP BY 1)
        |SELECT k.user_id,
        |  s1.t1 AS step1_ts, s2.t2 AS step2_ts, s3.t3 AS step3_ts,
        |  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
        |            WHEN s2.t2 IS NOT NULL THEN 2
        |            WHEN s1.t1 IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS steps_completed,
        |  s3.t3 IS NOT NULL AS completed
        |FROM k
        |LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // q88: DISTINCT (cohort, offset, user) mirrors the per-key distinct-day
    // set; epoch-day longs on both sides; the single division is IEEE-exact.
    "q88_retention_cohorts" ->
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |      AS day
        |  FROM events),
        |u AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
        |a AS (SELECT DISTINCT u.cohort_day, d.day - u.cohort_day AS offset_days,
        |        d.user_id
        |      FROM d JOIN u USING (user_id)),
        |c AS (SELECT cohort_day, offset_days, CAST(count(*) AS BIGINT) AS n_active
        |      FROM a GROUP BY 1, 2),
        |s AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
        |      FROM u GROUP BY 1)
        |SELECT c.cohort_day, c.offset_days, c.n_active, s.cohort_size,
        |  CAST(c.n_active AS DOUBLE) / s.cohort_size AS retention
        |FROM c JOIN s USING (cohort_day)
        |ORDER BY 1, 2""".stripMargin,
    // q89: identical inclusive RANGE frame on epoch ns; all three window
    // aggregates are order-independent, so frames hash bit-equal.
    "q89_rolling_activity" ->
      """SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
        |  count(*) OVER w AS n_7d,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER w
        |    AS purchases_7d,
        |  max(value) OVER w AS max_value_7d
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |  RANGE BETWEEN 604800000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // q90: the declared-values pivot is a plain CASE rollup relationally.
    "q90_event_pivot" ->
      """SELECT
        |  CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |    AS day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // q93: the one cross-source float sum is replayed as a recursive-CTE
    // walk in row_number-by-source order — the same left-to-right sequence
    // as Spark's aggregate(array_sort(collect_list)) fold; sqrt is
    // correctly rounded on both engines, so every double is bit-equal.
    "q93_mixture_weights" ->
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
        |FROM sh, d ORDER BY stratum NULLS FIRST""".stripMargin,
    // q94: the per-doc entropy sum folds over list(... ORDER BY tok) —
    // the same addition sequence as Spark's sorted 0.0-seeded fold; 6dp
    // round absorbs log2's last-ulp libm variation.
    "q94_token_entropy" ->
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
        |ORDER BY doc_id""".stripMargin,
    // q95: scaffold via unnest(range) per user, IGNORE NULLS running fill —
    // all integers, exact on both engines.
    "q95_gap_fill" ->
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |      AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, min(day) AS mn, max(day) AS mx FROM d GROUP BY 1),
        |s AS (SELECT user_id, unnest(range(mn, mx + 1)) AS day FROM b),
        |j AS (SELECT s.user_id, s.day, d.n, d.n IS NOT NULL AS observed
        |      FROM s LEFT JOIN d USING (user_id, day))
        |SELECT user_id, day,
        |  last_value(n IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_events,
        |  observed
        |FROM j ORDER BY user_id, day""".stripMargin,
    // q96: DuckDB's native ASOF LEFT JOIN replays the inclusive
    // latest-at-or-before semantics; clicks pre-collapsed per instant so
    // both engines see unique ordinates.
    "q96_last_touch" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_ns(ts) AS cts, max(event_id) AS click_event
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts_ns,
        |  c.click_event, c.cts AS click_ts, p.ts_ns - c.cts AS latency_ns
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_ns >= c.cts
        |ORDER BY p.event_id""".stripMargin,
    // q97: identical (ord, event_id) lead window; counts exact, p one
    // division of exact longs.
    "q97_event_transitions" ->
      """WITH n AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM n WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
        |FROM c ORDER BY 1, 2""".stripMargin,
    // q98: DISTINCT (doc, tok) = per-doc distinct tokens; the sorted
    // posting head is a list slice joined to a string on both engines.
    "q98_inverted_index" ->
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
        |ORDER BY term""".stripMargin,
    // q99: the q87 CTE chain rolled up by signup epoch-day; // is the same
    // positive integer division as Spark's div on the exact ns longs.
    "q99_funnel_cohort" ->
      """WITH s1 AS (
        |  SELECT user_id, min(epoch_ns(ts)) AS t1
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.t1
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t2
        |  GROUP BY 1)
        |SELECT s1.t1 // 86400000000000 AS cohort_day,
        |  CAST(count(*) AS BIGINT) AS n_entered,
        |  CAST(count(s2.t2) AS BIGINT) AS n_step2,
        |  CAST(count(s3.t3) AS BIGINT) AS n_completed,
        |  CAST(count(s3.t3) AS DOUBLE) / count(*) AS conversion
        |FROM s1
        |LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q100: median/MAD are order statistics (no sum-order hazard); the
    // interpolated midpoints round to 6dp (q33 precedent) and the flag
    // compares against the ROUNDED statistics on both engines.
    "q100_value_outliers" ->
      """WITH m AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT e.event_id, e.event_type, e.value, m.med,
        |    abs(e.value - m.med) AS adev
        |  FROM events e JOIN m USING (event_type)),
        |d AS (SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
        |      FROM a GROUP BY 1)
        |SELECT a.event_id, a.event_type, a.value, a.med, d.mad,
        |  abs(a.value - a.med) > 3 * d.mad AS is_outlier
        |FROM a JOIN d USING (event_type)
        |ORDER BY a.event_id""".stripMargin,
    // q101: DECIMAL-routed revenue makes the top-10 boundary value
    // bit-equal, so the LIMIT cut is deterministic on both engines.
    "q101_shipping_priority" ->
      """SELECT l.l_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
        |  o.o_orderpriority,
        |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l.l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l.l_orderkey
        |LIMIT 10""".stripMargin,
    "q102_local_supplier_volume" ->
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND s.s_nationkey = c.c_nationkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o.o_orderdate < TIMESTAMP '2002-01-01'
        |GROUP BY 1
        |ORDER BY revenue DESC, n.n_name""".stripMargin,
    "q103_daily_uniques" ->
      """SELECT
        |  CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |    AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q104_trade_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    // q105: the streaming ingest gate's batch-equality form — the q41
    // scoring mirror (lang/quality/tokens) + the q54 scrub nesting
    // (email → IP → phone, innermost first) with the Curation.Gate* cutoffs.
    "q105_stream_curate" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b')) AS en,
        |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b')) AS es,
        |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b')) AS de,
        |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS fr,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
        |    length(coalesce(text, '')) AS n_chars,
        |    length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS n_punct
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, text,
        |    CASE
        |      WHEN length(regexp_replace(coalesce(text, ''), '[^\x{4e00}-\x{9fff}]', '', 'g')) * 5
        |           > length(coalesce(text, '')) THEN 'zh'
        |      WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
        |      WHEN en >= es AND en >= de AND en >= fr THEN 'en'
        |      WHEN es >= de AND es >= fr THEN 'es'
        |      WHEN de >= fr THEN 'de'
        |      ELSE 'fr' END AS lang_pred,
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |      + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
        |      + CASE WHEN (en + es + de + fr) > 0 THEN 0.2 ELSE 0.0 END
        |      + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END AS quality_score,
        |    CAST(n_tokens AS BIGINT) AS n_tokens
        |  FROM base)
        |SELECT doc_id, lang_pred, quality_score, n_tokens,
        |  regexp_replace(regexp_replace(regexp_replace(coalesce(text,''),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+[0-9]{7,15}', '<PHONE>', 'g') AS scrubbed
        |FROM feat
        |WHERE lang_pred = 'en' AND quality_score >= 0.5
        |  AND n_tokens BETWEEN 5 AND 1000
        |ORDER BY doc_id""".stripMargin,
    // q106/q107: TPC-H Q8/Q18 shapes — DECIMAL-exact sums, one division.
    "q106_market_share" ->
      """WITH asia_cust AS (
        |  SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |rev AS (
        |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
        |    CASE WHEN sn.supp_nation = 'CHINA'
        |         THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
        |         ELSE CAST(0 AS DECIMAL(18,6)) END AS nrev,
        |    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS trev
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN asia_cust ac ON o.o_custkey = ac.c_custkey
        |  JOIN sn ON l.l_suppkey = sn.s_suppkey)
        |SELECT order_year,
        |  CAST(sum(nrev) AS DOUBLE) AS nation_revenue,
        |  CAST(sum(trev) AS DOUBLE) AS total_revenue,
        |  CASE WHEN CAST(sum(trev) AS DOUBLE) > 0
        |       THEN CAST(sum(nrev) AS DOUBLE) / CAST(sum(trev) AS DOUBLE) END AS mkt_share
        |FROM rev GROUP BY 1 ORDER BY 1""".stripMargin,
    "q107_large_orders" ->
      """WITH q AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS tq
        |  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 145)
        |SELECT o.o_custkey AS c_custkey, o.o_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |  CAST(q.tq AS DOUBLE) AS total_qty
        |FROM orders o JOIN q ON o.o_orderkey = q.l_orderkey
        |ORDER BY total_qty DESC, o.o_orderkey""".stripMargin,
    // q108–q112: TPC-H Q4/Q12/Q14/Q13/Q10 shapes. Counts exact; every money
    // aggregate DECIMAL-routed with one final double cast; ratios are one
    // IEEE division over the already-cast doubles on both engines.
    "q108_late_order_priorities" ->
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q109_ship_delay_mix" ->
      """SELECT
        |  CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) <= 0 THEN 'early'
        |       WHEN datediff('day', o.o_orderdate, l.l_shipdate) <= 365 THEN 'within_year'
        |       ELSE 'late' END AS delay_bucket,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q110_promo_revenue" ->
      """SELECT
        |  CAST(sum(CASE WHEN p.p_type = 'PROMO'
        |    THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue,
        |  CASE WHEN CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |         AS DECIMAL(18,6))) AS DOUBLE) > 0
        |    THEN 100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
        |           THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
        |           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |       / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |           AS DECIMAL(18,6))) AS DOUBLE) END AS promo_share
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1997-02-01'""".stripMargin,
    "q111_order_count_histogram" ->
      """WITH co AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        |  FROM customer c
        |  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |    AND o.o_orderpriority <> '5-LOW'
        |  GROUP BY 1)
        |SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
        |FROM co GROUP BY 1
        |ORDER BY n_customers DESC, n_orders DESC""".stripMargin,
    "q112_returned_items" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-04-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c.c_custkey
        |LIMIT 20""".stripMargin,
    // q114–q116: TPC-H Q17/Q19/Q22 shapes. Averages are exact-DECIMAL-sum /
    // exact-count with ONE IEEE division, so every float comparison bound is
    // bit-deterministic across engines; money sums DECIMAL-routed as above.
    "q114_small_qty_revenue" ->
      """WITH bl AS (
        |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand = 'Brand#4'),
        |a AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*) AS avg_qty
        |  FROM bl GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(bl.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total_revenue
        |FROM bl JOIN a ON bl.l_partkey = a.l_partkey
        |WHERE bl.l_quantity < 0.5 * a.avg_qty""".stripMargin,
    "q115_bracket_revenue" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#8' AND p.p_size BETWEEN 10 AND 30
        |       AND l.l_quantity BETWEEN 10 AND 35)""".stripMargin,
    "q116_dormant_customers" ->
      """WITH ab AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*) AS a
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c.c_nationkey AS nationkey,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_balance
        |FROM customer c, ab
        |WHERE c.c_acctbal > ab.a
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-06-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q117/q118: exact heavy trigrams; the CMS-prescreened q118 is
    // provably output-invariant (CMS never underestimates; overestimates
    // die in the exact recount) so BOTH run against the ONE exact oracle —
    // the q52/q113 shared-oracle exactness statement again. The gram mirror
    // is the zipped-slice shingler as DuckDB 1-based list slices; strict
    // (complete) trigrams only, so len<3 texts contribute nothing on both
    // engines.
    "q117_heavy_grams" -> heavyGramsOracle,
    "q118_heavy_grams_sketched" -> heavyGramsOracle,
    // q120: the coupon-regime HLL fixture — estimates ARE exact counts at
    // this cardinality, so plain COUNT(DISTINCT) over the same VALUES is the
    // oracle. q119 (real events, estimation regime) stays rows-only by
    // design, like the other approximate kernels.
    "q120_hll_fixture" -> {
      val values = hllFixtureRows
        .map { case (d, u) => s"($d, $u)" }.mkString(", ")
      s"""WITH ev AS (SELECT * FROM (VALUES $values) AS t(day, user_id))
         |SELECT * FROM (
         |  SELECT 'day' AS grain, CAST(day AS BIGINT) AS key,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS approx_uniques,
         |    CAST(count(*) AS BIGINT) AS n_events
         |  FROM ev GROUP BY day
         |  UNION ALL
         |  SELECT 'range', CAST(-1 AS BIGINT),
         |    CAST(count(DISTINCT user_id) AS BIGINT),
         |    CAST(count(*) AS BIGINT)
         |  FROM ev)
         |ORDER BY grain, key""".stripMargin
    },
    // q121: the stateful streaming rollup's batch-equality oracle — the
    // complete-mode snapshot must equal the plain batch aggregation.
    "q121_stream_dedup_rollup" ->
      """SELECT md5(coalesce(text, '')) AS content_hash,
        |  CAST(min(doc_id) AS BIGINT) AS keeper_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q122: gaps-and-islands on value change. IS DISTINCT FROM mirrors
    // Spark's null-safe !(a <=> b); the row_number()=1 arm mirrors the
    // first-row change flag (lag NULL + a NULL value would otherwise read
    // "no change"); epoch_ns is the q10 ns precedent; min(event_type) ==
    // Spark's first() because runs are constant by construction.
    "q122_event_type_history" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type
        |  FROM events),
        |f AS (
        |  SELECT *,
        |    CASE WHEN row_number() OVER w = 1
        |           OR event_type IS DISTINCT FROM lag(event_type) OVER w
        |         THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
        |g AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM f),
        |r AS (
        |  SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
        |    min(event_type) AS event_type,
        |    CAST(min(ts_ns) AS BIGINT) AS valid_from,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, run_id, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
        |    AS valid_to,
        |  n_rows
        |FROM r ORDER BY user_id, run_id""".stripMargin,
    // q123: exact-mode theta sketches ⇒ counts are true counts, so the
    // self-join COUNT(DISTINCT) form is the oracle. The pair grid comes
    // from the per-segment rollup (zero-overlap pairs kept via LEFT JOIN);
    // jaccard is one IEEE division of exact longs on both engines.
    "q123_audience_overlap" ->
      """WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
        |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM s GROUP BY 1),
        |p AS (SELECT a.event_type AS sa, b.event_type AS sb,
        |        CAST(count(*) AS BIGINT) AS n_common
        |      FROM s a JOIN s b
        |        ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT ca.event_type AS seg_a, cb.event_type AS seg_b,
        |  ca.n AS uniques_a, cb.n AS uniques_b,
        |  coalesce(p.n_common, 0) AS n_common,
        |  ca.n + cb.n - coalesce(p.n_common, 0) AS n_either,
        |  CASE WHEN ca.n + cb.n - coalesce(p.n_common, 0) > 0
        |       THEN CAST(coalesce(p.n_common, 0) AS DOUBLE)
        |            / (ca.n + cb.n - coalesce(p.n_common, 0)) END AS jaccard
        |FROM c ca JOIN c cb ON ca.event_type < cb.event_type
        |LEFT JOIN p ON p.sa = ca.event_type AND p.sb = cb.event_type
        |ORDER BY seg_a, seg_b""".stripMargin,
    // q124: exact-mode sketches again — day-pair COUNT(DISTINCT) arithmetic
    // is the oracle; return_rate is one IEEE division of exact longs.
    "q124_returning_users" ->
      """WITH du AS (
        |  SELECT DISTINCT
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |      AS day,
        |    user_id
        |  FROM events),
        |c AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM du GROUP BY 1),
        |r AS (SELECT a.day, CAST(count(*) AS BIGINT) AS n_returning
        |      FROM du a JOIN du b
        |        ON a.user_id = b.user_id AND b.day = a.day - 1
        |      GROUP BY 1)
        |SELECT c.day, c.n AS n_active,
        |  coalesce(r.n_returning, 0) AS n_returning,
        |  c.n - coalesce(r.n_returning, 0) AS n_fresh,
        |  CASE WHEN c.n > 0
        |       THEN CAST(coalesce(r.n_returning, 0) AS DOUBLE) / c.n
        |       END AS return_rate
        |FROM c JOIN c p ON p.day = c.day - 1
        |LEFT JOIN r ON r.day = c.day
        |ORDER BY c.day""".stripMargin,
    // q125 + q127 (the HammingJoinRewrite declarative form — rewrite is
    // multiplicity-exact, so the SAME oracle): dHash is a pure integer
    // function of the raster, so every
    // (original, pixel-exact BMP transcode) pair is Hamming 0 and the whole
    // pair set follows from the generator arithmetic (the q25 pattern):
    // images are i%3=0, the corrupt lane i%97=13 never decodes, transcode
    // ids are i+100000, and no unrelated pair falls inside the budget on
    // the frozen corpus.
    "q125_image_phash_dedup" -> imagePhashPairsOracle,
    "q127_hamming_join_rewrite" -> imagePhashPairsOracle,
    // q126: min-id components over the q125 pair set — every original keeps
    // itself, every transcode keeps its original.
    "q126_image_dup_groups" ->
      """WITH v AS (SELECT CAST(i AS BIGINT) AS i FROM range(600) t(i)
        |           WHERE i % 3 = 0 AND i % 97 <> 13)
        |SELECT i AS media_id, i AS keeper_id FROM v
        |UNION ALL
        |SELECT i + 100000, i FROM v
        |ORDER BY 1""".stripMargin,
    "q128_forecast_revenue" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN CAST(0.02 AS DOUBLE) AND CAST(0.06 AS DOUBLE)
        |  AND l_quantity < 24""".stripMargin,
    // q129: the max-equality runs on exact DECIMAL sums in both engines,
    // so "ties with the max" is arithmetic, not an IEEE comparison.
    "q129_top_supplier" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, CAST(r.rev AS DOUBLE) AS total_revenue
        |FROM supplier s JOIN r ON s.s_suppkey = r.l_suppkey
        |WHERE r.rev = (SELECT max(rev) FROM r)
        |ORDER BY s.s_suppkey""".stripMargin,
    "q130_product_profit" ->
      """SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |    - p.p_retailprice * l.l_quantity * CAST(0.6 AS DOUBLE)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    // q131: the oracle states Q21's textbook correlated EXISTS / NOT
    // EXISTS self-join verbatim; the Spark side plans the rollup rewrite
    // (per-order supplier/late counts on one clustering) — the driver
    // check IS the equivalence proof of the rewrite.
    "q131_waiting_suppliers" ->
      """WITH l AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |    bool_or(l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |  GROUP BY 1, 2)
        |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM l l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |WHERE l1.late
        |  AND EXISTS (SELECT 1 FROM l l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        |GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin,
    // q132: Q2's correlated MIN subquery stated directly; the join-back
    // equality runs on doubles both engines derived from identical inputs
    // via order-independent MIN, so it is bit-deterministic.
    "q132_cheapest_supplier" ->
      """WITH es AS (
        |  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        |  FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'EUROPE'),
        |o AS (
        |  SELECT l.l_partkey, l.l_suppkey,
        |    min(l.l_extendedprice / l.l_quantity) AS unit_cost
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN es ON l.l_suppkey = es.s_suppkey
        |  WHERE p.p_size = 15
        |  GROUP BY 1, 2),
        |m AS (SELECT l_partkey, min(unit_cost) AS min_cost FROM o GROUP BY 1)
        |SELECT o.l_partkey AS p_partkey, es.s_name, es.n_name, es.s_acctbal,
        |  o.unit_cost
        |FROM o
        |JOIN m ON o.l_partkey = m.l_partkey AND o.unit_cost = m.min_cost
        |JOIN es ON o.l_suppkey = es.s_suppkey
        |ORDER BY es.s_acctbal DESC, es.n_name, es.s_name, p_partkey""".stripMargin,
    "q133_supplier_mix" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
        |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
        |  AND l.l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q134_dominant_suppliers" ->
      """WITH rl AS (
        |  SELECT l.l_partkey, l.l_suppkey, l.l_quantity
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_name LIKE '%red%'
        |    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l.l_shipdate < TIMESTAMP '1997-01-01'),
        |ps AS (SELECT l_partkey, l_suppkey,
        |         sum(CAST(l_quantity AS DECIMAL(18,6))) AS sq
        |       FROM rl GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, sum(sq) AS tq FROM ps GROUP BY 1),
        |d AS (SELECT DISTINCT ps.l_suppkey
        |      FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
        |      WHERE CAST(ps.sq AS DOUBLE)
        |            > CAST(pt.tq AS DOUBLE) * CAST(0.3 AS DOUBLE))
        |SELECT s.s_suppkey, s.s_name, n.n_name
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE s.s_suppkey IN (SELECT l_suppkey FROM d)
        |ORDER BY s.s_name, s.s_suppkey""".stripMargin,
    // q135: the anchor division (1.5 × tot/cnt) is a fixed-order IEEE chain
    // on values both engines derive exactly (DECIMAL sum, bigint count).
    "q135_important_stock" ->
      """WITH es AS (
        |  SELECT s.s_suppkey
        |  FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'EUROPE'),
        |v AS (
        |  SELECT l.l_partkey,
        |    sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS val
        |  FROM lineitem l JOIN es ON l.l_suppkey = es.s_suppkey
        |  GROUP BY 1),
        |t AS (SELECT sum(val) AS tot, count(*) AS cnt FROM v)
        |SELECT v.l_partkey AS p_partkey, CAST(v.val AS DOUBLE) AS stock_value
        |FROM v, t
        |WHERE CAST(v.val AS DOUBLE)
        |      > CAST(1.5 AS DOUBLE) * (CAST(t.tot AS DOUBLE) / CAST(t.cnt AS DOUBLE))
        |ORDER BY stock_value DESC, p_partkey""".stripMargin,
    // q136: the full-probe disk-index query is exact top-3 — q21's oracle
    // verbatim; green means the persisted layout round-trips every vector
    // and the probe/prune path loses none.
    "q136_ann_index_exact" ->
      """WITH raw AS (
        |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS c0
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id % 5 = 0),
        |scored AS (
        |  SELECT id, neighbor_id,
        |    CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END AS c FROM raw),
        |ranked AS (
        |  SELECT id, neighbor_id, c,
        |    CAST(row_number() OVER (PARTITION BY id ORDER BY c DESC, neighbor_id ASC) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT id, neighbor_id, round(c, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 3 ORDER BY id, rank""".stripMargin,
    // q137: DuckDB states the naive quadratic form; the Spark side's
    // segment-join rewrite must reproduce it pair-for-pair (both distances
    // are classic unit-cost levenshtein on identical prefixes).
    "q137_editdist_join" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 32) AS s FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS distance
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // q138: q95's scaffold with the LERP stated verbatim; both engines
    // derive pv/nv from the same DECIMAL-exact means and the fraction from
    // small-int day arithmetic, so the IEEE chain is bit-identical.
    "q138_interpolate" ->
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |      AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, min(day) AS mn, max(day) AS mx FROM d GROUP BY 1),
        |s AS (SELECT user_id, unnest(range(mn, mx + 1)) AS day FROM b),
        |j AS (SELECT s.user_id, s.day, d.v, d.v IS NOT NULL AS observed
        |      FROM s LEFT JOIN d USING (user_id, day)),
        |w AS (SELECT user_id, day, v, observed,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |  last_value(CASE WHEN observed THEN day END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS po,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN observed THEN day END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxo
        |  FROM j)
        |SELECT user_id, day,
        |  CASE WHEN observed THEN v
        |       ELSE pv + (nv - pv)
        |            * (CAST(day - po AS DOUBLE) / CAST(nxo - po AS DOUBLE)) END
        |    AS mean_value,
        |  observed
        |FROM w ORDER BY user_id, day""".stripMargin,
    // q139: row_number() replays Spark's in-aggregate slice(sort_array)
    // (rounded score DESC, doc_id — a total order on the ROUNDED keys);
    // the per-(query, doc) score folds over list(c ORDER BY tok), the same
    // addition sequence as Spark's sorted 0.0-seeded fold; every float
    // expression is written in the identical parenthesized order and the
    // 6dp round absorbs ln's last-ulp libm variation (the q94 policy).
    "q139_bm25_search" ->
      """WITH uni AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(9470001 AS BIGINT), ''),
        |    (9470002, 'spark spark spark window')
        |  ) v(doc_id, text)),
        |d AS (SELECT doc_id, text FROM uni WHERE trim(coalesce(text, '')) <> ''),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+')) AS tok
        |  FROM d),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |       FROM toks GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
        |q AS (SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), 'spark window query'),
        |    (2, 'customer order merge batch'),
        |    (3, 'vector stream hash join'),
        |    (4, 'zzmissingterm zzneverseen'),
        |    (5, '')
        |  ) v(query_id, qtext)),
        |qt AS (
        |  SELECT DISTINCT query_id,
        |    unnest(regexp_split_to_array(lower(trim(qtext)), '[ \t\n\f\r]+')) AS tok
        |  FROM q WHERE trim(coalesce(qtext, '')) <> ''),
        |co AS (
        |  SELECT qt.query_id, tf.doc_id, qt.tok,
        |    ln((CAST(st.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        |         / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
        |    * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
        |         / (CAST(tf.tf AS DOUBLE)
        |            + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE)
        |                / (CAST(st.sdl AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS c
        |  FROM qt JOIN tf USING (tok) JOIN df USING (tok)
        |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
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
        |ORDER BY query_id, rank""".stripMargin,
    // q140: the 3 iterations unrolled as CTE layers; per-node contributions
    // fold over list(... ORDER BY src) = Spark's sorted 0.0-seeded fold, and
    // every op is +,*,/ in pinned order — but the 3-deep iteration chain
    // still drifts by an ulp between engines, so the FINAL rank rounds to
    // 12dp on both sides (q94 policy; 5e-13 slack vs ~1e-2 ranks).
    // q146 is the SAME oracle at 9dp: Spark's side swaps the sorted folds
    // for partial-aggregable sums (the production mode), whose drift vs the
    // deterministic fold is < 1e-9 — the 9dp round absorbs it.
    "q140_pagerank" -> pageRankOracleSql(12),
    "q146_pagerank_prod" -> pageRankOracleSql(9),
    "q156_pagerank_personalized" -> pageRankPersonalizedOracleSql(9),
    // q161: the oracle replays TRAINING (3 unrolled GD layers) — weights
    // come out bit-identical across engines (decimal-exact gradient sums +
    // fixed-order IEEE updates + rational link; see classifierOracleSql).
    "q161_quality_classifier" -> classifierOracleSql(3),
    // q167: the SAME oracle — offline training is q161's loop (weights
    // bit-identical) and the streamed stateless projection must equal
    // batch scoring row-for-row.
    "q167_stream_quality_gate" -> classifierOracleSql(3),
    // q162: the oracle is the PLAIN logical join — the Spark side must
    // produce the identical result THROUGH the bucketed write/read
    // lifecycle (layout is an optimization, never a semantic).
    "q162_bucketed_join" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(count(*) AS BIGINT) AS line_cnt,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q171: every term is a proven mirror (q16 tokens, q15 md5, q18
    // quality rounded 6dp through DECIMAL); single-row output.
    // q172: unrolled Bellman–Ford (SsspOracleLayers relax+min-merge layers
    // over the q152 base graph, edge weight = transition count). Monotone
    // layers: any unroll depth >= the Spark loop's converged wave count —
    // asserted inside the query — reaches the identical integer fixpoint.
    "q172_graph_sssp" -> ssspOracleSql(SsspOracleLayers),
    // q181: the greedy MMR selection REPLAYED as MmrK unrolled SQL layers
    // (remainder → max-sim-to-selected → argmax per layer); similarity
    // quantization is the explicit floor(x·1e6+0.5)/1e6 on both engines.
    "q181_mmr_rerank" -> mmrOracleSql(MmrK),
    // q182: LpaRounds unrolled synchronous majority sweeps over the
    // affinity adjacency (fixed-round contract — sync LPA may 2-cycle);
    // argmax restated as (cnt DESC, label ASC). All integers.
    "q182_lpa_communities" -> lpaOracleSql(LpaRounds),
    // q205: the q182 chain + exact modularity terms per community.
    "q205_modularity" -> modularityOracleSql(LpaRounds),
    // q213: LouvainSweeps unrolled synchronous greedy-move sweeps —
    // community degree mass, k_{i,c} votes, (score DESC, label ASC)
    // argmax, strictly-beats-staying CASE, all exact BIGINT terms
    // mirroring the Spark expressions (the q182 fixed-round precedent).
    "q213_louvain" -> louvainOracleSql(LouvainSweeps),
    // q225: level 1 verbatim + aggregation + weighted level-2 sweeps.
    "q225_louvain_two_level" ->
      louvainTwoLevelOracleSql(LouvainSweeps, LouvainL2Sweeps),
    // q226: yesterday's chain + coalesce hand-off + seeded warm sweeps.
    "q226_louvain_incremental" ->
      louvainWarmOracleSql(LouvainSweeps, LouvainWarmSweeps,
        KCoreChurnCutoff),
    // q212: KatzDepth unrolled layers, each the Spark sorted fold
    // restated as list_reduce(list(t ORDER BY src)) scaled by 0.5, with
    // the same left-to-right depth accumulation; 12dp mirrors the query.
    "q212_katz" -> katzOracleSql(KatzDepth),
    // q211: both sweeps as depth-capped recursive closures — every
    // tie-break (min seed, min peripheral on equal distance) restated.
    "q211_diameter" ->
      (s"WITH RECURSIVE $affinityEdgesCte,\n" +
      """sym AS (SELECT u AS src, v AS dst FROM und
        |         UNION SELECT v, u FROM und),
        |sd AS (SELECT min(src) AS s FROM
        |        (SELECT src FROM sym UNION ALL SELECT dst FROM sym) t(src)),
        |r1(node, d) AS (
        |  SELECT s, 0 FROM sd
        |  UNION
        |  SELECT sym.dst, r1.d + 1 FROM r1 JOIN sym ON sym.src = r1.node
        |  WHERE r1.d < 60),
        |d1 AS (SELECT node, min(d) AS d FROM r1 GROUP BY 1),
        |per AS (SELECT node, d FROM d1
        |        ORDER BY d DESC, node ASC LIMIT 1),
        |r2(node, d) AS (
        |  SELECT node, 0 FROM per
        |  UNION
        |  SELECT sym.dst, r2.d + 1 FROM r2 JOIN sym ON sym.src = r2.node
        |  WHERE r2.d < 60),
        |d2 AS (SELECT node, min(d) AS d FROM r2 GROUP BY 1)
        |SELECT CAST(sd.s AS BIGINT) AS seed,
        |  CAST(per.d AS BIGINT) AS ecc_seed,
        |  CAST(per.node AS BIGINT) AS peripheral,
        |  CAST((SELECT max(d) FROM d2) AS BIGINT) AS diameter_lb
        |FROM sd CROSS JOIN per""".stripMargin),
    // q206: the identical stub enumeration — exact BIGINT sums, the
    // sqrt-free undirected form, one final division.
    "q206_assortativity" ->
      (s"WITH $affinityEdgesCte,\n" +
      """adj AS (SELECT u AS a, v AS b FROM und
        |         UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY 1),
        |st AS (SELECT dx.deg AS x, dy.deg AS y
        |       FROM adj JOIN deg dx ON dx.node = adj.a
        |                JOIN deg dy ON dy.node = adj.b),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS m_stubs,
        |        CAST(sum(x) AS BIGINT) AS s_x,
        |        CAST(sum(x * y) AS BIGINT) AS s_xy,
        |        CAST(sum(x * x) AS BIGINT) AS s_xx
        |      FROM st)
        |SELECT m_stubs, s_x, s_xy, s_xx,
        |  CASE WHEN m_stubs * s_xx <> s_x * s_x THEN
        |    CAST(m_stubs * s_xy - s_x * s_x AS DOUBLE)
        |      / CAST(m_stubs * s_xx - s_x * s_x AS DOUBLE)
        |  END AS assortativity
        |FROM s""".stripMargin),
    // q207: q185's exact daily-cents series, deviations in HUGEINT (the
    // DECIMAL(38,0) mirror), lag pairs by equi-join on day+7, the acf
    // division rounded to 9dp on both sides.
    "q207_acf_revenue" ->
      """WITH d AS (
        |  SELECT CAST(year(ts) AS INT) AS yr,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT yr, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(cents) AS BIGINT) AS total
        |  FROM d GROUP BY 1),
        |j AS (
        |  SELECT d.yr, d.day,
        |    CAST(t.n_days AS HUGEINT) * CAST(d.cents AS HUGEINT)
        |      - CAST(t.total AS HUGEINT) AS dev
        |  FROM d JOIN t ON t.yr = d.yr),
        |den AS (SELECT yr, sum(dev * dev) AS den FROM j GROUP BY 1),
        |pr AS (
        |  SELECT a.yr, CAST(count(*) AS BIGINT) AS n_pairs,
        |    sum(a.dev * b.dev) AS num
        |  FROM j a JOIN j b ON b.yr = a.yr AND b.day = a.day + 7
        |  GROUP BY 1)
        |SELECT t.yr, t.n_days,
        |  CAST(coalesce(pr.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(pr.num, 0) AS VARCHAR) AS acf_num,
        |  CAST(den.den AS VARCHAR) AS acf_den,
        |  CASE WHEN den.den > 0 AND pr.n_pairs > 0
        |    THEN round(CAST(pr.num AS DOUBLE) / CAST(den.den AS DOUBLE), 9)
        |  END AS acf
        |FROM t JOIN den ON den.yr = t.yr LEFT JOIN pr ON pr.yr = t.yr
        |ORDER BY t.yr""".stripMargin,
    // q185: the identical all-integer CUSUM — exact cents, n-scaled
    // deviations, the prefix-min identity, integer alarm compare.
    "q185_cusum_revenue" ->
      """WITH d AS (
        |  SELECT CAST(year(ts) AS INT) AS yr,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT yr, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS total
        |  FROM d GROUP BY 1),
        |j AS (
        |  SELECT d.yr, d.day, d.cents, t.n * d.cents - t.total AS dev,
        |    t.n, t.total
        |  FROM d JOIN t ON t.yr = d.yr),
        |p AS (
        |  SELECT *, CAST(sum(dev) OVER
        |    (PARTITION BY yr ORDER BY day) AS BIGINT) AS pp
        |  FROM j),
        |c AS (
        |  SELECT yr, day, cents, dev,
        |    pp - least(CAST(0 AS BIGINT), CAST(min(pp) OVER
        |      (PARTITION BY yr ORDER BY day) AS BIGINT)) AS cusum,
        |    n, total
        |  FROM p)
        |SELECT yr, day, cents, dev, cusum,
        |  cusum * 32 > 1 * total * n AS alarm
        |FROM c ORDER BY yr, day""".stripMargin,
    // q183: the identical md5 / 15-hex-char / 60-bit / DECIMAL-sum
    // arithmetic — chr(1)/chr(3) are the operator's separator/sentinel.
    "q183_table_digest" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(CAST('0x' || substr(md5(concat_ws(chr(1),
        |    coalesce(CAST(l_orderkey AS VARCHAR), chr(3)),
        |    coalesce(CAST(l_partkey AS VARCHAR), chr(3)),
        |    coalesce(CAST(l_suppkey AS VARCHAR), chr(3)),
        |    coalesce(CAST(l_linenumber AS VARCHAR), chr(3)),
        |    coalesce(CAST(l_returnflag AS VARCHAR), chr(3)),
        |    coalesce(CAST(l_linestatus AS VARCHAR), chr(3)),
        |    coalesce(CAST(CAST(l_shipdate AS DATE) AS VARCHAR), chr(3)))),
        |    1, 15) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS digest
        |FROM lineitem""".stripMargin,
    // q188: mutual reachability as a depth-free recursive closure over
    // the DIRECTED top-3 edges (the affinity CTE's `top3`, not `und`) —
    // scc = min over the mutually-reachable set including self.
    "q188_scc" -> sccClosureOracleSql,
    // q204: q188's FULL-recompute recursive closure VERBATIM — the
    // incremental SCC maintenance must be output-invariant against
    // re-solving from scratch (the q202/q203 discipline on directed
    // mutual reachability).
    "q204_scc_incremental" -> sccClosureOracleSql,
    // q189: the identical wedge enumeration over the affinity CTE's `und`
    // — adjacency self-join on the pivot, non-adjacency via NOT EXISTS,
    // Jaccard as the same single IEEE division of exact integers.
    "q189_link_prediction" ->
      (s"WITH $affinityEdgesCte,\n" +
      """adj AS (SELECT u AS node, v AS nbr FROM und
        |         UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY 1),
        |wedge AS (
        |  SELECT a.node AS u, b.node AS v, CAST(count(*) AS BIGINT) AS cn
        |  FROM adj a JOIN adj b ON b.nbr = a.nbr AND a.node < b.node
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT w.u, w.v, w.cn FROM wedge w
        |  WHERE NOT EXISTS (SELECT 1 FROM und e
        |                    WHERE e.u = w.u AND e.v = w.v))
        |SELECT c.u, c.v, c.cn, du.deg AS deg_u, dv.deg AS deg_v,
        |  CAST(c.cn AS DOUBLE) / CAST(du.deg + dv.deg - c.cn AS DOUBLE)
        |    AS jaccard
        |FROM cand c
        |JOIN deg du ON du.node = c.u
        |JOIN deg dv ON dv.node = c.v
        |ORDER BY c.u, c.v""".stripMargin),
    // q190: the identical KMV arithmetic — the 31-bit LCG on the
    // non-negative residue (((x % M) + M) % M mirrors Spark's pmod), the
    // per-day bottom-64 DISTINCT hash set, the merged range sketch, and
    // the (k-1)·M / h_k estimate as one division of exact integers
    // (63 · 2³¹ = 135291469824, integer-valued, cast to DOUBLE exactly).
    "q190_kmv_distinct" ->
      """WITH e AS (
        |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS key, user_id FROM events),
        |h AS (
        |  SELECT DISTINCT key,
        |    (1103515245 * (((user_id % 2147483648) + 2147483648)
        |       % 2147483648) + 12345) % 2147483648 AS h
        |  FROM e),
        |r AS (SELECT key, h,
        |        row_number() OVER (PARTITION BY key ORDER BY h) AS rn
        |      FROM h),
        |sk AS (SELECT key, h, rn FROM r WHERE rn <= 64),
        |msk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
        |        FROM (SELECT DISTINCT h FROM sk) u),
        |g AS (
        |  SELECT 'day' AS grain, key, CAST(count(*) AS BIGINT) AS n_kept,
        |    CAST(max(CASE WHEN rn = 64 THEN h END) AS BIGINT) AS kth_min
        |  FROM sk GROUP BY 2
        |  UNION ALL
        |  SELECT 'range', CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
        |    CAST(max(CASE WHEN rn = 64 THEN h END) AS BIGINT)
        |  FROM msk WHERE rn <= 64),
        |ex AS (
        |  SELECT 'day' AS grain, key,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM e GROUP BY 2
        |  UNION ALL
        |  SELECT 'range', CAST(-1 AS BIGINT),
        |    CAST(count(DISTINCT user_id) AS BIGINT)
        |  FROM e)
        |SELECT g.grain, g.key, g.n_kept, g.kth_min,
        |  CASE WHEN g.n_kept < 64 THEN CAST(g.n_kept AS DOUBLE)
        |       ELSE CAST(135291469824 AS DOUBLE) / CAST(g.kth_min AS DOUBLE)
        |  END AS est_distinct,
        |  ex.exact_distinct
        |FROM g JOIN ex ON ex.grain = g.grain AND ex.key = g.key
        |ORDER BY 1, 2""".stripMargin,
    // q210: the q190 LCG sketch arithmetic, then the Beyer §5 estimator
    // replayed relationally — M = bottom-64 of the sketch union per
    // consecutive-day pair, estimate = |M ∩ A ∩ B| / |M|; the exact
    // Jaccard twin from the same distinct frame. Both divisions are
    // single IEEE ops on exact integers.
    "q210_kmv_jaccard" ->
      """WITH e AS (
        |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS key, user_id FROM events),
        |h AS (
        |  SELECT DISTINCT key,
        |    (1103515245 * (((user_id % 2147483648) + 2147483648)
        |       % 2147483648) + 12345) % 2147483648 AS h
        |  FROM e),
        |r AS (SELECT key, h,
        |        row_number() OVER (PARTITION BY key ORDER BY h) AS rn
        |      FROM h),
        |sk AS (SELECT key, h FROM r WHERE rn <= 64),
        |days AS (SELECT DISTINCT key FROM e),
        |pr AS (SELECT a.key AS day_a, b.key AS day_b
        |       FROM days a JOIN days b ON b.key = a.key + 1),
        |mh AS (
        |  SELECT day_a, h FROM (
        |    SELECT p.day_a, s.h FROM pr p JOIN sk s ON s.key = p.day_a
        |    UNION
        |    SELECT p.day_a, s.h FROM pr p JOIN sk s ON s.key = p.day_b)),
        |mr AS (SELECT day_a, h,
        |         row_number() OVER (PARTITION BY day_a ORDER BY h) AS rn
        |       FROM mh),
        |m AS (SELECT day_a, h FROM mr WHERE rn <= 64),
        |cm AS (SELECT day_a, CAST(count(*) AS BIGINT) AS n_m
        |       FROM m GROUP BY 1),
        |ci AS (SELECT m.day_a, CAST(count(*) AS BIGINT) AS n_mi
        |       FROM m
        |       JOIN pr ON pr.day_a = m.day_a
        |       JOIN sk sa ON sa.key = pr.day_a AND sa.h = m.h
        |       JOIN sk sb ON sb.key = pr.day_b AND sb.h = m.h
        |       GROUP BY 1),
        |du AS (SELECT DISTINCT key, user_id FROM e),
        |ni AS (SELECT a.key AS day_a, CAST(count(*) AS BIGINT) AS n_inter
        |       FROM du a JOIN du b ON b.key = a.key + 1
        |                          AND b.user_id = a.user_id
        |       GROUP BY 1),
        |nc AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM du GROUP BY 1)
        |SELECT pr.day_a, pr.day_b,
        |  CAST(coalesce(ni.n_inter, 0) AS BIGINT) AS n_inter,
        |  na.n + nb.n - coalesce(ni.n_inter, 0) AS n_union,
        |  CAST(coalesce(ni.n_inter, 0) AS DOUBLE)
        |    / CAST(na.n + nb.n - coalesce(ni.n_inter, 0) AS DOUBLE)
        |    AS jaccard_exact,
        |  CAST(coalesce(ci.n_mi, 0) AS DOUBLE) / CAST(cm.n_m AS DOUBLE)
        |    AS jaccard_est
        |FROM pr
        |JOIN cm ON cm.day_a = pr.day_a
        |LEFT JOIN ci ON ci.day_a = pr.day_a
        |JOIN nc na ON na.key = pr.day_a
        |JOIN nc nb ON nb.key = pr.day_b
        |LEFT JOIN ni ON ni.day_a = pr.day_a
        |ORDER BY pr.day_a""".stripMargin,
    // q199: six damped layers in one chain — 3 cold over the day-1 graph,
    // the coalesce(prev, 1/N) hand-off, 3 warm over the full graph; 9dp
    // absorbs the sum-fold drift (the q146 policy).
    "q199_pagerank_incremental" ->
      pageRankIncrementalOracleSql(9, "2024-01-02"),
    // q198: the q190 day-grain arithmetic verbatim (no range row) — the
    // streamed sketch is a set property, so batch SQL verifies the
    // stateful stream's fixpoint exactly.
    "q198_stream_kmv" ->
      """WITH e AS (
        |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS key, user_id FROM events),
        |h AS (
        |  SELECT DISTINCT key,
        |    (1103515245 * (((user_id % 2147483648) + 2147483648)
        |       % 2147483648) + 12345) % 2147483648 AS h
        |  FROM e),
        |r AS (SELECT key, h,
        |        row_number() OVER (PARTITION BY key ORDER BY h) AS rn
        |      FROM h),
        |sk AS (SELECT key, h, rn FROM r WHERE rn <= 64),
        |g AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n_kept,
        |    CAST(max(CASE WHEN rn = 64 THEN h END) AS BIGINT) AS kth_min
        |  FROM sk GROUP BY 1),
        |ex AS (
        |  SELECT key,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM e GROUP BY 1)
        |SELECT g.key, g.n_kept, g.kth_min,
        |  CASE WHEN g.n_kept < 64 THEN CAST(g.n_kept AS DOUBLE)
        |       ELSE CAST(135291469824 AS DOUBLE) / CAST(g.kth_min AS DOUBLE)
        |  END AS est_distinct,
        |  ex.exact_distinct
        |FROM g JOIN ex ON ex.key = g.key
        |ORDER BY 1""".stripMargin,
    // q197: one UNION ALL branch per key/FD row, explicit NULL contract.
    "q197_fd_profile" -> fdOracleSql("orders",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
    // q200: the production mixer is engine-specific, so the oracle pins
    // the exact columns (n_kept = min(exact, 64) — zero 62-bit collisions,
    // a deterministic property of the fixed data) and expects every
    // band_ok TRUE; a broken estimator or colliding mixer turns a value
    // FALSE and the hash compare goes red.
    "q200_kmv_xxhash" ->
      """WITH e AS (
        |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS key, user_id FROM events),
        |ex AS (
        |  SELECT 'day' AS grain, key,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM e GROUP BY 2
        |  UNION ALL
        |  SELECT 'range', CAST(-1 AS BIGINT),
        |    CAST(count(DISTINCT user_id) AS BIGINT)
        |  FROM e)
        |SELECT grain, key,
        |  CAST(least(exact_distinct, 64) AS BIGINT) AS n_kept,
        |  exact_distinct, TRUE AS band_ok
        |FROM ex ORDER BY 1, 2""".stripMargin,
    // q196: the identical sliding merge — per-day bottom-64 sketches, each
    // contributing to its 7 windows via a generated offset series, distinct
    // union per window, bottom-64 again, the same estimator arithmetic;
    // full windows only (n_periods = 7).
    "q196_kmv_sliding" ->
      """WITH e AS (
        |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS key, user_id FROM events),
        |h AS (
        |  SELECT DISTINCT key,
        |    (1103515245 * (((user_id % 2147483648) + 2147483648)
        |       % 2147483648) + 12345) % 2147483648 AS h
        |  FROM e),
        |r AS (SELECT key, h,
        |        row_number() OVER (PARTITION BY key ORDER BY h) AS rn
        |      FROM h),
        |sk AS (SELECT key, h FROM r WHERE rn <= 64),
        |o AS (SELECT unnest(generate_series(0, 6)) AS off),
        |c AS (SELECT sk.key + o.off AS wend, sk.key AS src, sk.h
        |      FROM sk CROSS JOIN o),
        |np AS (SELECT wend, count(DISTINCT src) AS n_periods
        |       FROM c GROUP BY 1),
        |wr AS (SELECT wend, h,
        |         row_number() OVER (PARTITION BY wend ORDER BY h) AS rn
        |       FROM (SELECT DISTINCT wend, h FROM c) dh),
        |wsk AS (SELECT wend, h, rn FROM wr WHERE rn <= 64),
        |g AS (SELECT wend, CAST(count(*) AS BIGINT) AS n_kept,
        |        CAST(max(CASE WHEN rn = 64 THEN h END) AS BIGINT) AS kth_min
        |      FROM wsk GROUP BY 1),
        |ex AS (SELECT e.key + o.off AS wend,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |       FROM e CROSS JOIN o GROUP BY 1)
        |SELECT g.wend AS key, g.n_kept, g.kth_min,
        |  CASE WHEN g.n_kept < 64 THEN CAST(g.n_kept AS DOUBLE)
        |       ELSE CAST(135291469824 AS DOUBLE) / CAST(g.kth_min AS DOUBLE)
        |  END AS est_distinct,
        |  ex.exact_distinct
        |FROM g
        |JOIN np ON np.wend = g.wend AND np.n_periods = 7
        |JOIN ex ON ex.wend = g.wend
        |ORDER BY 1""".stripMargin,
    // q194: unrolled synchronous earliest-arrival layers over the
    // timestamped transition edges (epoch_ms mirrors unix_millis — both
    // floor the same micros value); -1 seed sentinel, min-merge per layer.
    "q194_temporal_reach" -> temporalOracleSql(TemporalOracleLayers),
    // q195: unrolled truss peel layers over the top-8 affinity graph —
    // node-ordered triangle enumeration, 3-edge explode, support filter,
    // one extra support layer stating the fixpoint edges' final support.
    "q195_truss" -> trussOracleSql(TrussK, TrussOracleLayers),
    // q193: the identical cross-multiplied drift arithmetic over the q62
    // tokenizer mirror — parity split, zero-filled full-outer, integer
    // rank with token tie-break, one exact-integer division for `drift`.
    "q193_corpus_drift" ->
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
        |LIMIT 20""".stripMargin,
    // q192: the identical all-integer EWMA arithmetic — exact cents (the
    // q185 base), power-of-two lag weights (D = 255), NULL under a partial
    // window, the 25% alarm as a pure integer compare, and `ewma` as the
    // one exact-integer IEEE division.
    "q192_ewma_anomaly" ->
      """WITH d AS (
        |  SELECT CAST(year(ts) AS INT) AS yr,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT yr, day, cents,
        |    CASE WHEN lag(cents, 8) OVER w IS NULL THEN NULL ELSE
        |      128 * lag(cents, 1) OVER w + 64 * lag(cents, 2) OVER w
        |      + 32 * lag(cents, 3) OVER w + 16 * lag(cents, 4) OVER w
        |      + 8 * lag(cents, 5) OVER w + 4 * lag(cents, 6) OVER w
        |      + 2 * lag(cents, 7) OVER w + lag(cents, 8) OVER w
        |    END AS s
        |  FROM d WINDOW w AS (PARTITION BY yr ORDER BY day))
        |SELECT yr, day, cents,
        |  CAST(s AS DOUBLE) / CAST(255 AS DOUBLE) AS ewma,
        |  CAST(cents * 255 - s AS BIGINT) AS dev,
        |  abs(cents * 255 - s) * 4 > 1 * s AS alarm
        |FROM l ORDER BY yr, day""".stripMargin,
    // q218: the identical seasonal-naive integer arithmetic — exact cents
    // (the q185 base), the baseline via the SAME pinned RANGE frame
    // (exactly day−7, gap-exact), NULL under a missing baseline, the 25%
    // alarm as a pure integer compare.
    "q218_seasonal_naive" ->
      """WITH d AS (
        |  SELECT CAST(year(ts) AS INT) AS yr,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT yr, day, cents,
        |    max(cents) OVER (PARTITION BY yr ORDER BY day
        |      RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS baseline
        |  FROM d)
        |SELECT yr, day, cents, baseline,
        |  CAST(cents - baseline AS BIGINT) AS dev,
        |  abs(cents - baseline) * 4 > 1 * baseline AS alarm
        |FROM b ORDER BY yr, day""".stripMargin,
    // q191: the same rollup over the LOGICAL table — the compaction
    // rewrite (fragment -> coalesce -> staged swap) must be invisible to
    // every query. sum(BIGINT) is HUGEINT in DuckDB; cast back.
    "q191_compaction_lifecycle" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // q176: unrolled peel layers (KCoreOracleLayers rounds of degree →
    // keep >= k → filter edges, over the q155 undirected base graph).
    // Monotone layers: any unroll depth >= the Spark loop's converged
    // peel count — asserted inside the query — is the identical fixpoint.
    "q176_kcore" -> kcoreOracleSql(KCoreK, KCoreOracleLayers),
    // q209: the q176 pattern graded — one chain per k, shells maxed.
    "q209_coreness" -> corenessOracleSql(CorenessMaxK, CorenessLayers),
    // q219: q176's full-recompute peel chain VERBATIM over today's full
    // graph — the maintained CHURN result (mixed insert+delete delta)
    // must be output-invariant vs re-peeling from scratch (the q202
    // discipline with deletions live in a registered row).
    "q219_kcore_churn" -> kcoreOracleSql(KCoreK, KCoreOracleLayers),
    // q221: q195's full-recompute peel chain VERBATIM over today's top-8
    // graph — the maintained CHURN truss must be output-invariant vs
    // re-peeling from scratch (deletions live at edge level).
    "q221_truss_churn" -> trussOracleSql(TrussK, TrussOracleLayers),
    // q222: q188's depth-free closure VERBATIM over today's directed
    // graph — churn SCC with dirty-class splits live.
    "q222_scc_churn" -> sccClosureOracleSql,
    // q220: the q213 sweep chain verbatim + RefineLayers min-propagation
    // rounds over the intra-community adjacency (connectivity refinement).
    "q220_louvain_refine" ->
      louvainRefineOracleSql(LouvainSweeps, RefineLayers),
    // q201: Brandes replayed relationally — recursive-walk distances, 8
    // unrolled sigma layers forward, 8 unrolled delta layers backward,
    // sorted folds mirroring Spark's array_sort+aggregate bit for bit.
    "q201_betweenness" -> betweennessOracleSql(BcOracleDepth),
    // q202: q176's FULL-recompute peel chain VERBATIM — the incremental
    // maintenance must be output-invariant against re-peeling from scratch
    // (the q186 discipline applied to the peel family).
    "q202_kcore_incremental" -> kcoreOracleSql(KCoreK, KCoreOracleLayers),
    // q208: the SAME full-recompute chain a third time — the STREAMED
    // maintenance fixpoint (k-core is a pure function of the edge set, so
    // continuous foreachBatch maintenance must land exactly there).
    "q208_stream_kcore" -> kcoreOracleSql(KCoreK, KCoreOracleLayers),
    // q203: q195's FULL-recompute truss peel chain VERBATIM — the
    // incremental edge-cohesion maintenance must be output-invariant
    // against re-peeling from scratch (the q202 discipline at edge level).
    "q203_truss_incremental" -> trussOracleSql(TrussK, TrussOracleLayers),
    // q215: the q195 chain a THIRD time — the streamed truss-maintenance
    // fixpoint (the truss is a pure function of the edge set; the q208
    // argument at edge level).
    "q215_stream_truss" -> trussOracleSql(TrussK, TrussOracleLayers),
    // q216: q188's depth-free recursive closure a THIRD time — the
    // streamed SCC-maintenance fixpoint (the q204 argument, continuously).
    "q216_stream_scc" -> sccClosureOracleSql,
    // q223: q209's nested full-recompute chain VERBATIM — the streamed
    // shell grading must land on the batch fixpoint exactly (coreness is
    // a pure function of the edge set; fourth output-invariance reuse).
    "q223_stream_coreness" ->
      corenessOracleSql(CorenessMaxK, CorenessLayers),
    // q217: q209's FULL-recompute nested peel chain VERBATIM — the
    // per-level maintained shells must be output-invariant against
    // re-grading from scratch (q202 × q209).
    "q217_coreness_incremental" ->
      corenessOracleSql(CorenessMaxK, CorenessLayers),
    "q171_corpus_card" ->
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
        |FROM q""".stripMargin,
    // q170: per-column profile — one UNION ALL branch per column, each the
    // plain exact rollup; min/max rendered as VARCHAR (UTF-8 byte order =
    // code-point order on both engines; BIGINT rendering identical).
    "q170_table_profile" ->
      """WITH t AS (SELECT * FROM documents)
        |SELECT * FROM (
        |  SELECT 'doc_id' AS col_name,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |    CAST(min(doc_id) AS VARCHAR) AS min_value,
        |    CAST(max(doc_id) AS VARCHAR) AS max_value
        |  FROM t
        |  UNION ALL
        |  SELECT 'text', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(text) AS BIGINT),
        |    CAST(count(DISTINCT text) AS BIGINT),
        |    min(text), max(text) FROM t
        |  UNION ALL
        |  SELECT 'lang', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(lang) AS BIGINT),
        |    CAST(count(DISTINCT lang) AS BIGINT),
        |    min(lang), max(lang) FROM t
        |  UNION ALL
        |  SELECT 'source', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(source) AS BIGINT),
        |    CAST(count(DISTINCT source) AS BIGINT),
        |    min(source), max(source) FROM t
        |  UNION ALL
        |  SELECT 'n_chars', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(n_chars) AS BIGINT),
        |    CAST(count(DISTINCT n_chars) AS BIGINT),
        |    CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM t)
        |ORDER BY col_name""".stripMargin,
    // q169: the q143 E-S key restated verbatim; the mixture weight is two
    // divisions on exact longs mirrored in the same operation order. The
    // count lookup joins NULL-SAFE (IS NOT DISTINCT FROM — the operator's
    // <=> join): a NULL stratum is its own group, never dropped.
    "q169_mixture_resample" ->
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
        |FROM rk WHERE rk <= 100 ORDER BY rank""".stripMargin,
    // q168: keeper = rank-1 by (quality DESC, doc_id ASC) per content hash;
    // the quality chain is q18's engine-exact mirror, so both engines rank
    // identical doubles. Spark's side computes the same pick as a
    // partial-aggregable max(struct) — shape-free on the oracle side.
    "q168_dedup_keep_best" ->
      """WITH scored AS (
        |  SELECT doc_id, md5(text) AS text_md5,
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |    + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
        |    + CASE WHEN stop_hits > 0 THEN 0.2 ELSE 0.0 END
        |    + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END AS q
        |  FROM (SELECT doc_id, text,
        |          CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |               ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
        |          length(coalesce(text, '')) AS n_chars,
        |          len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS stop_hits,
        |          length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS n_punct
        |        FROM documents)),
        |ranked AS (
        |  SELECT text_md5, doc_id, q,
        |    row_number() OVER (PARTITION BY text_md5 ORDER BY q DESC, doc_id ASC) AS r,
        |    CAST(count(*) OVER (PARTITION BY text_md5) AS BIGINT) AS dup_count
        |  FROM scored)
        |SELECT text_md5, doc_id AS keep_id, q AS keep_quality, dup_count
        |FROM ranked WHERE r = 1 ORDER BY text_md5""".stripMargin,
    // q166: the oracle is the PLAIN filter — the z-order write lifecycle
    // (scaled zkey, range repartition, sort, key drop, staged swap) must
    // lose and duplicate nothing.
    "q166_zorder_scan" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_day,
        |  l_partkey, l_quantity
        |FROM lineitem
        |WHERE datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) >= 11400
        |  AND datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) < 11500
        |  AND l_partkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // q165: the oracle is the PLAIN distinct rollup — the salted two-phase
    // aggregation must be output-invariant (set content is order-free and
    // presented sorted).
    "q165_salted_event_types" ->
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ' ')
        |    AS event_types,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q164: frozen VALUES over the planted Sennrich corpus — the merges and
    // encodings are hand-derived in bpeEncode's Scaladoc (q19 pattern).
    "q164_bpe_encode" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'low est', CAST(2 AS BIGINT)),
        |  (2, 'n e w est', 4),
        |  (3, 's low e r', 4),
        |  (4, 'low low est', 3),
        |  (5, '', 0)
        |) v(probe_id, encoded, n_sub) ORDER BY probe_id""".stripMargin,
    // q163: q139's BM25 CTE chain with documents-as-probes, then the q21
    // cosine mirror reranks the top-20 (self-hit dropped) to top-5.
    "q163_hybrid_rerank" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE trim(coalesce(text, '')) <> ''),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+')) AS tok
        |  FROM d),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |       FROM toks GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
        |q AS (SELECT doc_id AS query_id, text AS qtext FROM documents
        |      WHERE doc_id % 97 = 0),
        |qt0 AS (
        |  SELECT DISTINCT query_id,
        |    unnest(regexp_split_to_array(lower(trim(qtext)), '[ \t\n\f\r]+')) AS tok
        |  FROM q WHERE trim(coalesce(qtext, '')) <> ''),
        |qt AS (
        |  SELECT query_id, tok FROM (
        |    SELECT qt0.query_id, qt0.tok,
        |      row_number() OVER (PARTITION BY qt0.query_id
        |        ORDER BY df.df, qt0.tok) AS r
        |    FROM qt0 JOIN df USING (tok))
        |  WHERE r <= 20),
        |co AS (
        |  SELECT qt.query_id, tf.doc_id, qt.tok,
        |    ln((CAST(st.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        |         / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
        |    * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
        |         / (CAST(tf.tf AS DOUBLE)
        |            + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE)
        |                / (CAST(st.sdl AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS c
        |  FROM qt JOIN tf USING (tok) JOIN df USING (tok)
        |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
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
        |FROM fin WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // q159/q160: q21's oracle with the metric swapped — list_inner_product
    // (desc) / list_distance (asc); 6dp, same rank tie-break.
    // q177: the q21 cosine ranking and the q159 dot ranking (identical
    // NaN/tie policies), top-10 each, fused full-outer; every rrf term is
    // one exact small-integer division and the two-term sum is commutative
    // at equal bits — no rounding anywhere.
    "q177_rrf_fusion" ->
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
        |  FROM f) WHERE fused_rank <= 5 ORDER BY id, fused_rank""".stripMargin,
    // q178: truth = q21's exact-cosine ranking (batch vs corpus), system =
    // the same ranking over the q61 int8 codes; metrics are exact-integer
    // divisions plus a rank-ordered fold of the SHARED literal discount
    // table — no transcendental call on either engine, no rounding.
    "q178_retrieval_metrics" ->
      (s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
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
         |    FROM traw) WHERE truth_rank <= 10),
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
         |s10 AS (
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
         |ORDER BY p.query_id""".stripMargin),
    // q179: the q18 score feeds pure integer window logic — ntile/row_number
    // semantics are SQL-standard on both engines; (wpos, bucket) is a total
    // order (wpos unique within bucket), so every rank is deterministic.
    "q179_curriculum_order" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |    + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
        |    + CASE WHEN stop_hits > 0 THEN 0.2 ELSE 0.0 END
        |    + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END AS quality_score
        |  FROM (SELECT doc_id,
        |          CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |               ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
        |          length(coalesce(text, '')) AS n_chars,
        |          len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b'))
        |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS stop_hits,
        |          length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS n_punct
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
        |FROM w ORDER BY training_pos""".stripMargin,
    // q180: DuckDB GROUPING SETS shares Spark's Expand expansion and
    // MSB-first grouping_id bitmask (probed at q157); NULLS FIRST pinned.
    "q180_grouping_sets" ->
      """SELECT n.n_name, year(o.o_orderdate) AS order_year,
        |  CAST(GROUPING(n.n_name, year(o.o_orderdate)) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS order_cnt,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY GROUPING SETS ((n.n_name), (year(o.o_orderdate)), ())
        |ORDER BY gid, n_name NULLS FIRST, order_year NULLS FIRST""".stripMargin,
    // q187: q178's oracle with the system side sliced to the first 16
    // dims — DuckDB arr[1:16] mirrors Spark slice(arr, 1, 16) exactly.
    "q187_matryoshka_eval" ->
      (s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
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
         |    FROM traw) WHERE truth_rank <= 10),
         |sraw AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[])[1:16],
         |                           CAST(c.embedding AS DOUBLE[])[1:16]) AS c0
         |  FROM (SELECT * FROM e WHERE vec_id % 13 = 0) q
         |  CROSS JOIN (SELECT * FROM e WHERE vec_id % 13 <> 0) c),
         |s10 AS (
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
         |ORDER BY p.query_id""".stripMargin),
    "q159_ann_dot" ->
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
        |FROM ranked WHERE rank <= 3 ORDER BY id, rank""".stripMargin,
    "q160_ann_l2" ->
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
        |FROM ranked WHERE rank <= 3 ORDER BY id, rank""".stripMargin,
    // q158: DuckDB median on DOUBLE = exact interpolated quantile_cont 0.5;
    // the engines' interpolation forms differ by an ulp — 6dp absorbs.
    "q158_median_revenue" ->
      """SELECT n.n_name, CAST(count(*) AS BIGINT) AS order_cnt,
        |  round(CAST(median(CAST(o.o_totalprice AS DOUBLE)) AS DOUBLE), 6)
        |    AS median_revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    // q157: DuckDB CUBE + GROUPING share Spark's MSB-first bitmask; NULLS
    // FIRST pinned on both sides (the engines default opposite).
    "q157_sales_cube" ->
      """SELECT n.n_name, year(o.o_orderdate) AS order_year,
        |  CAST(GROUPING(n.n_name, year(o.o_orderdate)) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS order_cnt,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY CUBE(n.n_name, year(o.o_orderdate))
        |ORDER BY gid, n_name NULLS FIRST, order_year NULLS FIRST""".stripMargin,
    // q147: the post-stream full-probe index IS exact top-3 over the latest
    // corpus state — the q136 oracle with the streamed updates (reversed
    // vectors for % 10 = 0) applied via CASE. A stale version surviving the
    // keep-latest resolution would shift cosines and break the hash.
    "q147_ann_index_streamed" ->
      """WITH latest AS (
        |  SELECT vec_id, CASE WHEN vec_id % 10 = 0
        |    THEN list_reverse(CAST(embedding AS DOUBLE[]))
        |    ELSE CAST(embedding AS DOUBLE[]) END AS v
        |  FROM embeddings),
        |raw AS (
        |  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(a.v, b.v) AS c0
        |  FROM latest a JOIN latest b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id % 5 = 0),
        |scored AS (
        |  SELECT id, neighbor_id,
        |    CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END AS c FROM raw),
        |ranked AS (
        |  SELECT id, neighbor_id, c,
        |    CAST(row_number() OVER (PARTITION BY id ORDER BY c DESC, neighbor_id ASC) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT id, neighbor_id, round(c, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 3 ORDER BY id, rank""".stripMargin,
    // q149: the append-mode accumulated sink of the watermarked
    // stream-stream interval join IS the batch interval join (event-time-
    // ordered replay on both sides, min-watermark across sources ⇒ no
    // late drops). Exact µs timestamps, integer interval bound, raw
    // columns — bit-for-bit hash.
    "q149_stream_stream_join" ->
      """SELECT l.user_id, l.ts AS view_ts, l.event_id AS view_event,
        |  r.ts AS purchase_ts, r.event_id AS purchase_event, r.value
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |WHERE l.event_type = 'view' AND r.event_type = 'purchase'
        |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // q150: q149's matched rows UNION the watermark-closed unmatched views
    // (null purchase columns). The final watermark = min over both sources
    // of (ms-floored max event time − 30 min); an unmatched view emits iff
    // its 1-hour window END is strictly below it — Spark's left-outer
    // eviction rule, restated relationally and pinned at every SF.
    "q150_stream_outer_join" ->
      """WITH v AS (
        |  SELECT user_id, ts AS view_ts, event_id AS view_event
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, ts AS purchase_ts, event_id AS purchase_event, value
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least(
        |    (SELECT date_trunc('milliseconds', max(view_ts)) FROM v),
        |    (SELECT date_trunc('milliseconds', max(purchase_ts)) FROM p))
        |    - INTERVAL 30 MINUTE AS w),
        |matched AS (
        |  SELECT v.user_id, v.view_ts, v.view_event,
        |    p.purchase_ts, p.purchase_event, p.value
        |  FROM v JOIN p ON v.user_id = p.user_id
        |    AND p.purchase_ts >= v.view_ts
        |    AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR),
        |unmatched AS (
        |  SELECT v.user_id, v.view_ts, v.view_event,
        |    CAST(NULL AS TIMESTAMP_NS) AS purchase_ts,
        |    CAST(NULL AS BIGINT) AS purchase_event,
        |    CAST(NULL AS DOUBLE) AS value
        |  FROM v
        |  WHERE NOT EXISTS (
        |      SELECT 1 FROM p
        |      WHERE p.user_id = v.user_id
        |        AND p.purchase_ts >= v.view_ts
        |        AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR)
        |    AND v.view_ts + INTERVAL 1 HOUR < (SELECT w FROM wm))
        |SELECT * FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // q173: q150's matched + unmatched-left sets plus the symmetric
    // unmatched-right set — a purchase with no view in [ts − 1h, ts] for
    // its user emits null-padded iff the final watermark passed its
    // timestamp STRICTLY (right-state eviction: a future left row could
    // still match it only while view_ts <= purchase_ts remains possible).
    // user_id coalesces across sides, so right-only rows carry it.
    "q173_stream_full_outer_join" ->
      """WITH v AS (
        |  SELECT user_id, ts AS view_ts, event_id AS view_event
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, ts AS purchase_ts, event_id AS purchase_event, value
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least(
        |    (SELECT date_trunc('milliseconds', max(view_ts)) FROM v),
        |    (SELECT date_trunc('milliseconds', max(purchase_ts)) FROM p))
        |    - INTERVAL 30 MINUTE AS w),
        |matched AS (
        |  SELECT v.user_id, v.view_ts, v.view_event,
        |    p.purchase_ts, p.purchase_event, p.value
        |  FROM v JOIN p ON v.user_id = p.user_id
        |    AND p.purchase_ts >= v.view_ts
        |    AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR),
        |unmatched_v AS (
        |  SELECT v.user_id, v.view_ts, v.view_event,
        |    CAST(NULL AS TIMESTAMP_NS) AS purchase_ts,
        |    CAST(NULL AS BIGINT) AS purchase_event,
        |    CAST(NULL AS DOUBLE) AS value
        |  FROM v
        |  WHERE NOT EXISTS (
        |      SELECT 1 FROM p
        |      WHERE p.user_id = v.user_id
        |        AND p.purchase_ts >= v.view_ts
        |        AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR)
        |    AND v.view_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)),
        |unmatched_p AS (
        |  SELECT p.user_id,
        |    CAST(NULL AS TIMESTAMP_NS) AS view_ts,
        |    CAST(NULL AS BIGINT) AS view_event,
        |    p.purchase_ts, p.purchase_event, p.value
        |  FROM p
        |  WHERE NOT EXISTS (
        |      SELECT 1 FROM v
        |      WHERE v.user_id = p.user_id
        |        AND p.purchase_ts >= v.view_ts
        |        AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR)
        |    AND p.purchase_ts < (SELECT w FROM wm))
        |SELECT * FROM (SELECT * FROM matched
        |  UNION ALL SELECT * FROM unmatched_v
        |  UNION ALL SELECT * FROM unmatched_p)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
        |  4 NULLS FIRST, 5 NULLS FIRST""".stripMargin,
    // q184: q173's restatement MINUS the unmatched-view tail — right_outer
    // must emit exactly the matched pairs plus the right-side sweep.
    "q184_stream_right_outer_join" ->
      """WITH v AS (
        |  SELECT user_id, ts AS view_ts, event_id AS view_event
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, ts AS purchase_ts, event_id AS purchase_event, value
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least(
        |    (SELECT date_trunc('milliseconds', max(view_ts)) FROM v),
        |    (SELECT date_trunc('milliseconds', max(purchase_ts)) FROM p))
        |    - INTERVAL 30 MINUTE AS w),
        |matched AS (
        |  SELECT v.user_id, v.view_ts, v.view_event,
        |    p.purchase_ts, p.purchase_event, p.value
        |  FROM v JOIN p ON v.user_id = p.user_id
        |    AND p.purchase_ts >= v.view_ts
        |    AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR),
        |unmatched_p AS (
        |  SELECT p.user_id,
        |    CAST(NULL AS TIMESTAMP_NS) AS view_ts,
        |    CAST(NULL AS BIGINT) AS view_event,
        |    p.purchase_ts, p.purchase_event, p.value
        |  FROM p
        |  WHERE NOT EXISTS (
        |      SELECT 1 FROM v
        |      WHERE v.user_id = p.user_id
        |        AND p.purchase_ts >= v.view_ts
        |        AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR)
        |    AND p.purchase_ts < (SELECT w FROM wm))
        |SELECT * FROM (SELECT * FROM matched
        |  UNION ALL SELECT * FROM unmatched_p)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
        |  4 NULLS FIRST, 5 NULLS FIRST""".stripMargin,
    // q151: batch gap-islands over MS-FLOORED event times (the engine's
    // state math runs on Timestamp.getTime milliseconds; epoch_ns//1e6 is
    // the same floor), emitted = every session except each user's last
    // (gap-closed) plus last sessions whose `last + gap` the final
    // watermark passed STRICTLY (the hasTimedOut inequality). sum_value
    // rides per-row DECIMAL(18,2) rounding then exact decimal addition —
    // the identical arithmetic the state's cents accumulator performs
    // (q142's policy), so the FULL row hashes.
    "q151_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000 AS ms,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |m AS (
        |  SELECT user_id, ms, v,
        |    CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
        |           > 1800000 THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |g AS (
        |  SELECT user_id, ms, v,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ms
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (
        |  SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS last_ms,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(v) AS DOUBLE) AS sum_value
        |  FROM g GROUP BY 1, 2),
        |wm AS (SELECT max(epoch_ns(ts) // 1000000) - 1800000 AS w FROM events),
        |last_s AS (SELECT user_id, max(sid) AS mx FROM sess GROUP BY 1)
        |SELECT s.user_id, s.start_ms, s.last_ms, s.n_events, s.sum_value
        |FROM sess s JOIN last_s l ON s.user_id = l.user_id
        |WHERE s.sid < l.mx OR s.last_ms + 1800000 < (SELECT w FROM wm)
        |ORDER BY 1, 2""".stripMargin,
    // q152: depth-capped recursive CTE — UNION dedups (node, d) pairs and
    // d < 20 bounds the row space, so the recursion is finite on cycles;
    // min(d) per node IS the BFS hop distance.
    "q152_graph_bfs" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, ts, event_id,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
        |  FROM events),
        |tr AS (
        |  SELECT node AS src,
        |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM ev WHERE node IS NOT NULL),
        |e AS (SELECT DISTINCT src, dst FROM tr WHERE dst IS NOT NULL),
        |nd AS (SELECT DISTINCT node FROM
        |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |walk AS (
        |  SELECT node, 0 AS d FROM nd WHERE node % 7 = 0
        |  UNION
        |  SELECT e.dst AS node, w.d + 1 AS d
        |  FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.d < 20)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    // q154: q152's recursion keyed per landmark root; min hop per (root,
    // node); harmonic = sorted-root fold of exact 1/d divisions (the q140
    // deterministic-fold mirror), unreachable pairs contributing nothing.
    "q154_harmonic_centrality" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, ts, event_id,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
        |  FROM events),
        |tr AS (
        |  SELECT node AS src,
        |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM ev WHERE node IS NOT NULL),
        |e AS (SELECT DISTINCT src, dst FROM tr WHERE dst IS NOT NULL),
        |nd AS (SELECT DISTINCT node FROM
        |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |walk AS (
        |  SELECT node AS root, node, 0 AS d FROM nd WHERE node % 7 = 0
        |  UNION
        |  SELECT w.root, e.dst AS node, w.d + 1 AS d
        |  FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.d < 20),
        |md AS (SELECT root, node, min(d) AS d FROM walk GROUP BY 1, 2)
        |SELECT node,
        |  round(list_reduce(
        |    list(CAST(1.0 AS DOUBLE) / CAST(d AS DOUBLE) ORDER BY root),
        |    (a, b) -> a + b), 12) AS harmonic
        |FROM md WHERE d > 0 GROUP BY node ORDER BY node""".stripMargin,
    // q155: the identical degree-ordered orientation relationally — DuckDB
    // row-value comparisons (d, node) mirror Spark's struct order; EXISTS
    // is the closing-edge semi-probe. All integers.
    "q155_triangle_counts" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
        |  FROM events),
        |tr AS (
        |  SELECT node AS src,
        |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM ev WHERE node IS NOT NULL),
        |e0 AS (SELECT DISTINCT src, dst FROM tr WHERE dst IS NOT NULL),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e0 WHERE src <> dst),
        |deg AS (
        |  SELECT node, count(*) AS d FROM
        |    (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |o AS (
        |  SELECT
        |    CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.u ELSE und.v END AS a,
        |    CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.v ELSE und.u END AS b,
        |    CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN dv.d ELSE du.d END AS db
        |  FROM und
        |  JOIN deg du ON du.node = und.u
        |  JOIN deg dv ON dv.node = und.v),
        |tri AS (
        |  SELECT o1.a, o1.b, o2.b AS c
        |  FROM o o1 JOIN o o2 ON o1.a = o2.a
        |  WHERE (o1.db, o1.b) < (o2.db, o2.b)
        |    AND EXISTS (SELECT 1 FROM o o3 WHERE o3.a = o1.b AND o3.b = o2.b)),
        |x AS (SELECT a AS node FROM tri
        |      UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    // q175: q155's orientation SQL over the top-3 affinity base graph,
    // extended with the degree join — clustering = ONE division of exact
    // integers (2t / d(d-1)), the same correctly-rounded IEEE double in
    // both engines, so no rounding.
    "q175_clustering_coeff" ->
      (s"WITH $affinityEdgesCte,\n" +
      """deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM
        |    (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |o AS (
        |  SELECT
        |    CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.u ELSE und.v END AS a,
        |    CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.v ELSE und.u END AS b,
        |    CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN dv.d ELSE du.d END AS db
        |  FROM und
        |  JOIN deg du ON du.node = und.u
        |  JOIN deg dv ON dv.node = und.v),
        |tri AS (
        |  SELECT o1.a, o1.b, o2.b AS c
        |  FROM o o1 JOIN o o2 ON o1.a = o2.a
        |  WHERE (o1.db, o1.b) < (o2.db, o2.b)
        |    AND EXISTS (SELECT 1 FROM o o3 WHERE o3.a = o1.b AND o3.b = o2.b)),
        |x AS (SELECT a AS node FROM tri
        |      UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |       FROM x GROUP BY 1)
        |SELECT deg.node, deg.d AS deg,
        |  coalesce(tc.n_triangles, 0) AS n_triangles,
        |  CAST(2 * coalesce(tc.n_triangles, 0) AS DOUBLE)
        |    / CAST(deg.d * (deg.d - 1) AS DOUBLE) AS clustering
        |FROM deg LEFT JOIN tc ON tc.node = deg.node
        |WHERE deg.d >= 2 ORDER BY deg.node""".stripMargin),
    // q141: FULL OUTER JOIN with null-safe value comparison (IS DISTINCT
    // FROM = Spark's <=> negated); totals through DECIMAL — exact on both
    // engines; unchanged keys filtered out on both sides.
    "q141_snapshot_diff" ->
      """WITH o0 AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-16'
        |  GROUP BY 1),
        |o AS (SELECT * FROM o0 UNION ALL SELECT * FROM (VALUES
        |    (CAST(99901 AS BIGINT), CAST(5 AS BIGINT), CAST(10.0 AS DOUBLE)),
        |    (99903, 2, CAST(4.0 AS DOUBLE))) v(user_id, n_events, total_value)),
        |n0 AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-16' AND ts < TIMESTAMP '2024-01-31'
        |  GROUP BY 1),
        |n AS (SELECT * FROM n0 UNION ALL SELECT * FROM (VALUES
        |    (CAST(99902 AS BIGINT), CAST(3 AS BIGINT), CAST(6.0 AS DOUBLE)),
        |    (99903, 2, CAST(4.0 AS DOUBLE))) v(user_id, n_events, total_value)),
        |j AS (
        |  SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |    o.user_id IS NOT NULL AS in_old, n.user_id IS NOT NULL AS in_new,
        |    o.n_events AS old_n_events, n.n_events AS new_n_events,
        |    o.total_value AS old_total_value, n.total_value AS new_total_value
        |  FROM o FULL OUTER JOIN n ON o.user_id = n.user_id)
        |SELECT user_id,
        |  CASE WHEN NOT in_old THEN 'added'
        |       WHEN NOT in_new THEN 'removed'
        |       WHEN old_n_events IS DISTINCT FROM new_n_events
        |         OR old_total_value IS DISTINCT FROM new_total_value
        |         THEN 'changed' END AS change,
        |  old_n_events, new_n_events, old_total_value, new_total_value
        |FROM j
        |WHERE NOT in_old OR NOT in_new
        |  OR old_n_events IS DISTINCT FROM new_n_events
        |  OR old_total_value IS DISTINCT FROM new_total_value
        |ORDER BY user_id""".stripMargin,
    // q142: the append-mode accumulated sink IS "every window the final
    // watermark finalized": window_end <= max(ts) - 30 min (eviction is <=,
    // pinned by the boundary spec). Spark floors watermark timestamps to ms
    // while this states ns arithmetic — unobservable against whole-hour
    // window ends (a sub-ms shift cannot cross an hour boundary). Counts
    // are exact longs; the sum rides DECIMAL(18,2), order-independent on
    // both engines.
    "q142_stream_windowed_append" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |agg AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(ws AS TIMESTAMP) AS window_start, event_type, n_events,
        |  sum_value
        |FROM agg, mx
        |WHERE ws + INTERVAL 1 HOUR <= mx.m - INTERVAL 30 MINUTE
        |ORDER BY window_start, event_type""".stripMargin,
    // q143: the E-S key restated verbatim — the 52-bit md5 integer via the
    // q50 nibble-parse pattern (exact on both engines), u = (h + 0.5)/2^52
    // exact double arithmetic, one libm ln rounded 6dp, rank on
    // (score, doc_id). DuckDB sum(BIGINT) widens to HUGEINT; the cast back
    // to DOUBLE is exact below 2^52.
    "q143_weighted_sample" ->
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
        |ORDER BY source, rank""".stripMargin,
    // q144: the planted-structure closed form (the q125/q25 pattern) —
    // video ids are i%3=2 over range(600), corrupt ids (i%97=13) emit
    // nothing, frame count f = 2 + i%4 from the generator arithmetic;
    // re-encode pairs share all f hashes (jaccard f/f = 1.0 exactly), trim
    // pairs share f-1 of f — the identical integer division on both
    // engines, no rounding needed.
    "q144_video_neardup" ->
      """WITH v AS (
        |  SELECT i AS id, 2 + (i % 4) AS f
        |  FROM range(600) t(i)
        |  WHERE i % 3 = 2 AND i % 97 <> 13),
        |p AS (
        |  SELECT id AS id_a, id + 100000 AS id_b, f AS n_shared,
        |    CAST(f AS DOUBLE) / CAST(f AS DOUBLE) AS jaccard FROM v
        |  UNION ALL
        |  SELECT id, id + 200000, f - 1,
        |    CAST(f - 1 AS DOUBLE) / CAST(f AS DOUBLE) FROM v
        |  UNION ALL
        |  SELECT id + 100000, id + 200000, f - 1,
        |    CAST(f - 1 AS DOUBLE) / CAST(f AS DOUBLE) FROM v)
        |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |  CAST(n_shared AS BIGINT) AS n_shared, jaccard
        |FROM p ORDER BY id_a, id_b""".stripMargin,
    // q145: the q144 closed form for audio — audio ids are i%3=1, mono ones
    // even, corrupt (i%97=13) excluded; each mono clip pairs with its
    // stereo re-layout at Hamming 0 (the envelope hash is exactly
    // layout-invariant), and the frozen generator yields no other pair
    // within distance 0 (spec-pinned distinctness).
    "q145_audio_neardup" ->
      """SELECT CAST(i AS BIGINT) AS id_a,
        |  CAST(i + 100000 AS BIGINT) AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM range(600) t(i)
        |WHERE i % 3 = 1 AND i % 2 = 0 AND i % 97 <> 13
        |ORDER BY id_a, id_b""".stripMargin)

  private lazy val imagePhashPairsOracle: String =
    """SELECT CAST(i AS BIGINT) AS id_a,
      |  CAST(i + 100000 AS BIGINT) AS id_b,
      |  CAST(0 AS BIGINT) AS hamming
      |FROM range(600) t(i)
      |WHERE i % 3 = 0 AND i % 97 <> 13
      |ORDER BY 1, 2""".stripMargin

  private lazy val heavyGramsOracle: String =
    """WITH sp AS (
      |  SELECT regexp_split_to_array(lower(trim(coalesce(text,''))),
      |           '[ \t\n\f\r]+') AS a
      |  FROM documents),
      |g AS (
      |  SELECT array_to_string(a[i:i+2], ' ') AS gram
      |  FROM sp, unnest(range(1, len(a)-1)) AS t(i))
      |SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM g WHERE gram <> ''
      |GROUP BY 1 HAVING count(*) >= 5
      |ORDER BY 1""".stripMargin

  /** Headline subset for the bench (all families, no redundant variants).
    * Every entry is a production-path plan: the exact ANN/pair queries are
    * the block-partitioned kernels (no driver collect, no BNLJ), and the
    * LSH-gated pair scan is benched alongside them as the extreme-scale
    * variant. */
  val bench: Seq[String] = Seq(
    "q01_agg_pricing", "q02_join_agg_nation", "q04_unpivot_dense",
    "q06_dup_numbering", "q07_asof_join", "q08_window_topk",
    "q09_trailing_streak", "q10_sessionize", "q14_lookback_rate",
    "q16_text_stats", "q20_minhash_pairs", "q21_ann_brute", "q22_ann_lsh",
    "q26_ngram_jaccard", "q27_embedding_neardup", "q28_ann_ivf",
    "q46_neardup_exact",
    "q32_rollup_agg", "q35_approx_percentiles", "q36_neardup_lsh",
    "q38_range_join", "q41_curation", "q45_dedup_corpus",
    "q50_simhash_neardup", "q52_decontaminate", "q53_repetition",
    "q55_sequence_pack", "q60_corpus_stats", "q63_token_budget",
    "q64_line_boilerplate", "q65_shuffle_rank", "q66_neardup_incremental",
    "q67_vocab_coverage", "q70_source_quality", "q72_span_scrub",
    "q73_c4_filter", "q74_unigram_lm", "q75_doc_chunk", "q77_quality_cutoff",
    "q78_bpe_pairs", "q81_perplexity_buckets", "q82_normalize_text",
    "q83_dsir_weights", "q84_shard_assign", "q85_tfidf_keywords",
    "q86_hashed_embedding", "q87_event_funnel", "q88_retention_cohorts",
    "q89_rolling_activity", "q90_event_pivot", "q91_ann_pq",
    "q93_mixture_weights", "q94_token_entropy", "q95_gap_fill",
    "q96_last_touch", "q97_event_transitions", "q98_inverted_index",
    "q99_funnel_cohort", "q100_value_outliers", "q101_shipping_priority",
    "q102_local_supplier_volume", "q103_daily_uniques", "q104_trade_volume",
    "q106_market_share", "q107_large_orders", "q108_late_order_priorities",
    "q109_ship_delay_mix", "q110_promo_revenue", "q111_order_count_histogram",
    "q112_returned_items", "q113_decontaminate_bloom",
    "q114_small_qty_revenue", "q115_bracket_revenue", "q116_dormant_customers",
    "q117_heavy_grams", "q118_heavy_grams_sketched",
    "q119_weekly_uniques_sketched", "q122_event_type_history",
    "q123_audience_overlap", "q124_returning_users", "q125_image_phash_dedup",
    "q126_image_dup_groups", "q127_hamming_join_rewrite",
    "q128_forecast_revenue", "q129_top_supplier", "q130_product_profit",
    "q131_waiting_suppliers", "q132_cheapest_supplier", "q133_supplier_mix",
    "q134_dominant_suppliers", "q135_important_stock", "q136_ann_index_exact",
    "q137_editdist_join", "q138_interpolate", "q139_bm25_search",
    "q140_pagerank", "q141_snapshot_diff", "q143_weighted_sample",
    "q144_video_neardup", "q145_audio_neardup", "q146_pagerank_prod",
    "q152_graph_bfs", "q153_neardup_prefix", "q154_harmonic_centrality",
    "q155_triangle_counts", "q156_pagerank_personalized", "q157_sales_cube",
    "q158_median_revenue", "q159_ann_dot", "q160_ann_l2",
    "q161_quality_classifier", "q162_bucketed_join", "q163_hybrid_rerank",
    "q165_salted_event_types", "q166_zorder_scan", "q168_dedup_keep_best",
    "q169_mixture_resample", "q170_table_profile", "q171_corpus_card",
    "q172_graph_sssp", "q175_clustering_coeff", "q176_kcore",
    "q177_rrf_fusion", "q178_retrieval_metrics", "q179_curriculum_order",
    "q180_grouping_sets", "q181_mmr_rerank", "q182_lpa_communities",
    "q183_table_digest", "q185_cusum_revenue", "q186_dedup_incremental_cc",
    "q187_matryoshka_eval", "q188_scc", "q189_link_prediction",
    "q190_kmv_distinct", "q191_compaction_lifecycle", "q192_ewma_anomaly",
    "q193_corpus_drift", "q194_temporal_reach", "q195_truss",
    "q196_kmv_sliding", "q197_fd_profile", "q199_pagerank_incremental",
    "q200_kmv_xxhash", "q201_betweenness", "q202_kcore_incremental",
    "q203_truss_incremental", "q204_scc_incremental", "q205_modularity",
    "q206_assortativity", "q207_acf_revenue", "q209_coreness",
    "q210_kmv_jaccard", "q211_diameter", "q212_katz", "q213_louvain",
    "q217_coreness_incremental", "q218_seasonal_naive",
    "q219_kcore_churn", "q220_louvain_refine", "q221_truss_churn",
    "q222_scc_churn", "q224_semantic_decon", "q225_louvain_two_level",
    "q226_louvain_incremental")
  // (q214 joins q80/q148/q174 outside the bench list: a recall REPORT
  // re-runs the exact betweenness kernel the bench already times via
  // q201 — a report row would double-count it)
  // (q142/q147/q149/q150/q151/q167/q173/q184/q198/q208/q215/q216 join q105/q121 outside the bench list: a registered streaming
  // query prices the micro-batch HARNESS — checkpoint dirs, per-trigger
  // planning, the no-data finalization batch — not engine throughput; their
  // correctness surface is the CORRECTNESS row. q147's engine-side kernels —
  // index build, cell-cogrouped serving — are already benched via q136)
  // (q120 joins the fixture-twin exclusions: 6 frozen rows measure JVM
  // overhead, not engine throughput)
  // (q92 fixture twin and q39/q47/q48/q49/q164 fixtures are correctness-only —
  // 16-row frames measure JVM overhead, not engine throughput)
  // (q148 joins q80 outside the list: recall REPORTS re-run kernels the
  // bench already times — q144/q145 price the perceptual kernels; a report
  // row would double-count them)
  // (q174 joins them: a staleness recall REPORT over a 768-row planted
  // fixture — build/upsert/compact/retrain kernels are benched via q136;
  // fixture-sized phases measure JVM overhead, not engine throughput)
}
