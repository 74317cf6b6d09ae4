package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable sketches: heavy hitters, HLL and KMV distinct counts,
  * sketch unions and Jaccard estimates, with their exact twins. */
object SketchQueries extends QueryFamily {
  import Shared._

  /** The exact distinct users per day and over the whole range (`ex`), the
    * truth q190 and q200 compare their sketches against. */
  private val exactDistinctSql: String =
    """ex AS (
      |  SELECT 'day' AS grain, key,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      |  FROM e GROUP BY 2
      |  UNION ALL
      |  SELECT 'range', CAST(-1 AS BIGINT),
      |    CAST(count(DISTINCT user_id) AS BIGINT)
      |  FROM e)""".stripMargin

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

  /** Heavy trigrams, exact ([[graft.operators.HeavyHitters.frequentGrams]]):
    * every complete word trigram the corpus repeats ≥ 5 times, with exact
    * counts — the frequent-phrase mining rollup. One gram-rollup shuffle +
    * the presentation sort. */
  def heavyGrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters.frequentGrams(
      T(s, dir, "documents"), "text", n = 3, minCount = 5L)
  // q117/q118: exact heavy trigrams; the CMS-prescreened q118 is
  // provably output-invariant (CMS never underestimates; overestimates
  // die in the exact recount) so BOTH run against the ONE exact oracle —
  // the q52/q113 shared-oracle exactness statement again. The gram mirror
  // is the zipped-slice shingler as DuckDB 1-based list slices; strict
  // (complete) trigrams only, so len<3 texts contribute nothing on both
  // engines.
  query("q117_heavy_grams", heavyGrams, bench = true, oracle = OracleSql(heavyGramsOracle))

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
  query("q118_heavy_grams_sketched", heavyGramsSketched, bench = true,
    oracle = OracleSql(heavyGramsOracle))

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
  query("q119_weekly_uniques_sketched", weeklyUniquesSketched, bench = true,
    oracle = NoOracle("HLL estimates (~1.6% RSE) have no cross-engine oracle; q120 pins the " +
      "sketch on a fixture"))

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
  // q120: the coupon-regime HLL fixture — estimates ARE exact counts at
  // this cardinality, so plain COUNT(DISTINCT) over the same VALUES is the
  // oracle. q119 (real events, estimation regime) stays rows-only by
  // design, like the other approximate kernels.
  query("q120_hll_fixture", hllFixture, bench = false, oracle = OracleSql(
    {
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
    }))

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
  /** The q190/q200 grains: the per-day sketches `sk` plus their merged
    * `range` sketch (key -1), and the exact distinct users of `ev` per
    * grain. */
  private def kmvGrains(ev: DataFrame, sk: DataFrame): (DataFrame, DataFrame) = {
    val withAll = sk.select(lit("day").as("grain"), col("key"), col("kmv"))
      .unionByName(graft.operators.Kmv.mergeAll(sk, KmvK)
        .select(lit("range").as("grain"), lit(-1L).as("key"), col("kmv")))
    val exact = ev.groupBy("key")
      .agg(countDistinct("user_id").as("exact_distinct"))
      .select(lit("day").as("grain"), col("key"), col("exact_distinct"))
      .unionByName(ev.agg(countDistinct("user_id").as("exact_distinct"))
        .select(lit("range").as("grain"), lit(-1L).as("key"),
          col("exact_distinct")))
    (withAll, exact)
  }

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
    val ev = userDays(s, dir)
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
  // q210: the q190 LCG sketch arithmetic, then the Beyer §5 estimator
  // replayed relationally — M = bottom-64 of the sketch union per
  // consecutive-day pair, estimate = |M ∩ A ∩ B| / |M|; the exact
  // Jaccard twin from the same distinct frame. Both divisions are
  // single IEEE ops on exact integers.
  query("q210_kmv_jaccard", kmvJaccardDays, bench = true, oracle = OracleSql(
    s"""WITH e AS (
      |$kmvDayHashesSql
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
      |ORDER BY pr.day_a""".stripMargin))

  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = userDays(s, dir)
    val sk = graft.operators.Kmv.sketch(ev, Seq("key"), "user_id", KmvK)
    val (withAll, exact) = kmvGrains(ev, sk)
    withAll.select(col("grain"), col("key"),
        size(col("kmv")).cast("long").as("n_kept"),
        when(size(col("kmv")) >= KmvK, element_at(col("kmv"), KmvK))
          .as("kth_min"),
        graft.operators.Kmv.estimate(col("kmv"), KmvK).as("est_distinct"))
      .join(exact, Seq("grain", "key"))
      .orderBy("grain", "key")
  }
  // q190: the identical KMV arithmetic — the 31-bit LCG on the
  // non-negative residue (((x % M) + M) % M mirrors Spark's pmod), the
  // per-day bottom-64 DISTINCT hash set, the merged range sketch, and
  // the (k-1)·M / h_k estimate as one division of exact integers
  // (63 · 2³¹ = 135291469824, integer-valued, cast to DOUBLE exactly).
  query("q190_kmv_distinct", kmvDistinct, bench = true, oracle = OracleSql(
    s"""WITH e AS (
      |$kmvDayHashesSql
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
      |$exactDistinctSql
      |SELECT g.grain, g.key, g.n_kept, g.kth_min,
      |  CASE WHEN g.n_kept < 64 THEN CAST(g.n_kept AS DOUBLE)
      |       ELSE CAST(135291469824 AS DOUBLE) / CAST(g.kth_min AS DOUBLE)
      |  END AS est_distinct,
      |  ex.exact_distinct
      |FROM g JOIN ex ON ex.grain = g.grain AND ex.key = g.key
      |ORDER BY 1, 2""".stripMargin))

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
    val ev = userDays(s, dir)
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
  // q196: the identical sliding merge — per-day bottom-64 sketches, each
  // contributing to its 7 windows via a generated offset series, distinct
  // union per window, bottom-64 again, the same estimator arithmetic;
  // full windows only (n_periods = 7).
  query("q196_kmv_sliding", kmvSlidingDistinct, bench = true, oracle = OracleSql(
    s"""WITH e AS (
      |$kmvDayHashesSql
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
      |ORDER BY 1""".stripMargin))

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
    val ev = userDays(s, dir)
    val sk = graft.operators.Kmv.sketch(ev, Seq("key"), "user_id", KmvK,
      graft.operators.Kmv.hashXx)
    val (withAll, exact) = kmvGrains(ev, sk)
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
  // q200: the production mixer is engine-specific, so the oracle pins
  // the exact columns (n_kept = min(exact, 64) — zero 62-bit collisions,
  // a deterministic property of the fixed data) and expects every
  // band_ok TRUE; a broken estimator or colliding mixer turns a value
  // FALSE and the hash compare goes red.
  query("q200_kmv_xxhash", kmvXxDistinct, bench = true, oracle = OracleSql(
    s"""WITH e AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |    AS BIGINT) AS key, user_id FROM events),
      |$exactDistinctSql
      |SELECT grain, key,
      |  CAST(least(exact_distinct, 64) AS BIGINT) AS n_kept,
      |  exact_distinct, TRUE AS band_ok
      |FROM ex ORDER BY 1, 2""".stripMargin))

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
  // q123: exact-mode theta sketches ⇒ counts are true counts, so the
  // self-join COUNT(DISTINCT) form is the oracle. The pair grid comes
  // from the per-segment rollup (zero-overlap pairs kept via LEFT JOIN);
  // jaccard is one IEEE division of exact longs on both engines.
  query("q123_audience_overlap", audienceOverlap, bench = true, oracle = OracleSql(
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
      |ORDER BY seg_a, seg_b""".stripMargin))

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
  // q124: exact-mode sketches again — day-pair COUNT(DISTINCT) arithmetic
  // is the oracle; return_rate is one IEEE division of exact longs.
  query("q124_returning_users", returningUsersSketched, bench = true, oracle = OracleSql(
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
      |ORDER BY c.day""".stripMargin))
}
