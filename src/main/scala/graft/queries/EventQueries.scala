package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Loops, OrderedAnalytics}

/** Event analytics and time series over `events` and the order tables:
  * funnels, cohorts, rolling windows, transitions, gap filling, outliers
  * and forecasts. */
object EventQueries extends QueryFamily {
  import Shared._

  /** The q87/q99 funnel steps from inside the `s1` CTE: each user's first
    * signup (`s1`), their first click after it (`s2`) and first purchase
    * after that (`s3`), as epoch nanoseconds. */
  private val funnelStepsSql: String =
    """|  SELECT user_id, min(epoch_ns(ts)) AS t1
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
      |  GROUP BY 1)""".stripMargin

  /** [[dailyCents]] in DuckDB: the oracles' `d` CTE after its `d AS (`. */
  private val dailyCentsSql: String =
    """|  SELECT CAST(year(ts) AS INT) AS yr,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),""".stripMargin

  /** Daily event revenue in exact cents per (yr, day): the series q185,
    * q192, q207 and q218 watch. The day is an epoch-day LONG, the q38/q95
    * date-portability convention. */
  private def dailyCents(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(year(col("ts")).as("yr"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))

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
    val daily = dailyCents(s, dir)
    graft.operators.TimeSeries.cusumShift(daily, Seq("yr"), "day", "cents",
        alarmNum = 1, alarmDenom = 32)
      .orderBy("yr", "day")
  }
  // q185: the identical all-integer CUSUM — exact cents, n-scaled
  // deviations, the prefix-min identity, integer alarm compare.
  query("q185_cusum_revenue", cusumRevenue, bench = true, oracle = OracleSql(
    s"""WITH d AS (
      |$dailyCentsSql
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
      |FROM c ORDER BY yr, day""".stripMargin))

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
    val daily = dailyCents(s, dir)
    graft.operators.TimeSeries.ewmaDeviation(daily, Seq("yr"), "day", "cents",
        lags = 8, alarmNum = 1, alarmDenom = 4)
      .orderBy("yr", "day")
  }
  // q192: the identical all-integer EWMA arithmetic — exact cents (the
  // q185 base), power-of-two lag weights (D = 255), NULL under a partial
  // window, the 25% alarm as a pure integer compare, and `ewma` as the
  // one exact-integer IEEE division.
  query("q192_ewma_anomaly", ewmaAnomaly, bench = true, oracle = OracleSql(
    s"""WITH d AS (
      |$dailyCentsSql
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
      |FROM l ORDER BY yr, day""".stripMargin))

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
    val daily = dailyCents(s, dir)
    graft.operators.TimeSeries.seasonalDeviation(daily, Seq("yr"), "day",
        "cents", period = 7, alarmNum = 1, alarmDenom = 4)
      .orderBy("yr", "day")
  }
  // q218: the identical seasonal-naive integer arithmetic — exact cents
  // (the q185 base), the baseline via the SAME pinned RANGE frame
  // (exactly day−7, gap-exact), NULL under a missing baseline, the 25%
  // alarm as a pure integer compare.
  query("q218_seasonal_naive", seasonalNaiveRevenue, bench = true, oracle = OracleSql(
    s"""WITH d AS (
      |$dailyCentsSql
      |b AS (
      |  SELECT yr, day, cents,
      |    max(cents) OVER (PARTITION BY yr ORDER BY day
      |      RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS baseline
      |  FROM d)
      |SELECT yr, day, cents, baseline,
      |  CAST(cents - baseline AS BIGINT) AS dev,
      |  abs(cents - baseline) * 4 > 1 * baseline AS alarm
      |FROM b ORDER BY yr, day""".stripMargin))

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
  // q165: the oracle is the PLAIN distinct rollup — the salted two-phase
  // aggregation must be output-invariant (set content is order-free and
  // presented sorted).
  query("q165_salted_event_types", saltedEventTypes, bench = true, oracle = OracleSql(
    """SELECT user_id,
      |  array_to_string(list_sort(list(DISTINCT event_type)), ' ')
      |    AS event_types,
      |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

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
  // q87: per-step min-after-previous CTEs replay the greedy-earliest
  // match; epoch_ns mirrors Spark's ts_ns (the q10 precedent); strict >
  // on both engines (same-instant events never advance the funnel).
  query("q87_event_funnel", eventFunnel, bench = true, oracle = OracleSql(
    s"""WITH k AS (SELECT DISTINCT user_id FROM events),
      |s1 AS (
      |$funnelStepsSql
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
      |ORDER BY user_id""".stripMargin))

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
  // q88: DISTINCT (cohort, offset, user) mirrors the per-key distinct-day
  // set; epoch-day longs on both sides; the single division is IEEE-exact.
  query("q88_retention_cohorts", retentionCohorts, bench = true, oracle = OracleSql(
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
      |ORDER BY 1, 2""".stripMargin))

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
  // q89: identical inclusive RANGE frame on epoch ns; all three window
  // aggregates are order-independent, so frames hash bit-equal.
  query("q89_rolling_activity", rollingActivity, bench = true, oracle = OracleSql(
    """SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
      |  count(*) OVER w AS n_7d,
      |  count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER w
      |    AS purchases_7d,
      |  max(value) OVER w AS max_value_7d
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
      |  RANGE BETWEEN 604800000000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin))

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
  // q90: the declared-values pivot is a plain CASE rollup relationally.
  query("q90_event_pivot", eventTypePivot, bench = true, oracle = OracleSql(
    """SELECT
      |  CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
      |    AS day,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

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
  // q95: scaffold via unnest(range) per user, IGNORE NULLS running fill —
  // all integers, exact on both engines.
  query("q95_gap_fill", gapFillDaily, bench = true, oracle = OracleSql(
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
      |FROM j ORDER BY user_id, day""".stripMargin))

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
  // q96: DuckDB's native ASOF LEFT JOIN replays the inclusive
  // latest-at-or-before semantics; clicks pre-collapsed per instant so
  // both engines see unique ordinates.
  query("q96_last_touch", lastTouch, bench = true, oracle = OracleSql(
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
      |ORDER BY p.event_id""".stripMargin))

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
  query("q103_daily_uniques", dailyUniques, bench = true, oracle = OracleSql(
    """SELECT
      |  CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
      |    AS day,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

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
  // q138: q95's scaffold with the LERP stated verbatim; both engines
  // derive pv/nv from the same DECIMAL-exact means and the fraction from
  // small-int day arithmetic, so the IEEE chain is bit-identical.
  query("q138_interpolate", interpolateDaily, bench = true, oracle = OracleSql(
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
      |FROM w ORDER BY user_id, day""".stripMargin))

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
    val daily = dailyCents(s, dir)
    graft.operators.TimeSeries.autocorrelation(
        daily, Seq("yr"), "day", "cents", lag = 7)
      // the exact DECIMAL(38,0) terms ride as STRINGS for the gate:
      // DuckDB surfaces >18-digit decimals through float64 (lossy),
      // while both engines print the exact integer digits identically
      .withColumn("acf_num", col("acf_num").cast("string"))
      .withColumn("acf_den", col("acf_den").cast("string"))
      .orderBy("yr")
  }
  // q207: q185's exact daily-cents series, deviations in HUGEINT (the
  // DECIMAL(38,0) mirror), lag pairs by equi-join on day+7, the acf
  // division rounded to 9dp on both sides.
  query("q207_acf_revenue", acfRevenue, bench = true, oracle = OracleSql(
    s"""WITH d AS (
      |$dailyCentsSql
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
      |ORDER BY t.yr""".stripMargin))

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
  // q141: FULL OUTER JOIN with null-safe value comparison (IS DISTINCT
  // FROM = Spark's <=> negated); totals through DECIMAL — exact on both
  // engines; unchanged keys filtered out on both sides.
  query("q141_snapshot_diff", snapshotDiffQ, bench = true, oracle = OracleSql(
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
      |ORDER BY user_id""".stripMargin))

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
  // q122: gaps-and-islands on value change. IS DISTINCT FROM mirrors
  // Spark's null-safe !(a <=> b); the row_number()=1 arm mirrors the
  // first-row change flag (lag NULL + a NULL value would otherwise read
  // "no change"); epoch_ns is the q10 ns precedent; min(event_type) ==
  // Spark's first() because runs are constant by construction.
  query("q122_event_type_history", eventTypeHistory, bench = true, oracle = OracleSql(
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
      |FROM r ORDER BY user_id, run_id""".stripMargin))

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
  // q99: the q87 CTE chain rolled up by signup epoch-day; // is the same
  // positive integer division as Spark's div on the exact ns longs.
  query("q99_funnel_cohort", funnelByCohort, bench = true, oracle = OracleSql(
    s"""WITH s1 AS (
      |$funnelStepsSql
      |SELECT s1.t1 // 86400000000000 AS cohort_day,
      |  CAST(count(*) AS BIGINT) AS n_entered,
      |  CAST(count(s2.t2) AS BIGINT) AS n_step2,
      |  CAST(count(s3.t3) AS BIGINT) AS n_completed,
      |  CAST(count(s3.t3) AS DOUBLE) / count(*) AS conversion
      |FROM s1
      |LEFT JOIN s2 USING (user_id)
      |LEFT JOIN s3 USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin))

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
  // q100: median/MAD are order statistics (no sum-order hazard); the
  // interpolated midpoints round to 6dp (q33 precedent) and the flag
  // compares against the ROUNDED statistics on both engines.
  query("q100_value_outliers", valueOutliers, bench = true, oracle = OracleSql(
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
      |ORDER BY a.event_id""".stripMargin))

  /** First-order event-type transition matrix per user (the Markov-chain
    * view of the event stream — the behavioral fingerprint funnels and
    * sessions are special cases of): counts and exact-ratio probabilities
    * of each consecutive (from → to) pair. Counts are exact longs, p is
    * one IEEE division of two exact values. */
  def eventTransitions(s: SparkSession, dir: String): DataFrame =
    OrderedAnalytics.transitions(T(s, dir, "events"), "user_id", "ts_ns", "event_type", "event_id")
      .orderBy("from_type", "to_type")
  // q97: identical (ord, event_id) lead window; counts exact, p one
  // division of exact longs.
  query("q97_event_transitions", eventTransitions, bench = true, oracle = OracleSql(
    """WITH n AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts), event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM n WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
      |FROM c ORDER BY 1, 2""".stripMargin))
}
