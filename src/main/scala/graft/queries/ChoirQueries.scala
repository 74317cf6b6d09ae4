package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Exprs
import graft.operators.{AsOfJoin, OrderedAnalytics}

/** The paper's choir-ETL operators: unpivots, duplicate numbering, as-of
  * joins, streaks and the scalar parse rules over the bench tables, plus
  * the alert analytics and marts on the golden fixture. */
object ChoirQueries extends QueryFamily {
  import Shared._

  /** R2 dense unpivot: every (row, measure) yields a row, nulls kept. */
  def unpivotDense(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .orderBy("l_orderkey", "l_linenumber", "measure")
  query("q04_unpivot_dense", unpivotDense, bench = true, oracle = OracleSql(
    """SELECT * FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
      |) ORDER BY l_orderkey, l_linenumber, measure""".stripMargin))

  /** R3 sparse unpivot: melt then drop "empty" (non-positive) cells. */
  def unpivotSparse(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_discount"), col("l_tax")),
        "measure", "value")
      .filter(col("value") > 0)
      .orderBy("l_orderkey", "l_linenumber", "measure")
  query("q05_unpivot_sparse", unpivotSparse, bench = false, oracle = OracleSql(
    """SELECT * FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS value FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
      |) WHERE value > 0 ORDER BY l_orderkey, l_linenumber, measure""".stripMargin))

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
  query("q06_dup_numbering", dupNumbering, bench = true, oracle = OracleSql(
    """SELECT p_partkey, p_name,
      |  CASE WHEN rn = 1 THEN p_name ELSE p_name || ' (' || rn || ')' END AS uniq_name
      |FROM (SELECT p_partkey, p_name,
      |        row_number() OVER (PARTITION BY p_name ORDER BY p_partkey) AS rn
      |      FROM part)
      |ORDER BY p_partkey""".stripMargin))

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
  query("q07_asof_join", asofJoin, bench = true, oracle = OracleSql(
    """SELECT l.event_id, l.user_id, r.value AS click_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin))

  /** W1 trailing streak: consecutive non-purchase events per user (newest
    * first), streak-0 users included. */
  def trailingStreak(s: SparkSession, dir: String): DataFrame =
    OrderedAnalytics.trailingStreak(
      T(s, dir, "events"), Seq("user_id"), "event_id",
      col("event_type") === "purchase")
      .orderBy("user_id")
  query("q09_trailing_streak", trailingStreak, bench = true, oracle = OracleSql(
    """WITH m AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN event_id END) AS lb
      |  FROM events GROUP BY user_id)
      |SELECT e.user_id,
      |  count(CASE WHEN m.lb IS NULL OR e.event_id > m.lb THEN 1 END) AS streak
      |FROM events e JOIN m USING (user_id)
      |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin))

  /** Gap-based sessionization (1h gap), session sizes per user. */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    OrderedAnalytics.sessionize(
      T(s, dir, "events"), Seq("user_id"), "ts_ns", "ts_ns",
      gapMillis = 3600L * 1000000000L) // ns in, ns gap
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")

  query("q10_sessionize", sessionize, bench = true, oracle = OracleSql(
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
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

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
  query("q11_date_normalize", dateNormalize, bench = false, oracle = OracleSql(
    """SELECT l_orderkey, l_linenumber,
      |  strftime(l_shipdate, '%Y-%m-%d') AS iso_dmy,
      |  strftime(l_shipdate, '%Y-%m-%d') AS iso_serial
      |FROM lineitem ORDER BY 1, 2""".stripMargin))

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
  query("q12_parse_lenient", parseLenient, bench = false, oracle = OracleSql(
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_linenumber = 1 THEN NULL ELSE l_quantity END AS qty
      |FROM lineitem ORDER BY 1, 2""".stripMargin))

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
  query("q13_flag_norm", flagNorm, bench = false, oracle = OracleSql(
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_returnflag IN ('R', 'A') THEN 1 ELSE 0 END AS flag
      |FROM lineitem ORDER BY 1, 2""".stripMargin))

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
  query("q14_lookback_rate", lookbackRate, bench = true, oracle = OracleSql(
    """WITH mx AS (SELECT max(ts) AS mt FROM events)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS purchase_rate
      |FROM events, mx WHERE ts >= mt - INTERVAL 21 DAY
      |GROUP BY user_id ORDER BY user_id""".stripMargin))

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
  // The alert fixture is embedded with literal dates, so the oracle is the
  // hand-computed expected output (an oracle may state the answer directly):
  // c1 streak 4 (2 unavailable rows excluded), c2 attended last (excluded),
  // c3 inactive (excluded), c4 streak 4 with mid-window attendance,
  // c5 streak exactly 3. Rate: 2 attended of 20 available.
  query("q23_alert_streaks", alertStreaks, bench = false, oracle = OracleSql(
    """SELECT * FROM (VALUES
      |  ('c1', 'Иван', 'Bass', '', CAST(NULL AS VARCHAR), CAST(4 AS BIGINT),
      |   '2025-02-10,2025-02-03,2025-01-27,2025-01-20'),
      |  ('c4', 'Ольга', 'Soprano', '@olga', '2025-01-13', CAST(4 AS BIGINT),
      |   '2025-02-10,2025-02-03,2025-01-27,2025-01-20'),
      |  ('c5', 'Майкл', 'Bass', '', CAST(NULL AS VARCHAR), CAST(3 AS BIGINT),
      |   '2025-02-10,2025-02-03,2025-01-27')
      |) t(chorister_id, full_name, voice_part, tgid, last_attended_date, streak_len, missed_dates)
      |ORDER BY chorister_id""".stripMargin))

  /** A4+A5 attendance rate over the fixture. */
  def alertRate(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Alerts.attendanceRateFrame(alertFixture(s), 12)

  query("q24_alert_rate", alertRate, bench = false, oracle = OracleSql(
    """SELECT CAST(20 AS BIGINT) AS n_available, CAST(2 AS BIGINT) AS n_attended,
      |       CAST(2 AS DOUBLE) / 20 AS rate""".stripMargin))

  /** The curated tables of [[Main.CuratedTables]] over the golden fixture. */
  private def choirTables(s: SparkSession): Map[String, DataFrame] = {
    val raw = graft.etl.ChoirFixture.raw(s)
    Main.CuratedTables.map { case (name, build) => name -> build(raw, current_timestamp()) }.toMap
  }

  /** The full mart_attendance pipeline (R1/R2/P7/P8/D1/D4/J1/J3/X1/P11) on
    * the golden fixture; oracle = the hand-computed expected rows. */
  def choirMartAttendance(s: SparkSession, dir: String): DataFrame = {
    val t = choirTables(s)
    graft.etl.Marts.martAttendance(
      t("dim_chorister"), t("dim_chorister_assignment"), t("fact_attendance"))
      .orderBy("chorister_id", "rehearsal_date")
  }
  // Choir mart oracles: the golden fixture's hand-computed rows (same
  // values the E2E spec asserts), stated directly as VALUES.
  query("q29_choir_mart_attendance", choirMartAttendance, bench = false, oracle = OracleSql(
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
      |ORDER BY chorister_id, rehearsal_date""".stripMargin))

  /** mart_song_rehearsal (R3/D2/D5/J2/P12) on the golden fixture. */
  def choirMartSong(s: SparkSession, dir: String): DataFrame = {
    val t = choirTables(s)
    graft.etl.Marts.martSongRehearsal(t("dim_song"), t("fact_song_time"))
      .orderBy("rehearsal_date", "song_id")
  }
  query("q30_choir_mart_song", choirMartSong, bench = false, oracle = OracleSql(
    """SELECT * FROM (VALUES
      |  ('2024-06-16', 'Gloria', 'Gloria', CAST(30.0 AS DOUBLE), CAST(30.0 AS DOUBLE) / 60),
      |  ('2024-06-23', 'Ave Maria', 'Ave Maria', CAST(10.0 AS DOUBLE), CAST(10.0 AS DOUBLE) / 60),
      |  ('2024-06-30', 'Gloria', 'Gloria', CAST(45.0 AS DOUBLE), CAST(45.0 AS DOUBLE) / 60),
      |  ('2024-06-30', 'Gloria (2)', 'Gloria', CAST(25.0 AS DOUBLE), CAST(25.0 AS DOUBLE) / 60)
      |) t(rehearsal_date, song_id, song_name, minutes_spent, hours_spent)
      |ORDER BY rehearsal_date, song_id""".stripMargin))

  /** mart_chorister_song (J3/J4/J5) on the golden fixture. */
  def choirMartChoristerSong(s: SparkSession, dir: String): DataFrame = {
    val t = choirTables(s)
    graft.etl.Marts.martChoristerSong(
      t("dim_chorister"), t("dim_chorister_assignment"), t("dim_song"),
      t("fact_attendance"), t("fact_song_time"))
      .orderBy("rehearsal_date", "chorister_id", "song_id")
  }

  query("q31_choir_mart_chorister_song", choirMartChoristerSong, bench = false, oracle = OracleSql(
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
      |ORDER BY rehearsal_date, chorister_id, song_id""".stripMargin))
}
