package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.Exprs

/** Alert analytics over mart_attendance: current consecutive-miss streaks and
  * the attendance rate, with the exact semantics of the reference
  * (/root/reference/etl/alerts.py:40-174).
  *
  * Faithful points worth naming:
  *  - flags are normalized per the *runtime type* of the source column
  *    (alerts.py:15-28): numeric non-zero → 1, but the *string* "2" → 0; a
  *    DataFrame column has one static type, so [[flagOf]] dispatches on it at
  *    plan time;
  *  - only available rows count (available_flag=1, parseable date);
  *  - the lookback window is anchored at the max rehearsal date across the
  *    whole mart, start inclusive (alerts.py:66-71);
  *  - last_attended_date is computed over ALL available rows, not just the
  *    window (alerts.py:101-108);
  *  - is_active / name / voice part / tgid come from the newest in-window row
  *    (alerts.py:122-126,139-143);
  *  - the streak is the run of leading rows (newest first) until the first
  *    attended_flag=1 or missed_flag=0 row; missed_dates caps at 10.
  *
  * Shuffle shape: one exchange on chorister_id shared by the running-break
  * window and the per-chorister aggregation, plus a broadcast of the 1-row
  * max-date frame. No per-row windows over unique keys.
  */
object Alerts {

  /** Reference `_flag` (alerts.py:15-28), dispatched on the column's type. */
  def flagOf(df: DataFrame, name: String): Column = {
    val c = col(name)
    df.schema(name).dataType match {
      case BooleanType => when(c, 1).otherwise(0)
      case _: NumericType => Exprs.flagFromNumeric(c)
      case _ => Exprs.flagFromString(c)
    }
  }

  /** Reference `_normalize_available_rows` (alerts.py:40-59): available rows
    * with a parseable (non-empty after 10-char slice) rehearsal date, flags
    * normalized, strings trimmed.
    */
  def normalizeAvailable(mart: DataFrame): DataFrame = {
    def s(name: String): Column =
      coalesce(trim(col(name).cast("string")), lit(""))
    mart
      .filter(flagOf(mart, "available_flag") === 1)
      .select(
        Exprs.dateSlice(col("rehearsal_date")).as("rehearsal_date"),
        s("chorister_id").as("chorister_id"),
        s("full_name").as("full_name"),
        s("voice_part").as("voice_part"),
        s("tgid").as("tgid"),
        flagOf(mart, "missed_flag").as("missed_flag"),
        flagOf(mart, "attended_flag").as("attended_flag"),
        (flagOf(mart, "is_active") === 1).as("is_active"))
      .filter(col("rehearsal_date") =!= "")
  }

  /** Rows restricted to the lookback window: dates >= max(date) - 7*weeks
    * (inclusive). The 1-row max frame is broadcast — no shuffle of the fact
    * side, works identically on a 1000-executor cluster.
    */
  private def inWindow(available: DataFrame, lookbackWeeks: Int): DataFrame = {
    val mx = available.agg(max(col("rehearsal_date")).as("__max_date"))
    available
      .crossJoin(broadcast(mx))
      .filter(col("rehearsal_date") >=
        date_format(date_sub(to_date(col("__max_date")), 7 * lookbackWeeks), "yyyy-MM-dd"))
      .drop("__max_date")
  }

  /** Reference `compute_current_missed_streak` (alerts.py:77-151). Returns
    * (chorister_id, full_name, voice_part, tgid, last_attended_date,
    * streak_len, missed_dates) for active choristers with streak >= threshold.
    * full_name / voice_part fall back to "—"; last_attended_date is null when
    * the chorister never attended; missed_dates is newest-first, capped at 10.
    */
  def currentMissedStreaks(
      mart: DataFrame,
      lookbackWeeks: Int,
      streakThreshold: Int): DataFrame = {
    val available = normalizeAvailable(mart)

    val lastAttended = available
      .filter(col("attended_flag") === 1)
      .groupBy("chorister_id")
      .agg(max(col("rehearsal_date")).as("last_attended_date"))

    val w = Window.partitionBy("chorister_id").orderBy(col("rehearsal_date").desc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val breakCond = col("attended_flag") === 1 || col("missed_flag") === 0

    val streaks = inWindow(available, lookbackWeeks)
      .withColumn("__breaks", sum(when(breakCond, 1).otherwise(0)).over(wRun))
      .groupBy("chorister_id")
      .agg(
        max_by(
          struct(col("is_active"), col("full_name"), col("voice_part"), col("tgid")),
          col("rehearsal_date")).as("__latest"),
        count(when(col("__breaks") === 0, 1)).as("streak_len"),
        slice(sort_array(collect_list(when(col("__breaks") === 0, col("rehearsal_date"))),
          asc = false), 1, 10).as("missed_dates"))
      .filter(col("__latest.is_active") && col("streak_len") >= streakThreshold)

    streaks
      .join(lastAttended, Seq("chorister_id"), "left")
      .select(
        col("chorister_id"),
        when(col("__latest.full_name") === "", "—")
          .otherwise(col("__latest.full_name")).as("full_name"),
        when(col("__latest.voice_part") === "", "—")
          .otherwise(col("__latest.voice_part")).as("voice_part"),
        col("__latest.tgid").as("tgid"),
        col("last_attended_date"),
        col("streak_len"),
        col("missed_dates"))
      .orderBy("chorister_id")
  }

  /** Attendance rate as a 1-row frame (n_available, n_attended, rate) —
    * empty when there is no available data in the window. */
  def attendanceRateFrame(mart: DataFrame, lookbackWeeks: Int): DataFrame =
    inWindow(normalizeAvailable(mart), lookbackWeeks)
      .agg(
        count(lit(1)).as("n_available"),
        sum(col("attended_flag")).cast("long").as("n_attended"))
      .filter(col("n_available") > 0)
      .withColumn("rate", col("n_attended").cast("double") / col("n_available"))

  /** Reference `compute_attendance_rate` (alerts.py:154-174): attended /
    * available inside the window, or None when the window is empty.
    */
  def attendanceRate(mart: DataFrame, lookbackWeeks: Int): Option[Double] =
    attendanceRateFrame(mart, lookbackWeeks)
      .collect().headOption.map(_.getAs[Double]("rate"))
}
