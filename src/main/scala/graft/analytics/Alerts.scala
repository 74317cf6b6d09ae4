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
  * Shape: one tiny job finds the window's first date; then one exchange on
  * chorister_id serves the running-break window and the one per-chorister
  * aggregate ([[summary]]) that yields everything else. Streaks and the rate
  * are views of that summary, which has at most one row per chorister.
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

  /** Per-chorister alert summary over the available rows: one row per
    * chorister with an available row, holding
    *  - `full_name`, `voice_part` ("—" when empty), `tgid` and `is_active`
    *    of the newest in-window row (null when it has none);
    *  - `last_attended_date` over ALL available rows (null if never);
    *  - `streak_len` and `missed_dates` (newest first, at most 10): the
    *    in-window rows before the first attended or not-missed one;
    *  - `n_available` and `n_attended`: in-window rows, and those attended.
    * The window is the dates >= max(date) - 7*weeks (inclusive); its first
    * date comes from one tiny job here, so the frame's plan reads it as a
    * literal.
    */
  def summary(mart: DataFrame, lookbackWeeks: Int): DataFrame = {
    val available = normalizeAvailable(mart)
    val start = available
      .agg(date_format(date_sub(to_date(max(col("rehearsal_date"))), 7 * lookbackWeeks),
        "yyyy-MM-dd"))
      .head().getString(0)
    val in = col("__in")
    val w = Window.partitionBy("chorister_id").orderBy(col("rehearsal_date").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val breakCond = col("attended_flag") === 1 || col("missed_flag") === 0
    val missed = in && col("__breaks") === 0
    def orDash(c: Column) = when(c === "", "—").otherwise(c)
    available
      .withColumn("__in", coalesce(col("rehearsal_date") >= lit(start).cast("string"), lit(false)))
      .withColumn("__breaks", sum(when(in && breakCond, 1).otherwise(0)).over(w))
      .groupBy("chorister_id")
      .agg(
        max_by(when(in, struct(col("is_active"), col("full_name"), col("voice_part"), col("tgid"))),
          when(in, col("rehearsal_date"))).as("__latest"),
        max(when(col("attended_flag") === 1, col("rehearsal_date"))).as("last_attended_date"),
        count(when(missed, 1)).as("streak_len"),
        slice(sort_array(collect_list(when(missed, col("rehearsal_date"))), asc = false), 1, 10)
          .as("missed_dates"),
        count(when(in, 1)).as("n_available"),
        count(when(in && col("attended_flag") === 1, 1)).as("n_attended"))
      .select(
        col("chorister_id"),
        orDash(col("__latest.full_name")).as("full_name"),
        orDash(col("__latest.voice_part")).as("voice_part"),
        col("__latest.tgid").as("tgid"),
        col("__latest.is_active").as("is_active"),
        col("last_attended_date"),
        col("streak_len"),
        col("missed_dates"),
        col("n_available"),
        col("n_attended"))
  }

  /** Reference `compute_current_missed_streak` (alerts.py:77-151): the
    * [[summary]] rows of active choristers with streak >= threshold, as
    * (chorister_id, full_name, voice_part, tgid, last_attended_date,
    * streak_len, missed_dates), ordered by chorister_id.
    */
  def currentMissedStreaks(
      mart: DataFrame,
      lookbackWeeks: Int,
      streakThreshold: Int): DataFrame =
    summary(mart, lookbackWeeks)
      .filter(col("is_active") && col("streak_len") >= streakThreshold)
      .select("chorister_id", "full_name", "voice_part", "tgid",
        "last_attended_date", "streak_len", "missed_dates")
      .orderBy("chorister_id")

  /** Reference `compute_attendance_rate` (alerts.py:154-174) as a 1-row
    * frame (n_available, n_attended, rate = attended / available inside
    * the window) — empty when there is no available data in the window. */
  def attendanceRateFrame(mart: DataFrame, lookbackWeeks: Int): DataFrame =
    summary(mart, lookbackWeeks)
      .agg(sum(col("n_available")).as("n_available"), sum(col("n_attended")).as("n_attended"))
      .filter(col("n_available") > 0)
      .withColumn("rate", col("n_attended").cast("double") / col("n_available"))
}
