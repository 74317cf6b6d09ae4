package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered / stateful analytics over grouped data: sessionization and
  * gaps-and-islands streaks. These generalize the reference's alert analytics
  * (current-miss streak, /root/reference/etl/alerts.py:77-151) to any keyed,
  * ordered DataFrame. Each is a single shuffle on the partition key.
  */
object OrderedAnalytics {

  /** Assign gap-based session ids per key: a new session starts when the gap
    * between consecutive `tsMillisCol` values (ordered by `ordCol`) exceeds
    * `gapMillis`. Adds `session_id` (1-based, per key).
    */
  def sessionize(
      df: DataFrame,
      keyCols: Seq[String],
      ordCol: String,
      tsMillisCol: String,
      gapMillis: Long): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(ordCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev_ts", lag(col(tsMillisCol), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev_ts").isNull || col(tsMillisCol) - col("__prev_ts") > gapMillis, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("__new_session")).over(wRun))
      .drop("__prev_ts", "__new_session")
  }

  /** Collapse each key's ordered attribute values into consecutive RUNS —
    * gaps-and-islands on VALUE CHANGE, the generic SCD2 builder: "this key
    * held this value from here to there". One row per (key, run):
    * `run_id` (1-based per key), the run's value, `valid_from` (the run's
    * first ordinate), `valid_to` (the NEXT run's first ordinate, null for
    * the key's current run — the half-open SCD2 interval convention, so
    * intervals tile each key with no gaps), and `n_rows`.
    *
    * Change detection is null-safe (a null value is a run like any other,
    * and null→null does not split); `tiebreakCol` makes the order total so
    * same-ordinate rows collapse deterministically on any engine — the
    * [[transitions]] contract.
    *
    * Scale shape: ONE key shuffle — the lag/run-numbering windows and the
    * run rollup all ride the same (key, ord) partitioning, and the
    * valid_to stitch is a lead over the ALREADY-COLLAPSED runs frame
    * (rows = runs, not events). No global window anywhere. */
  def valueRuns(
      df: DataFrame,
      keyCols: Seq[String],
      ordCol: String,
      tiebreakCol: String,
      valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "valueRuns needs at least one key column")
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(ordCol), col(tiebreakCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = df
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .withColumn("__first", (row_number().over(w) === 1).cast("int"))
      .withColumn("__change",
        when(col("__first") === 1 || !(col(valueCol) <=> col("__prev")), 1)
          .otherwise(0))
      .withColumn("run_id", sum(col("__change")).over(wRun))
      .groupBy(keys :+ col("run_id"): _*)
      .agg(
        first(col(valueCol)).as(valueCol),
        min(col(ordCol)).as("valid_from"),
        count(lit(1)).as("n_rows"))
    val wNext = Window.partitionBy(keys: _*).orderBy(col("run_id"))
    runs.withColumn("valid_to", lead(col("valid_from"), 1).over(wNext))
      .select(keys ++ Seq(col("run_id"), col(valueCol), col("valid_from"),
        col("valid_to"), col("n_rows")): _*)
  }

  /** Ordered funnel — the conversion-sequence matcher of event analytics:
    * for every key, greedily match `steps` as a strictly-time-increasing
    * subsequence of the key's events (earliest-completion: step i is matched
    * by the key's FIRST `steps(i)` event strictly after step i-1's match
    * time — greedy-earliest is optimal for subsequence matching, so
    * `completed` is exact, not a heuristic). Emits one row per key present
    * in `df`: `step<i>_ts` match times (null once the funnel stalls),
    * `steps_completed`, and `completed`. Keys with no step-1 event surface
    * with zero steps — never dropped.
    *
    * Strictness choice: an event at EXACTLY the previous step's timestamp
    * does not advance the funnel (same-instant events have no defined
    * order); use a pre-dedup or jitter upstream if ties are meaningful.
    *
    * Scale shape: one groupBy per step over the TYPE-FILTERED event subset
    * (each a map-side-combined min), joined back by key — every operation is
    * key-partitioned, k (= steps.length, a small constant) passes, no
    * per-key window over the full event stream, no collect. The per-step
    * frames are one-row-per-key, so AQE broadcasts them as the funnel
    * narrows. */
  def funnel(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.length == steps.length,
      s"funnel steps must be distinct (got $steps)")
    val key = keyCols.map(col)
    var acc = df.filter(col(typeCol) === steps.head)
      .groupBy(key: _*).agg(min(col(tsCol)).as("step1_ts"))
    for (i <- 2 to steps.length) {
      val prev = s"step${i - 1}_ts"
      val cur = s"step${i}_ts"
      val evts = df.filter(col(typeCol) === steps(i - 1))
        .select((key :+ col(tsCol).as("__ts")): _*)
      val carried = acc.columns.map(col)
      acc = acc.join(evts, keyCols, "left")
        .groupBy(carried: _*)
        .agg(min(when(col("__ts") > col(prev), col("__ts"))).as(cur))
    }
    val stepCols = (1 to steps.length).map(i => col(s"step${i}_ts"))
    // fold builds the CASE ladder inside-out: the last wrap tests the
    // deepest step, so the outermost branch wins at the deepest match
    val completedN = stepCols.zipWithIndex
      .foldLeft(lit(0L)) { case (e, (c, i)) =>
        when(c.isNotNull, lit((i + 1).toLong)).otherwise(e)
      }
    df.select(key: _*).distinct()
      .join(acc, keyCols, "left")
      .select((key ++ stepCols :+
        completedN.as("steps_completed") :+
        stepCols.last.isNotNull.as("completed")): _*)
  }

  /** Trailing streak per key: the number of rows strictly after the last row
    * where `breakCond` held (all rows if it never held), i.e. the reference's
    * "current consecutive misses". Returns (keyCols*, streak); keys whose
    * newest row breaks the streak are reported with streak 0, not dropped.
    * One shuffle: a per-key window followed by a conditional count on the
    * same partitioning (no second exchange — the aggregation reuses it).
    */
  def trailingStreak(
      df: DataFrame,
      keyCols: Seq[String],
      ordCol: String,
      breakCond: Column): DataFrame = {
    val wKey = Window.partitionBy(keyCols.map(col): _*)
    df.withColumn("__last_break", max(when(breakCond, col(ordCol))).over(wKey))
      .groupBy(keyCols.map(col): _*)
      .agg(count(when(col("__last_break").isNull || col(ordCol) > col("__last_break"), 1))
        .as("streak"))
  }

  /** Kernel of q97: first-order transition counts and row-normalized
    * probabilities between consecutive event types per key. The lead window
    * orders by (ord, tiebreakCol) — callers pass a unique tiebreak so the
    * successor of equal-instant events is deterministic on both engines.
    * Scale shape: ONE key shuffle for the lead window; the transition
    * rollup is |types|² rows, its per-row normalization a window over that
    * tiny aggregate partitioned by from_type (never single-partition). */
  def transitions(
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
}
