package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for aggregations AQE cannot split.
  *
  * Partial-aggregatable functions (count/sum/min/max) already combine
  * map-side, so key skew rarely hurts them; the problem is holistic
  * aggregates — `collect_list`/`collect_set` — where one hot key funnels all
  * its rows into a single reducer. Salting splits each key into `salt`
  * sub-keys, aggregates per sub-key, then merges the per-salt results — two
  * shuffles, both bounded by rows/salt per task.
  */
object Skew {

  /** collect_set with salting: per-salt sets, merged and deduplicated. */
  def saltedCollectSet(
      df: DataFrame,
      keys: Seq[String],
      valueCol: Column,
      alias: String,
      salt: Int = 16): DataFrame = {
    require(salt >= 1, s"salt must be >= 1 (got $salt)")
    df.withColumn("__salt", pmod(hash(valueCol), lit(salt)))
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(collect_set(valueCol).as("__part"))
      .groupBy(keys.map(col): _*)
      .agg(array_distinct(flatten(collect_list(col("__part")))).as(alias))
  }
}
