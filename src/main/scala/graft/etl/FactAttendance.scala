package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Exprs._
import graft.etl.RawSheet.{qcol, RowIdx}

/** fact_attendance: the dense unpivot (R2).
  *
  * Capability source /root/reference/etl/fact_attendance.py:95-161 — every
  * chorister row × every date column becomes one fact row:
  * empty cell → (hours=0.0, missed_flag=1); non-empty → strict parse
  * (comma decimals; garbage/negative aborts the job), missed_flag=0.
  *
  * Spark shape: project the date columns to their normalized ISO names, then
  * one `unpivot` — a narrow map-side transform, no shuffle; the strict parse
  * is a codegen'd `when`/`raise_error` ladder, so data-quality failures abort
  * the job exactly like the reference's RuntimeError (X2).
  */
object FactAttendance {

  def build(raw: DataFrame, idByKey: DataFrame): DataFrame = {
    val dateCols = RawSheet.dateColumns(raw) // R1, raises on duplicate ISO
    val fixed = Seq(
      col(RowIdx),
      safeStr(qcol("Tag")).as("tag"),
      safeStr(qcol("Joined")).as("joined_date"),
      safeStr(qcol("Who")).as("full_name"))
    // Null cells → "" before unpivot so no melt variant can drop them:
    // the reference keeps empty cells as missed rows.
    val dated = dateCols.map { case (name, iso) =>
      coalesce(qcol(name).cast("string"), lit("")).as(iso)
    }
    val base = raw
      .select(fixed ++ dated: _*)
      .filter(col("tag") =!= "" && col("tag") =!= "Song" && col("full_name") =!= "")
      // id lookup is a dimension join: broadcast, never shuffle the sheet side
      .join(broadcast(idByKey), Seq("full_name", "joined_date"), "inner") // no id → skip row

    if (dateCols.isEmpty) {
      return base.select(
        lit("").as("rehearsal_date"), col("chorister_id"),
        lit(0.0).as("hours_attended"), lit(0).as("missed_flag"),
        current_timestamp().as("load_ts")).limit(0)
    }

    val unp = base.unpivot(
      Array(col("chorister_id")),
      dateCols.map { case (_, iso) => col("`" + iso + "`") }.toArray,
      "rehearsal_date", "raw_val")

    val empty = trim(coalesce(col("raw_val"), lit(""))) === ""
    unp.select(
      col("rehearsal_date"),
      col("chorister_id"),
      when(empty, 0.0)
        .otherwise(parseHoursStrict(col("raw_val"), col("chorister_id"), col("rehearsal_date")))
        .as("hours_attended"),
      when(empty, 1).otherwise(0).as("missed_flag"),
      current_timestamp().as("load_ts"))
  }
}
