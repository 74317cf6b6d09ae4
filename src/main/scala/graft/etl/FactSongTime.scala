package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.etl.Exprs._

/** fact_song_time: the sparse unpivot (R3).
  *
  * Capability source /root/reference/etl/fact_song_time.py:43-88 — Song rows ×
  * date columns, keeping only cells that parse as a number (lenient comma
  * decimals). Two reference quirks preserved:
  *  - rehearsal_date is the RAW header string, NOT ISO-normalized (that
  *    happens later in the marts, marts.py:208-210);
  *  - the song_id comes positionally: the k-th Song row (title or not) takes
  *    the k-th emitted dim_song id, and rows past the end of the id list are
  *    dropped (the reference `break`s). (D5)
  */
object FactSongTime {

  def build(raw: DataFrame, now: Column): DataFrame = {
    val rawDates = RawSheet.rawDateColumns(raw)
    val dated = rawDates.map(n =>
      coalesce(RawSheet.qcol(n).cast("string"), lit("")).as(n))
    // the song frame carries the date cells: no join back to RAW
    val linked = DimSong.frame(raw, dated)
      .filter(col("link_id").isNotNull)
      .withColumn("song_id", col("link_id"))

    if (rawDates.isEmpty) {
      return linked.select(
        lit("").as("rehearsal_date"), col("song_id"),
        lit(0.0).as("minutes_spent"),
        now.as("load_ts")).limit(0)
    }

    linked.unpivot(
        Array(col("song_id")),
        rawDates.map(n => RawSheet.qcol(n)).toArray,
        "rehearsal_date", "raw_val")
      .withColumn("minutes_spent", parseNumLenient(col("raw_val")))
      .filter(col("minutes_spent").isNotNull)
      .select(col("rehearsal_date"), col("song_id"), col("minutes_spent"),
        now.as("load_ts"))
  }
}
