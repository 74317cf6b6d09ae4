package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Exprs._
import graft.etl.RawSheet.{qcol, RowIdx}

/** dim_song — capability source /root/reference/etl/dim_song.py.
  *
  * Duplicate titles get " (k)" suffixes in source-row order (D2). The
  * `seq_idx` column numbers emitted songs 1..n in source order; it is the
  * positional link (D5) fact_song_time follows — the reference zips the i-th
  * RAW Song row with song_ids_ordered[i] (dim_song.py:62,
  * fact_song_time.py:78-81), including its quirk that Song rows with an empty
  * title do NOT emit a dim row yet DO consume a position in the fact builder.
  */
object DimSong {

  /** The song frame: every RAW row with Tag == "Song" (P4), empty titles
    * included, with `cells` carried along and
    *  - `fact_seq`: the row's 1-based position among all Song rows;
    *  - `seq_idx` and `song_id` (D2): for titled rows, the position among
    *    titled rows and the suffixed id; null for empty titles;
    *  - `link_id` (D5): the `fact_seq`-th song_id of the ordered id list;
    *    null past its end.
    * All in one partition: the global order needs it anyway, and the sheet
    * is KB-scale by construction (≤702 columns, tens of Song rows).
    */
  def frame(raw: DataFrame, cells: Seq[Column] = Nil): DataFrame = {
    require(Seq("Tag", "Who").forall(raw.columns.contains),
      "RAW is missing required columns Tag/Who")
    val inOrder = Window.orderBy(col(RowIdx))
    val whole = inOrder.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byTitle = Window.partitionBy(col("song_name")).orderBy(col(RowIdx))
    val titled = col("song_name") =!= ""
    raw.select(Seq(
        col(RowIdx),
        safeStr(qcol("Tag")).as("tag"),
        safeStr(qcol("Who")).as("song_name")) ++ cells: _*)
      .filter(col("tag") === "Song")
      .withColumn("fact_seq", row_number().over(inOrder))
      .withColumn("seq_idx",
        when(titled, count(when(titled, 1)).over(inOrder).cast("int")))
      .withColumn("song_id", when(titled,
        when(row_number().over(byTitle) === 1, col("song_name"))
          .otherwise(format_string("%s (%d)", col("song_name"), row_number().over(byTitle)))))
      .withColumn("link_id",
        try_element_at(collect_list(col("song_id")).over(whole), col("fact_seq")))
  }

  /** dim_song table (canonical 4 columns + ordinals for the D5 link). */
  def build(raw: DataFrame, now: Column): DataFrame =
    frame(raw).filter(col("song_id").isNotNull).select(
      col("song_id"), col("song_name"),
      now.as("created_at"),
      now.as("updated_at"),
      col("seq_idx"),
      col(RowIdx).as("src_ord"))
}
