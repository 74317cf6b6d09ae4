package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Exprs._
import graft.etl.RawSheet.{qcol, RowIdx}

/** dim_chorister + dim_chorister_assignment.
  *
  * Capability source: /root/reference/etl/dim_chorister.py. The reference
  * assigns IDs in source-row order with hand-rolled dicts; here every
  * order-dependent rule is a window over `src_row_idx` in one chorister
  * frame ([[frame]]):
  *  - D1 duplicate numbering: k-th occurrence of a full_name gets
  *    `"name | joined_date"` (dim_chorister.py:39-49);
  *  - the (full_name, joined_date) → id lookup keeps the LAST occurrence
  *    (dict overwrite, dim_chorister.py:103-104);
  *  - the normalized-name → id lookup keeps the FIRST occurrence
  *    (setdefault shape, dim_chorister.py:106-107).
  */
object DimChorister {

  /** The chorister frame: every chorister row of RAW (Tag present and not
    * "Song", Who present; P3) with `cells` carried along, its normalized name
    * `norm` and three ids:
    *  - `chorister_id` (D1): the row's own id;
    *  - `keyed_id` (D4): the `chorister_id` of the last row with the same
    *    (full_name, joined_date) — what facts and derived assignments use;
    *  - `norm_id` (D3): the `chorister_id` of the first row with the same
    *    `norm`. That row is the first of its full_name, so its id is its name.
    * Every window partitions by `norm` first; `norm` is a function of
    * `full_name`, so the one hash exchange on `norm` under the bottom window
    * serves all three.
    */
  def frame(raw: DataFrame, cells: Seq[Column] = Nil): DataFrame = {
    require(Seq("Tag", "Joined", "Who").forall(raw.columns.contains),
      "RAW is missing required columns Tag/Joined/Who")
    val tgid =
      if (raw.columns.contains("tgid")) safeStr(qcol("tgid")) else lit("")
    val byNorm = Window.partitionBy(col("norm"))
    val byName = Window.partitionBy(col("norm"), col("full_name")).orderBy(col(RowIdx))
    val byKey = Window.partitionBy(col("norm"), col("full_name"), col("joined_date"))
    raw.select(Seq(
        col(RowIdx),
        safeStr(qcol("Tag")).as("tag"),
        safeStr(qcol("Joined")).as("joined_date"),
        tgid.as("tgid"),
        safeStr(qcol("Who")).as("full_name")) ++ cells: _*)
      .filter(col("tag") =!= "" && col("tag") =!= "Song" && col("full_name") =!= "")
      .withColumn("norm", normalizeName(col("full_name")))
      .withColumn("norm_id", min_by(col("full_name"), col(RowIdx)).over(byNorm))
      .withColumn("chorister_id",
        when(row_number().over(byName) === 1, col("full_name"))
          .otherwise(concat(col("full_name"), lit(" | "), col("joined_date"))))
      .withColumn("keyed_id", max_by(col("chorister_id"), col(RowIdx)).over(byKey))
  }

  /** dim_chorister table (canonical 6 columns + src ordinal for read-back). */
  def build(raw: DataFrame, now: Column): DataFrame =
    frame(raw).select(
      col("chorister_id"), col("tgid"), col("full_name"), col("joined_date"),
      now.as("created_at"),
      now.as("updated_at"),
      col(RowIdx).as("src_ord"))

  /** Hard-coded SCD2 voice-part histories keyed by normalized name — X1,
    * /root/reference/etl/dim_chorister.py:136-154. `ord` preserves the
    * override list order within one chorister. */
  val Overrides: Seq[(String, Int, String, String, String)] = Seq(
    ("мария_дидуренко", 1, "soprano", "16.06.24", "01.10.24"),
    ("мария_дидуренко", 2, "alto", "02.10.24", ""),
    ("полина_калач", 1, "alto", "16.06.24", "01.10.24"),
    ("полина_калач", 2, "soprano", "02.10.24", ""),
    ("митя_чернаков", 1, "bass", "16.06.24", "31.12.25"),
    ("митя_чернаков", 2, "tenor", "01.01.26", ""))

  /** [[Overrides]] as a literal `norm → history` map; a history is an array
    * of (ord, voice_part, valid_from, valid_to) in `ord` order. */
  private[graft] val OverrideHistory: Column =
    map(Overrides.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (norm, hist) =>
      Seq(lit(norm), array(hist.sortBy(_._2).map { case (_, ord, part, from, to) =>
        struct(lit(ord).as("ord"), lit(part).as("voice_part"),
          lit(from).as("valid_from"), lit(to).as("valid_to"))
      }: _*))
    }: _*)

  /** dim_chorister_assignment: each chorister row emits its derived row
    * (voice part + active from Tag, valid_from = joined_date, open valid_to)
    * under its keyed id, unless its normalized name has a manual override —
    * then it emits the override history under its `norm_id` instead
    * (dim_chorister.py:219-242). `asg_ord` is the stable emission order the
    * reference implies (source row, then override index), used by the marts'
    * as-of tie-break.
    */
  def buildAssignments(raw: DataFrame): DataFrame = {
    val derived = struct(
      concat(col("keyed_id"), lit(" | "), voicePart(col("tag")), lit(" | "),
        col("joined_date")).as("assignment_id"),
      col("keyed_id").as("chorister_id"),
      voicePart(col("tag")).as("voice_part"),
      when(isActiveFromTag(col("tag")), "TRUE").otherwise("FALSE").as("is_active"),
      col("joined_date").as("valid_from"),
      lit("").as("valid_to"),
      (col(RowIdx) * 10).as("asg_ord"))
    val overridden = transform(try_element_at(OverrideHistory, col("norm")), o => struct(
      concat(col("norm_id"), lit(" | "), o("voice_part"), lit(" | "),
        o("valid_from")).as("assignment_id"),
      col("norm_id").as("chorister_id"),
      o("voice_part").as("voice_part"),
      lit("TRUE").as("is_active"),
      o("valid_from").as("valid_from"),
      o("valid_to").as("valid_to"),
      (col(RowIdx) * 10 + o("ord")).as("asg_ord")))
    frame(raw)
      .select(explode(coalesce(overridden, array(derived))).as("a"))
      .select("a.*")
  }
}
