package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.etl.Exprs._

/** The three BI marts — capability source /root/reference/etl/marts.py.
  *
  * The reference's per-row assignment lookup (marts.py:56-80) is an
  * O(|facts| × |assignments|) Python loop. Here every chorister's
  * attributes and assignments sit in one row of a per-chorister lookup,
  * built by one aggregate and broadcast to the fact side; each fact row then
  * picks its as-of assignment from its chorister's array, already sorted by
  * the reference's stable tie-break (max valid_from, then assignment order).
  * No window, no distinct and no join-back of the fact side.
  *
  * Every string cell the marts read, `chorister_id` included, goes through
  * `safeStr`, so the marts show trimmed ids where the curated tables store
  * them untrimmed (a repeated name with an empty `Joined` is `"name | "` in
  * `dim_chorister` and `"name |"` here). That is the reference's behaviour:
  * its `_safe_str` (marts.py:50-53) returns `str(v).strip()` (SURVEY.md §2,
  * P2). A consumer joining a mart back to `dim_chorister` on `chorister_id`
  * has to trim the dimension side too.
  */
object Marts {

  /** Normalized date-or-raw: ISO if parseable, else the trimmed raw string
    * (marts.py:149-152 keeps the raw value when normalization fails). */
  private def dateOrRaw(c: Column) = {
    val n = normalizeDateToIso(c)
    when(n === "", safeStr(c)).otherwise(n)
  }

  /** Assignment preference: later `vf` first, then lower `ord`, then
    * `voice_part` and `vt` ascending, so equal-`valid_from` ties resolve to
    * one winner also in frames without `asg_ord`. An `array_sort` comparator. */
  private def preferred(l: Column, r: Column): Column =
    Seq("vf" -> -1, "ord" -> 1, "voice_part" -> 1, "vt" -> 1).foldRight(lit(0)) {
      case ((f, dir), tie) =>
        when(l(f) < r(f), -dir).when(l(f) > r(f), dir).otherwise(tie)
    }

  /** One row per chorister id of `dimChorister` ∪ `assignments`, built in
    * one aggregate:
    *  - `c_full_name`, `c_tgid`, `c_joined_raw`: the dim row with the LAST
    *    `src_ord` (the reference builds a dict keyed by id — marts.py:145;
    *    chorister_id is unique by construction, so the ordinal's absence in
    *    ad-hoc frames only matters for duplicate-id inputs);
    *  - `asgs`: the chorister's assignments with a parseable valid_from, in
    *    [[preferred]] order. */
  private def choristerLookup(dimChorister: DataFrame, assignments: DataFrame): DataFrame = {
    def ordinal(df: DataFrame, name: String) =
      if (df.columns.contains(name)) col(name).cast("long") else lit(0L)
    val dim = dimChorister.select(
        safeStr(col("chorister_id")).as("c_cid"),
        struct(
          ordinal(dimChorister, "src_ord").as("ord"),
          safeStr(col("full_name")).as("full_name"),
          safeStr(col("tgid")).as("tgid"),
          col("joined_date").cast("string").as("joined_raw")).as("c"))
      .filter(col("c_cid") =!= "")
    val asg = assignments.select(
        safeStr(col("chorister_id")).as("c_cid"),
        struct(
          normalizeDateToIso(col("valid_from")).as("vf"),
          ordinal(assignments, "asg_ord").as("ord"),
          safeStr(col("voice_part")).as("voice_part"),
          normalizeDateToIso(col("valid_to")).as("vt"),
          safeStr(col("valid_to")).as("vt_raw"),
          boolFromString(col("is_active")).as("active")).as("a"))
      .filter(col("a.vf") =!= "")
    dim.unionByName(asg, allowMissingColumns = true)
      .groupBy("c_cid")
      .agg(max(col("c")).as("c"), array_sort(collect_list(col("a")), preferred _).as("asgs"))
      .select(col("c_cid"), col("c.full_name").as("c_full_name"), col("c.tgid").as("c_tgid"),
        col("c.joined_raw").as("c_joined_raw"), col("asgs"))
  }

  /** J3: enrich `facts`, already joined with [[choristerLookup]], with the
    * assignment valid on the ISO string date `dateCol`: `voice_part` ("" when
    * none) and `asg_is_active` (false when none). Valid means inclusive
    * bounds, with an empty or unparseable valid_to open; the first valid
    * entry of `asgs` is the pick. */
  private def withAssignment(facts: DataFrame, dateCol: String): DataFrame = {
    val d = col(dateCol)
    val asOf = try_element_at(filter(col("asgs"), a =>
      d =!= "" && d >= a("vf") && !(a("vt_raw") =!= "" && a("vt") =!= "" && d > a("vt"))), lit(1))
    facts
      .withColumn("voice_part", coalesce(asOf("voice_part"), lit("")))
      .withColumn("asg_is_active", coalesce(asOf("active"), lit(false)))
  }

  /** mart_attendance — marts.py:136-184. One row per fact_attendance row. */
  def martAttendance(
      dimChorister: DataFrame,
      assignments: DataFrame,
      factAttendance: DataFrame): DataFrame = {
    val f = factAttendance.select(
        dateOrRaw(col("rehearsal_date")).as("rehearsal_date"),
        safeStr(col("chorister_id")).as("chorister_id"),
        parseNumDefault(col("hours_attended")).as("hours_attended"),
        when(parseNumDefault(col("missed_flag")) =!= 0.0, 1).otherwise(0)
          .as("missed_flag"))

    val ch = choristerLookup(dimChorister, assignments)
    val joined = f.join(broadcast(ch), col("chorister_id") === col("c_cid"), "left")
      // joined_date: ISO for display; present-but-unparseable aborts the run
      // (X2, marts.py:122-133). Evaluated only for choristers that actually
      // join a fact row, like the reference.
      .withColumn("__joined_iso",
        when(coalesce(safeStr(col("c_joined_raw")), lit("")) =!= "" &&
            normalizeDateToIso(col("c_joined_raw")) === "",
          raise_error(format_string(
            "Invalid joined_date for chorister_id='%s': '%s' (cannot normalize to YYYY-MM-DD).",
            col("chorister_id"), col("c_joined_raw"))))
          .otherwise(normalizeDateToIso(coalesce(col("c_joined_raw"), lit("")))))
      .withColumn("__joined_display",
        when(col("__joined_iso") =!= "", col("__joined_iso"))
          .otherwise(coalesce(safeStr(col("c_joined_raw")), lit(""))))

    withAssignment(joined, "rehearsal_date")
      .select(
        col("rehearsal_date"),
        col("chorister_id"),
        coalesce(col("c_full_name"), lit("")).as("full_name"),
        col("__joined_display").as("joined_date"),
        col("voice_part"),
        coalesce(col("c_tgid"), lit("")).as("tgid"),
        col("asg_is_active").as("is_active"),
        col("hours_attended"),
        when(col("hours_attended") > 0, 1).otherwise(0).as("attended_flag"),
        col("missed_flag"),
        when(col("__joined_iso") =!= "" && col("rehearsal_date") >= col("__joined_iso"), 1)
          .otherwise(0).as("available_flag"))
  }

  /** mart_song_rehearsal — marts.py:198-223. */
  def martSongRehearsal(dimSong: DataFrame, factSongTime: DataFrame): DataFrame = {
    val s = dimSong.select(
        safeStr(col("song_id")).as("s_sid"),
        safeStr(col("song_name")).as("s_name"))
      .filter(col("s_sid") =!= "")
    factSongTime.select(
        dateOrRaw(col("rehearsal_date")).as("rehearsal_date"),
        safeStr(col("song_id")).as("song_id"),
        parseNumDefault(col("minutes_spent")).as("minutes_spent"))
      .join(broadcast(s), col("song_id") === col("s_sid"), "left")
      .select(
        col("rehearsal_date"), col("song_id"),
        coalesce(col("s_name"), lit("")).as("song_name"),
        col("minutes_spent"),
        (col("minutes_spent") / 60.0).as("hours_spent"))
  }

  /** mart_chorister_song — marts.py:241-299: attendees-per-date × songs-per-date
    * (the per-date cross product IS the equi-join on rehearsal_date), then
    * dimension lookups and the as-of voice part. Attendees are deduplicated
    * per (date, chorister) like the reference's set. */
  def martChoristerSong(
      dimChorister: DataFrame,
      assignments: DataFrame,
      dimSong: DataFrame,
      factAttendance: DataFrame,
      factSongTime: DataFrame): DataFrame = {
    val att = factAttendance.select(
        dateOrRaw(col("rehearsal_date")).as("rehearsal_date"),
        safeStr(col("chorister_id")).as("chorister_id"),
        parseNumDefault(col("hours_attended")).as("h"))
      .filter(col("rehearsal_date") =!= "" && col("h") > 0)
      .select("rehearsal_date", "chorister_id")
      .distinct()

    val songs = factSongTime.select(
        dateOrRaw(col("rehearsal_date")).as("rehearsal_date"),
        safeStr(col("song_id")).as("song_id"),
        parseNumDefault(col("minutes_spent")).as("minutes_spent"))
      .filter(col("rehearsal_date") =!= "")

    val ch = choristerLookup(dimChorister, assignments)
    val sng = dimSong.select(
        safeStr(col("song_id")).as("s_sid"),
        safeStr(col("song_name")).as("s_name"))
      .filter(col("s_sid") =!= "")

    val base = att.join(songs, Seq("rehearsal_date"), "inner")
      .join(broadcast(ch), col("chorister_id") === col("c_cid"), "left")

    withAssignment(base, "rehearsal_date")
      .join(broadcast(sng), col("song_id") === col("s_sid"), "left")
      .select(
        col("rehearsal_date"),
        col("chorister_id"),
        coalesce(col("c_full_name"), lit("")).as("full_name"),
        coalesce(safeStr(col("c_joined_raw")), lit("")).as("joined_date"),
        col("voice_part"),
        col("song_id"),
        coalesce(col("s_name"), lit("")).as("song_name"),
        col("minutes_spent"),
        (col("minutes_spent") / 60.0).as("hours_spent"))
  }
}
