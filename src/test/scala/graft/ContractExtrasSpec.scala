package graft

import graft.etl.{DimChorister, DimSong, RawSheet}

/** The lake-scale explicit-ordinal ingest ([[graft.etl.RawSheet.fromOrdinal]])
  * and the RAW-sheet contract's building blocks: which rows are choristers or
  * songs, the D2/D3 numbering and lookup rules, the header split and the X1
  * override table. The contract's two spec'd-but-never-implemented reference features
  * (SURVEY §2.11: the bad_cells quarantine and the song-filtered miss
  * alert) are not implemented here either. */
class ContractExtrasSpec extends SparkSpec {

  test("fromOrdinal: ordinal column is dropped (cannot become a date header) and nulls fail fast") {
    import spark.implicits._
    val df = Seq((1L, "Alto", "16.06.24", "", "Anna", "2"))
      .toDF("45473", "Tag", "Joined", "tgid", "Who", "16.06.24")
    val raw = RawSheet.fromOrdinal(df, "45473")
    // the numeric-named ordinal column must NOT appear as a date column
    assert(RawSheet.dateColumns(raw).map(_._2) === Seq("2024-06-16"))
    val bad = Seq((null.asInstanceOf[java.lang.Long], "Alto", "x", "", "A", ""))
      .toDF("ord", "Tag", "Joined", "tgid", "Who", "16.06.24")
    val e = intercept[Exception] {
      RawSheet.fromOrdinal(bad, "ord").select(RawSheet.RowIdx).collect()
    }
    assert(e.getMessage.contains("null or non-numeric"))
  }

  test("fromOrdinal: explicit source ordinal drives D1 numbering, no coalesce") {
    import spark.implicits._
    val df = Seq(
      (30L, "Alto", "23.06.24", "", "Anna"),
      (10L, "Alto", "16.06.24", "", "Anna"),
      (20L, "Bass", "16.06.24", "", "Ivan"))
      .toDF("ord", "Tag", "Joined", "tgid", "Who")
    val raw = RawSheet.fromOrdinal(df, "ord")
    val ids = DimChorister.withIds(raw)
      .select("full_name", "joined_date", "chorister_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    // ordinal 10 row is FIRST despite appearing second in the data
    assert(ids(("Anna", "16.06.24")) === "Anna")
    assert(ids(("Anna", "23.06.24")) === "Anna | 23.06.24")
    assert(!raw.queryExecution.executedPlan.toString.contains("Coalesce"))
  }

  test("choristerRows: Song rows and blank tags or names dropped, cells trimmed, absent tgid is empty") {
    val raw = RawSheet.fromRows(spark, Seq("Tag", "Joined", "Who", "16.06.24"), Seq(
      Seq(" Alto ", " 16.06.24 ", " Anna ", "1"),
      Seq("Song", "", "Ave Maria", "10"),
      Seq("", "", "Nobody", ""),
      Seq("Bass", "", "  ", ""),
      Seq("Bass", null, "Ivan", null)))
    val got = DimChorister.choristerRows(raw).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    assert(got.toSeq === Seq((0L, "Alto", "16.06.24", "", "Anna"), (4L, "Bass", "", "", "Ivan")))
  }

  test("choristerRows and songRows name the RAW columns they require") {
    val noWho = RawSheet.fromRows(spark, Seq("Tag", "Joined"), Seq(Seq("Alto", "")))
    val e1 = intercept[IllegalArgumentException](DimChorister.choristerRows(noWho))
    assert(e1.getMessage.contains("Tag/Joined/Who"))
    val e2 = intercept[IllegalArgumentException](DimSong.songRows(noWho))
    assert(e2.getMessage.contains("Tag/Who"))
  }

  test("normToId (D3): the first row of each normalized name wins across spelling variants") {
    val raw = RawSheet.fromRows(spark, Seq("Tag", "Joined", "tgid", "Who"), Seq(
      Seq("Alto", "16.06.24", "", "Anna  Petrova"),
      Seq("Alto", "23.06.24", "", "anna petrova"),
      Seq("Bass", "", "", "Ivan"),
      Seq("Alto", "30.06.24", "", "Anna Petrova")))
    val got = DimChorister.normToId(raw).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("anna_petrova" -> "Anna  Petrova", "ivan" -> "Ivan"))
  }

  test("songRows keeps empty titles; withSeq numbers the emitted songs and suffixes repeats (D2)") {
    val raw = RawSheet.fromRows(spark, Seq("Tag", "Joined", "tgid", "Who"), Seq(
      Seq("Song", "", "", "Ave"),
      Seq("Alto", "16.06.24", "", "Anna"),
      Seq("Song", "", "", ""),
      Seq("Song", "", "", " Ave "),
      Seq("Song", "", "", "Gloria")))
    assert(DimSong.songRows(raw).collect().map(r => (r.getLong(0), r.getString(2))).toSeq ===
      Seq((0L, "Ave"), (2L, ""), (3L, "Ave"), (4L, "Gloria")))
    val seq = DimSong.withSeq(raw).orderBy("seq_idx")
      .select(RawSheet.RowIdx, "song_id", "seq_idx").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(seq === Seq((0L, "Ave", 1), (3L, "Ave (2)", 2), (4L, "Gloria", 3)))
  }

  test("extraColumns and rawDateColumns: fixed and ordinal columns excluded, sheet order kept") {
    val raw = RawSheet.fromRows(spark,
      Seq("Tag", "16.06.24", "Joined", " ", "45473", "tgid", "Who", "notes"),
      Seq(Seq("Alto", "1", "", "", "2", "", "Anna", "x")))
    assert(RawSheet.extraColumns(raw) === Seq("16.06.24", " ", "45473", "notes"))
    assert(RawSheet.rawDateColumns(raw) === Seq("16.06.24", "45473", "notes"))
    assert(RawSheet.dateColumns(raw) === Seq("16.06.24" -> "2024-06-16", "45473" -> "2024-06-30"))
    // a dotted header is one column name, not a struct path
    assert(raw.select(RawSheet.qcol("16.06.24")).collect()(0).getString(0) === "1")
  }

  test("X1 overrides: each history is contiguous (next from = previous to + 1 day), the last open") {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("dd.MM.yy")
    def day(s: String) = java.time.LocalDate.parse(s, fmt)
    for ((norm, hist) <- DimChorister.Overrides.groupBy(_._1)) {
      val byOrd = hist.sortBy(_._2)
      assert(byOrd.map(_._2) === (1 to byOrd.size), norm)
      for (Seq(prev, next) <- byOrd.sliding(2))
        assert(day(next._4) === day(prev._5).plusDays(1), norm)
      assert(byOrd.last._5 === "", norm)
      assert(byOrd.init.forall(o => !day(o._5).isBefore(day(o._4))), norm)
    }
    val df = DimChorister.overridesDf(spark)
    assert(df.columns.toSeq ===
      Seq("norm", "ovr_ord", "ovr_voice_part", "ovr_valid_from", "ovr_valid_to"))
    assert(df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
      r.getString(4))).toSeq === DimChorister.Overrides)
  }
}
