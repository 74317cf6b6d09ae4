package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.ListenerBusAccess

import graft.etl.RawSheet
import graft.io.TableStore

/** Golden end-to-end test of the choir pipeline (FIXTURES.md §1): one RAW
  * fixture exercising every branch — mixed header formats (d.m.yy, serial,
  * d.m.yyyy), duplicate chorister and song names, the ex-prefix, the override
  * history, comma decimals, empty cells as misses, the empty-title Song-row
  * position quirk (D5), skipped rows — with hand-computed expected rows for
  * all 5 curated tables and all 3 marts, plus idempotent re-run and both
  * fail-fast paths (bad hours cell, duplicate date header) with their
  * etl_log rows.
  */
class ChoirPipelineSpec extends SparkSpec {

  private val header = graft.etl.ChoirFixture.header
  private val rows = graft.etl.ChoirFixture.rows

  private def runPipeline(): (TableStore, Main.RunResult) = {
    val root = Files.createTempDirectory("choir_golden").toString
    val store = new TableStore(spark, root)
    val raw = RawSheet.fromRows(spark, header, rows)
    (store, Main.run(spark, raw, store))
  }

  private def rowsOf(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet

  private lazy val (store, result) = runPipeline()

  test("run succeeds with the expected table counts") {
    assert(result.status === "success", result.errorMessage)
    assert(result.counts === Map(
      "dim_chorister" -> 5L, "dim_chorister_assignment" -> 6L,
      "dim_song" -> 3L, "fact_attendance" -> 20L, "fact_song_time" -> 4L))
  }

  test("dim_chorister: D1 duplicate numbering, skip rows, raw joined dates") {
    assert(rowsOf(store.read("dim_chorister"),
      "chorister_id", "tgid", "full_name", "joined_date") === Set(
      Seq("Anna A", "@anna", "Anna A", "16.06.24"),
      Seq("Boris B", "", "Boris B", "16.06.24"),
      Seq("Мария Дидуренко", "@maria", "Мария Дидуренко", "02.10.24"),
      Seq("Иван И", "@ivan", "Иван И", "16.06.24"),
      Seq("Anna A | 23.06.24", "", "Anna A", "23.06.24")))
  }

  test("dim_chorister_assignment: derived rows, ex-tag inactive, X1 override history") {
    assert(rowsOf(store.read("dim_chorister_assignment"),
      "assignment_id", "chorister_id", "voice_part", "is_active",
      "valid_from", "valid_to") === Set(
      Seq("Anna A | alto | 16.06.24", "Anna A", "alto", "TRUE", "16.06.24", ""),
      Seq("Boris B | tenor | 16.06.24", "Boris B", "tenor", "FALSE", "16.06.24", ""),
      Seq("Мария Дидуренко | soprano | 16.06.24", "Мария Дидуренко",
        "soprano", "TRUE", "16.06.24", "01.10.24"),
      Seq("Мария Дидуренко | alto | 02.10.24", "Мария Дидуренко",
        "alto", "TRUE", "02.10.24", ""),
      Seq("Иван И | bass | 16.06.24", "Иван И", "bass", "TRUE", "16.06.24", ""),
      Seq("Anna A | 23.06.24 | alto | 23.06.24", "Anna A | 23.06.24",
        "alto", "TRUE", "23.06.24", "")))
  }

  test("dim_song: D2 duplicate title numbering, empty titles not emitted") {
    assert(rowsOf(store.read("dim_song"), "song_id", "song_name") === Set(
      Seq("Gloria", "Gloria"),
      Seq("Ave Maria", "Ave Maria"),
      Seq("Gloria (2)", "Gloria")))
  }

  test("fact_attendance: dense unpivot, comma decimals, empty cells as misses") {
    val got = rowsOf(store.read("fact_attendance"),
      "rehearsal_date", "chorister_id", "hours_attended", "missed_flag")
    def r(d: String, c: String, h: Double, m: Int) = Seq(d, c, h, m)
    assert(got === Set(
      r("2024-06-16", "Anna A", 2.0, 0), r("2024-06-23", "Anna A", 0.0, 1),
      r("2024-06-30", "Anna A", 2.5, 0), r("2024-07-07", "Anna A", 0.0, 1),
      r("2024-06-16", "Boris B", 1.5, 0), r("2024-06-23", "Boris B", 2.0, 0),
      r("2024-06-30", "Boris B", 0.0, 1), r("2024-07-07", "Boris B", 0.0, 1),
      r("2024-06-16", "Мария Дидуренко", 0.0, 1), r("2024-06-23", "Мария Дидуренко", 2.0, 0),
      r("2024-06-30", "Мария Дидуренко", 2.0, 0), r("2024-07-07", "Мария Дидуренко", 0.0, 1),
      r("2024-06-16", "Иван И", 0.0, 1), r("2024-06-23", "Иван И", 0.0, 1),
      r("2024-06-30", "Иван И", 0.0, 1), r("2024-07-07", "Иван И", 0.0, 1),
      r("2024-06-16", "Anna A | 23.06.24", 0.0, 1), r("2024-06-23", "Anna A | 23.06.24", 1.0, 0),
      r("2024-06-30", "Anna A | 23.06.24", 0.0, 1), r("2024-07-07", "Anna A | 23.06.24", 0.0, 1)))
  }

  test("fact_song_time: sparse unpivot, raw header dates, D5 position quirk") {
    // The empty-title Song row consumes position 2, stealing "Ave Maria"'s
    // id; the real Ave Maria row gets "Gloria (2)" and the last Gloria row
    // falls off the end of the id list — exactly the reference's zip.
    assert(rowsOf(store.read("fact_song_time"),
      "rehearsal_date", "song_id", "minutes_spent") === Set(
      Seq("16.06.24", "Gloria", 30.0),
      Seq("45473", "Gloria", 45.0),
      Seq("23.06.24", "Ave Maria", 10.0),
      Seq("45473", "Gloria (2)", 25.0)))
  }

  test("mart_attendance: as-of voice parts, availability, flags") {
    val got = rowsOf(store.read("mart_attendance"),
      "rehearsal_date", "chorister_id", "full_name", "joined_date", "voice_part",
      "tgid", "is_active", "hours_attended", "attended_flag", "missed_flag",
      "available_flag")
    def r(d: String, c: String, n: String, j: String, v: String, t: String,
        act: Boolean, h: Double, a: Int, m: Int, av: Int) =
      Seq(d, c, n, j, v, t, act, h, a, m, av)
    assert(got === Set(
      r("2024-06-16", "Anna A", "Anna A", "2024-06-16", "alto", "@anna", true, 2.0, 1, 0, 1),
      r("2024-06-23", "Anna A", "Anna A", "2024-06-16", "alto", "@anna", true, 0.0, 0, 1, 1),
      r("2024-06-30", "Anna A", "Anna A", "2024-06-16", "alto", "@anna", true, 2.5, 1, 0, 1),
      r("2024-07-07", "Anna A", "Anna A", "2024-06-16", "alto", "@anna", true, 0.0, 0, 1, 1),
      r("2024-06-16", "Boris B", "Boris B", "2024-06-16", "tenor", "", false, 1.5, 1, 0, 1),
      r("2024-06-23", "Boris B", "Boris B", "2024-06-16", "tenor", "", false, 2.0, 1, 0, 1),
      r("2024-06-30", "Boris B", "Boris B", "2024-06-16", "tenor", "", false, 0.0, 0, 1, 1),
      r("2024-07-07", "Boris B", "Boris B", "2024-06-16", "tenor", "", false, 0.0, 0, 1, 1),
      // Maria joined 2024-10-02: every rehearsal predates it -> available 0;
      // her override history still resolves soprano for June/July.
      r("2024-06-16", "Мария Дидуренко", "Мария Дидуренко", "2024-10-02", "soprano", "@maria", true, 0.0, 0, 1, 0),
      r("2024-06-23", "Мария Дидуренко", "Мария Дидуренко", "2024-10-02", "soprano", "@maria", true, 2.0, 1, 0, 0),
      r("2024-06-30", "Мария Дидуренко", "Мария Дидуренко", "2024-10-02", "soprano", "@maria", true, 2.0, 1, 0, 0),
      r("2024-07-07", "Мария Дидуренко", "Мария Дидуренко", "2024-10-02", "soprano", "@maria", true, 0.0, 0, 1, 0),
      r("2024-06-16", "Иван И", "Иван И", "2024-06-16", "bass", "@ivan", true, 0.0, 0, 1, 1),
      r("2024-06-23", "Иван И", "Иван И", "2024-06-16", "bass", "@ivan", true, 0.0, 0, 1, 1),
      r("2024-06-30", "Иван И", "Иван И", "2024-06-16", "bass", "@ivan", true, 0.0, 0, 1, 1),
      r("2024-07-07", "Иван И", "Иван И", "2024-06-16", "bass", "@ivan", true, 0.0, 0, 1, 1),
      // The duplicate Anna joined 06-23: no assignment is valid on 06-16.
      r("2024-06-16", "Anna A | 23.06.24", "Anna A", "2024-06-23", "", "", false, 0.0, 0, 1, 0),
      r("2024-06-23", "Anna A | 23.06.24", "Anna A", "2024-06-23", "alto", "", true, 1.0, 1, 0, 1),
      r("2024-06-30", "Anna A | 23.06.24", "Anna A", "2024-06-23", "alto", "", true, 0.0, 0, 1, 1),
      r("2024-07-07", "Anna A | 23.06.24", "Anna A", "2024-06-23", "alto", "", true, 0.0, 0, 1, 1)))
  }

  test("mart_song_rehearsal: normalized dates incl. serial, minutes to hours") {
    assert(rowsOf(store.read("mart_song_rehearsal"),
      "rehearsal_date", "song_id", "song_name", "minutes_spent", "hours_spent") === Set(
      Seq("2024-06-16", "Gloria", "Gloria", 30.0, 0.5),
      Seq("2024-06-30", "Gloria", "Gloria", 45.0, 0.75),
      Seq("2024-06-23", "Ave Maria", "Ave Maria", 10.0, 10.0 / 60.0),
      Seq("2024-06-30", "Gloria (2)", "Gloria", 25.0, 25.0 / 60.0)))
  }

  test("mart_chorister_song: attendees x songs per date with as-of voice part") {
    val got = rowsOf(store.read("mart_chorister_song"),
      "rehearsal_date", "chorister_id", "voice_part", "song_id", "minutes_spent")
    assert(got === Set(
      Seq("2024-06-16", "Anna A", "alto", "Gloria", 30.0),
      Seq("2024-06-16", "Boris B", "tenor", "Gloria", 30.0),
      Seq("2024-06-23", "Anna A | 23.06.24", "alto", "Ave Maria", 10.0),
      Seq("2024-06-23", "Boris B", "tenor", "Ave Maria", 10.0),
      Seq("2024-06-23", "Мария Дидуренко", "soprano", "Ave Maria", 10.0),
      Seq("2024-06-30", "Anna A", "alto", "Gloria", 45.0),
      Seq("2024-06-30", "Anna A", "alto", "Gloria (2)", 25.0),
      Seq("2024-06-30", "Мария Дидуренко", "soprano", "Gloria", 45.0),
      Seq("2024-06-30", "Мария Дидуренко", "soprano", "Gloria (2)", 25.0)))
  }

  test("idempotent re-run: same outputs, etl_log grows append-only") {
    val raw = RawSheet.fromRows(spark, header, rows)
    val before = rowsOf(store.read("mart_attendance"),
      "rehearsal_date", "chorister_id", "voice_part", "hours_attended")
    val second = Main.run(spark, raw, store)
    assert(second.status === "success")
    assert(rowsOf(store.read("mart_attendance"),
      "rehearsal_date", "chorister_id", "voice_part", "hours_attended") === before)
    val log = store.read("etl_log").collect()
    assert(log.length >= 2)
    assert(log.forall(_.getAs[String]("status") === "success"))
    assert(log.forall(_.getAs[Long]("rows_fact_attendance") === 20L))
  }

  test("a warm run compiles nothing and counts exactly what it wrote") {
    val raw = RawSheet.fromRows(spark, header, rows)
    def freshStore() = new TableStore(spark, Files.createTempDirectory("choir_warm").toString)
    assert(Main.run(spark, raw, freshStore()).status === "success")
    val warmStore = freshStore()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val warm = Main.run(spark, raw, warmStore)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    assert(warm.status === "success", warm.errorMessage)
    assert(compiles == 0, s"the warm run compiled $compiles classes")
    Main.CuratedTables.foreach { case (t, _) =>
      assert(warm.counts(t) === warmStore.read(t).count(), t)
    }
  }

  /** Jobs started while `body` runs, counted on a drained listener bus. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusAccess.drain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  test("a warm pass runs one exchange per curated table: jobs of run, marts and alerts") {
    val raw = RawSheet.fromRows(spark, header, rows)
    val jobStore = new TableStore(spark, Files.createTempDirectory("choir_jobs").toString)
    val alerts = Main.AlertConfig(enabled = true, sink = (_: String) => ())
    assert(Main.run(spark, raw, jobStore, alerts).status === "success") // warm-up
    val run = jobsDuring(assert(Main.run(spark, raw, jobStore, alerts).status === "success"))
    val marts = jobsDuring(Main.buildMarts(spark, jobStore))
    val alert = jobsDuring(Main.runAlerts(spark, jobStore, alerts))
    // run: 5 curated writes × (exchange + write) + the etl_log append, then
    // the marts and the alerts; marts: one lookup aggregate + its broadcast
    // per chorister mart; alerts: one max-date job, then the summary's
    // exchange and collect
    assert((run, marts, alert) === ((26, 11, 4)))
  }

  test("fail-fast: bad hours cell fails the run and logs a failed etl_log row") {
    val root = Files.createTempDirectory("choir_fail").toString
    val failStore = new TableStore(spark, root)
    val badRows = rows.updated(0, Seq("Alto", "16.06.24", "@anna", "Anna A", "abc", "", "", ""))
    val res = Main.run(spark, RawSheet.fromRows(spark, header, badRows), failStore)
    assert(res.status === "failed")
    assert(res.errorMessage.contains("Anna A") && res.errorMessage.contains("2024-06-16"))
    // dims were written before the failure, exactly like the reference
    assert(failStore.exists("dim_chorister") && !failStore.exists("mart_attendance"))
    val log = failStore.read("etl_log").collect()
    assert(log.length === 1 && log(0).getAs[String]("status") === "failed")
    assert(log(0).getAs[String]("error_message").nonEmpty)
    // the tables written before the failure are counted; the rest log 0
    val written = Map("dim_chorister" -> 5L, "dim_chorister_assignment" -> 6L, "dim_song" -> 3L)
    Main.CuratedTables.foreach { case (t, _) =>
      val expected = written.getOrElse(t, 0L)
      assert(res.counts(t) === expected, t)
      assert(log(0).getAs[Long](s"rows_$t") === expected, t)
      if (expected > 0) assert(failStore.read(t).count() === expected, t)
    }
  }

  test("CSV ingest handles quoted commas and embedded newlines in cells") {
    val dir = Files.createTempDirectory("choir_csv")
    val csv = dir.resolve("raw.csv")
    Files.writeString(csv,
      "Tag,Joined,tgid,Who,16.06.24\n" +
        "Alto,16.06.24,@a,\"Doe, Jane\",\"2,5\"\n" +
        "Bass,16.06.24,,\"Two\nLines\",1\n")
    val raw = RawSheet.fromCsv(spark, csv.toString)
    val facts = graft.etl.FactAttendance.build(raw, org.apache.spark.sql.functions.current_timestamp())
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(facts === Map("Doe, Jane" -> 2.5, "Two\nLines" -> 1.0))
  }

  test("fail-fast: duplicate normalized date headers abort the run") {
    val root = Files.createTempDirectory("choir_dup").toString
    val dupStore = new TableStore(spark, root)
    val dupHeader = Seq("Tag", "Joined", "tgid", "Who", "16.06.24", "16.6.24")
    val res = Main.run(spark,
      RawSheet.fromRows(spark, dupHeader, Seq(Seq("Alto", "16.06.24", "", "Anna A", "1", "2"))),
      dupStore)
    assert(res.status === "failed")
    assert(res.errorMessage.contains("Duplicate rehearsal_date"))
    assert(res.errorMessage.contains("2024-06-16"))
  }
}
