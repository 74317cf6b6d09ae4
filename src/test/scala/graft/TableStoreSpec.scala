package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBusAccess

import graft.io.TableStore

/** `TableStore.read` takes its schema from a data file's footer instead of
  * an inference job: for every layout the store writes, the reader it
  * returns must see exactly what a plain `spark.read.parquet` of the
  * directory sees (less the store-internal `__kb` column), and creating it
  * must launch no job. `overwrite` returns the rows it wrote. */
class TableStoreSpec extends SparkSpec {

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("tablestore").toString)

  private def frame: DataFrame = spark.range(0, 40).select(
    col("id"),
    (col("id") % 3).cast("int").as("part"),
    concat(lit("n"), col("id").cast("string")).as("name"),
    (col("id") / 4.0).as("score"),
    when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("string")).as("maybe"))

  /** Jobs started while `body` runs, counted on a drained listener bus. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertReadsLikeParquet(store: TableStore, name: String): Unit = {
    val (df, jobs) = jobsDuring(store.read(name))
    assert(jobs === 0, s"creating the reader of '$name' launched $jobs job(s)")
    val plain = spark.read.parquet(store.path(name))
    val expected = if (plain.columns.contains("__kb")) plain.drop("__kb") else plain
    assert(df.schema === expected.schema, s"schema of '$name'")
    assert(sortedRows(df) === sortedRows(expected), s"rows of '$name'")
  }

  test("overwrite: returns the rows written; read needs no job") {
    val store = freshStore()
    assert(store.overwrite("flat", frame) === 40L)
    assertReadsLikeParquet(store, "flat")
    // a second overwrite replaces the table and counts only itself
    assert(store.overwrite("flat", frame.filter(col("id") < 7)) === 7L)
    assertReadsLikeParquet(store, "flat")
    assert(store.read("flat").count() === 7L)
  }

  test("overwrite of an empty frame: 0 rows, schema kept, read needs no job") {
    val store = freshStore()
    assert(store.overwrite("empty", frame.filter(lit(false))) === 0L)
    assertReadsLikeParquet(store, "empty")
    assert(store.read("empty").schema.fieldNames.toSeq === frame.columns.toSeq)
  }

  test("append (the etl_log layout): every run's row, read needs no job") {
    val store = freshStore()
    def logRow(status: String, rows: Long) = spark.sql("SELECT 1").select(
      current_timestamp().as("run_ts"), lit(status).as("status"),
      lit(rows).as("rows_dim_song"), lit("").as("error_message"))
    store.append("etl_log", logRow("success", 3L))
    store.append("etl_log", logRow("failed", 0L))
    assertReadsLikeParquet(store, "etl_log")
    assert(store.read("etl_log").collect().map(_.getAs[String]("status")).sorted.toSeq ===
      Seq("failed", "success"))
  }

  test("overwriteKeyed: bucket dirs (and nested partitions) read without a job") {
    val store = freshStore()
    store.overwriteKeyed("keyed", frame, Seq("id"), numBuckets = 4)
    assertReadsLikeParquet(store, "keyed")
    store.overwriteKeyed("keyed_parts", frame, Seq("id"), numBuckets = 3,
      partitionCols = Seq("part"))
    assertReadsLikeParquet(store, "keyed_parts")
    assert(!store.read("keyed_parts").columns.contains("__kb"))
  }

  test("overwritePartitioned: partition columns still come from directory names") {
    val store = freshStore()
    store.overwritePartitioned("parted", frame, Seq("part"))
    assertReadsLikeParquet(store, "parted")
    assert(store.read("parted").columns.last === "part")
  }

  test("overwriteStaged: the new generation replaces the old, even when built from the table itself") {
    val store = freshStore()
    store.overwriteStaged("clock", frame)
    assertReadsLikeParquet(store, "clock")
    store.overwriteStaged("clock", store.read("clock").filter(col("id") < 5))
    assertReadsLikeParquet(store, "clock")
    assert(store.read("clock").count() === 5L)
    // no staging or retired generation is left beside the live table
    val dir = new java.io.File(store.path("clock"))
    assert(dir.getParentFile.list().filter(_.startsWith("clock")).toSeq === Seq("clock"))
  }

  test("appendPartitioned: a batch adds files only under the partitions it touches") {
    val store = freshStore()
    val dir = new java.io.File(store.path("log"))
    def files(part: String): Set[String] =
      new java.io.File(dir, part).list().filter(_.endsWith(".parquet")).toSet
    store.appendPartitioned("log", frame.filter(col("part") === 0), Seq("part"))
    val part0 = files("part=0")
    store.appendPartitioned("log", frame.filter(col("part") =!= 0), Seq("part"))
    assert(files("part=0") === part0)
    assert(dir.list().filter(_.startsWith("part=")).sorted.toSeq ===
      Seq("part=0", "part=1", "part=2"))
    assertReadsLikeParquet(store, "log")
    assert(store.read("log").count() === 40L)
    // append-only: re-appending a batch duplicates its rows
    store.appendPartitioned("log", frame.filter(col("part") === 1), Seq("part"))
    assert(store.read("log").count() === 53L)
    assert(files("part=0") === part0)
  }
}
