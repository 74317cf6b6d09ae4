package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** Shared session tuning for every entry point (Verify, Bench, tests, main).
  *
  * Sized for the harness (`local[32]`, 128 GiB single JVM) but every choice is the
  * one we'd make on a 1000-executor cluster too: AQE on (runtime coalescing +
  * skew-join splitting), shuffle partitions matched to parallelism instead of the
  * 200 default, and broadcast threshold left at 10 MB so dimension tables
  * (region/nation/customer/supplier/part at any tested SF) broadcast instead of
  * shuffling the fact side.
  */
object Sessions {
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // events.parquet is written with TIMESTAMP(NANOS); Spark can only read it
    // as a raw long (Tables.load converts to a micros TimestampType).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // vec_cosine / minhash_signature / simhash64 / lsh_bucket as SQL functions
    .config("spark.sql.extensions", "graft.GraftExtensions")
    // Generated-class cache. One choir pass (Main.run + buildMarts +
    // runAlerts) has a working set of about 230 classes (perfbench
    // choir_etl's cold pass compiles 235). At Spark's default of 100 entries
    // each class is evicted before its next use: a warm Main.run on the
    // golden fixture recompiled 157 classes, and compiles 16 at 1000.
    // A static conf: CodeGenerator sizes its cache once per JVM, at the
    // first codegen, so later sessions in the same JVM share that size.
    .config("spark.sql.codegen.cache.maxEntries", "1000")

  def local(cores: Int = 4, shufflePartitions: Int = 0): SparkSession = {
    val sp = if (shufflePartitions > 0) shufflePartitions else cores
    val spark = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", sp.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Loops.scope releases checkpoints by unpersisting them, and Spark warns
    // on every unpersist of a locally checkpointed RDD (always a
    // MapPartitionsRDD) that its lineage is gone. That is the intent of a
    // release, not a fault: 943 of Verify's 1,115 WARN lines at sf0.001.
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }
}
