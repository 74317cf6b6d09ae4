package graft

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
    // Checkpoint-block lifetime: the loops free superseded rounds
    // (Loops.free) and Bench/Verify release each query's checkpoints when
    // it returns (Loops.scope), but checkpoints made OUTSIDE a scope (table
    // functions, tests, library callers) are released only when the
    // ContextCleaner sees their RDDs garbage-collected — and a driver whose
    // heap never pressures can go a whole session without an old-gen GC,
    // piling dead blocks into the storage pool (measured r18, before the
    // scope existed: the LAST ~30 queries of the 165-query bench ran
    // 1.3-2× slower with no periodic GC, while an every-60s forced GC cost
    // 10-15% on heavy queries, measured by tools/ProbeSession). 5 minutes
    // is the measured middle. Whether the scope alone now suffices for the
    // bench tail is open until a back-to-back bench A/B says so.
    .config("spark.cleaner.periodicGC.interval", "5min")
    // vec_cosine / minhash_signature / simhash64 / lsh_bucket as SQL functions
    .config("spark.sql.extensions", "graft.GraftExtensions")

  def local(cores: Int = 4, shufflePartitions: Int = 0): SparkSession = {
    val sp = if (shufflePartitions > 0) shufflePartitions else cores
    val spark = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", sp.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
