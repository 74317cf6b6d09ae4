package graft.tools

import graft.{Queries, Sessions}
import graft.operators.Loops

/** SESSION-PRESSURE probe (r18, the VERDICT #4 A/B): run a sequence of
  * checkpoint-heavy graph queries in ONE session, then time a probe query
  * (q226) that r17 measured at 4.5× its isolated time when dead checkpoint
  * blocks had piled up. Each run is one [[graft.operators.Loops.scope]],
  * released after its timer stops, exactly as `Bench` runs a query.
  * Compares the "mid-session premium" across periodic-GC policies:
  * SPARK_GRAFT_GC sets `spark.cleaner.periodicGC.interval` (unset: Spark's
  * 30min default).
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 [SPARK_GRAFT_GC=30min] \
  *     sbt "runMain graft.tools.ProbeSession"
  */
object ProbeSession {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(32)
    val gc = sys.env.get("SPARK_GRAFT_GC")
    val b = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    val spark = {
      val tuned = Sessions.tune(b)
      gc.fold(tuned)(v => tuned.config("spark.cleaner.periodicGC.interval", v))
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    val heavy = Seq(
      "q217_coreness_incremental", "q222_scc_churn", "q221_truss_churn",
      "q204_scc_incremental", "q203_truss_incremental", "q219_kcore_churn",
      "q202_kcore_incremental", "q225_louvain_two_level",
      "q199_pagerank_incremental", "q220_louvain_refine")
    def run(name: String): Double = Loops.scope {
      val t0 = System.nanoTime()
      Queries.all(name)(spark, dir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    // isolated probe first (fresh session), then the heavy sequence, then
    // the probe again — the delta is the mid-session premium
    val iso = run("q226_louvain_incremental")
    heavy.foreach { n =>
      val s = run(n)
      println(f"[probesession] $n%-28s $s%8.2f s")
    }
    val mid = run("q226_louvain_incremental")
    val storage = spark.sparkContext.getRDDStorageInfo
    println(f"[probesession] gc=${gc.getOrElse("default")} probe_isolated=$iso%.2f s " +
      f"probe_mid_session=$mid%.2f s premium=${mid / iso}%.2fx " +
      s"persistent_rdds=${storage.length} " +
      f"cached_mb=${storage.map(_.memSize).sum / 1e6}%.1f")
    spark.stop()
  }
}
