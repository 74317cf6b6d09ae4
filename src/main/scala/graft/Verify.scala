package graft
import java.nio.file.{Files, Paths}

import graft.operators.Loops
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val sfDir = args(0); val outDir = args(1)
    // optional trailing query names: local-iteration filter (the driver
    // always passes exactly two args and dumps everything)
    val only = args.drop(2).toSet
    // default rather than crash on a malformed value: this main IS the
    // correctness gate and must never abort on a cosmetic env problem
    val cpusRaw = sys.env.get("SPARK_GRAFT_CPUS")
    val cpus = cpusRaw.flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse {
      cpusRaw.foreach(v => System.err.println(
        s"[verify] WARNING: ignoring malformed SPARK_GRAFT_CPUS='$v'; using 4 cores"))
      4
    }
    // Sessions.local applies the shared tuning (UTC, AQE, nanosAsLong —
    // without which any query touching events.parquet fails to read).
    val spark = Sessions.local(cores = cpus)
    new java.io.File(outDir).mkdirs()
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // the query's checkpoints are released once its result is written
      try Loops.scope {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Full JSON string escaping (graft.format.Json) — a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load fail
    // and silently zero the round's correctness.
    import graft.format.Json
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed > 0) System.err.println(s"[verify] $failed queries failed")
    spark.stop()
  }
}
