package graft.tools

import graft.Sessions
import graft.queries.Queries

/** Dump `.explain("formatted")` for named registered queries to files —
  * the round-17 optimization-evidence harness (guide §1: capture the plan
  * shape before/after every change). Usage:
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> <query> [query ...]"
  *
  * Writes <outDir>/<query>_<suffix>.txt. Note: the maintenance-family
  * queries are EAGER (their fixpoint loops run at construction), so the
  * dumped plan is the final post-checkpoint stage; the per-round shapes are
  * asserted in PlanSpec/OperatorsSpec and discussed in OPTIMIZATION_r17.md.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(8)
    val spark = Sessions.local(cores = cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      Queries.all.get(n) match {
        case None => System.err.println(s"[plandump] unknown query: $n")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(s"plandump: $n")
          val df = fn(spark, dir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), plan)
          println(s"[plandump] wrote $n")
      }
    }
    spark.stop()
  }
}
