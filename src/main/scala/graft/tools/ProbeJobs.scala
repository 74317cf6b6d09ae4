package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftshim.ListenerBusAccess

import graft.Sessions
import graft.queries.Queries

/** Per-query COST-SHAPE probe for the round-17 optimization work: run each
  * named registered query once untimed (codegen/JIT warm-up), then once
  * measured, reporting wall seconds plus the scheduler-level counts that
  * are the scale-honest cost model — Spark jobs launched, stages run,
  * tasks, and shuffle bytes written. A "fast locally" change that does not
  * reduce jobs/stages/shuffle-bytes is a config accident; one that does
  * carries to the cluster (guide §1/§2: count the passes and the bytes,
  * not just the seconds). `compiles` counts the classes Janino compiled in
  * the measured run: the count-first number for a compile-bound change.
  * Before the measured run the probe waits (up to 4 s) for the JIT compiler
  * to go idle, so the warm-up's compile backlog is not timed in `sec`.
  * `SPARK_GRAFT_KNOB=key=value` sets one SQL conf first, to A/B a runtime
  * knob on the same queries. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... [SPARK_GRAFT_KNOB=k=v] \
  *     sbt "runMain graft.tools.ProbeJobs <query> [query ...]"
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(32)
    val spark = Sessions.local(cores = cpus)
    sys.env.get("SPARK_GRAFT_KNOB").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      System.err.println(s"[probejobs] $k=$v")
    }
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffleWrite = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
        shuffleWrite.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })
    // listener events are async: drain the bus before resetting and before
    // reading, so no warm-up event lands in the row and none is missed
    def drain(): Unit = ListenerBusAccess.drain(spark.sparkContext)
    // no JIT compile time added for 250 ms, waiting at most 4 s
    def jitIdle(): Unit = {
      val jit = ManagementFactory.getCompilationMXBean
      var prev = -1L
      var waitedMs = 0
      while (waitedMs < 4000 && jit.getTotalCompilationTime != prev) {
        prev = jit.getTotalCompilationTime
        Thread.sleep(250)
        waitedMs += 250
      }
    }
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    println(f"${"query"}%-28s ${"sec"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"shufMB"}%8s ${"compiles"}%8s")
    args.foreach { n =>
      Queries.all.get(n) match {
        case None => System.err.println(s"[probejobs] unknown query: $n")
        case Some(fn) =>
          fn(spark, dir).queryExecution.toRdd.count() // warm-up, untimed
          drain()
          jitIdle()
          jobs.set(0); stages.set(0); tasks.set(0); shuffleWrite.set(0)
          val compiles0 = compiled()
          val t0 = System.nanoTime()
          fn(spark, dir).queryExecution.toRdd.count()
          val sec = (System.nanoTime() - t0) / 1e9
          val compiles = compiled() - compiles0
          drain()
          println(f"$n%-28s $sec%8.2f ${jobs.get}%6d ${stages.get}%7d ${tasks.get}%7d ${shuffleWrite.get / 1e6}%8.2f $compiles%8d")
      }
    }
    spark.stop()
  }
}
