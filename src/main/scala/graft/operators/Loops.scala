package graft.operators

import scala.annotation.tailrec
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project,
  Union}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one way the engine reaches checkpoint storage.
  *
  * [[checkpoint]] is `localCheckpoint`: the frame's plan becomes a
  * `LogicalRDD` leaf over a persisted RDD, so every fixpoint round plans in
  * constant size. EAGER runs a count job now; LAZY marks the RDD and lets
  * the frame's first consumer be the materializing job. A loop that counts
  * each round anyway checkpoints lazily and lets [[matCount]] be that job,
  * so the round's checkpoint and its convergence check share ONE job. A
  * lazy frame must be certain to run later; a conditional consumer makes
  * job counts non-deterministic.
  *
  * The storage of a checkpoint is read from its plan (the `LogicalRDD`'s
  * RDD is exactly the persisted one), never by diffing the context's
  * persistent-RDD set, so queries can checkpoint concurrently in one
  * session. Three rules decide when that storage goes:
  *
  *  1. In-loop frees bound a long query: a loop calls [[free]] on the round
  *     frame its new round superseded, so the block manager holds O(1)
  *     rounds, not O(rounds).
  *  2. A lazy successor defers its parent's free by one generation: the
  *     successor reads its parents when it first materializes, and a
  *     lineage-truncated parent freed before that is lost for good.
  *  3. Everything else is released by the entry point's [[scope]] once the
  *     query returns, or, outside any scope, by Spark's ContextCleaner when
  *     the frame is garbage-collected.
  *
  * A freed frame (and every view of it) must never run again.
  *
  * [[matCount]] and [[matIsEmpty]] count the cached rows of a materialized
  * frame with one job, no exchange and no row decode. On a plan with a join
  * or an aggregate, `toRdd` would run that plan without adaptive planning,
  * so both refuse anything but Project, Filter and Union over checkpoints. */
private[graft] object Loops {

  /** The checkpoints made inside one [[scope]] call. Work that runs on
    * another thread for the scope's query records into it through
    * [[within]]; once the scope has returned, it records nothing more. */
  final class Scope private[Loops] {
    private val made = ArrayBuffer.empty[RDD[_]]
    private var closed = false
    def isOpen: Boolean = synchronized(!closed)
    private[Loops] def add(rdd: RDD[_]): Unit = synchronized { if (!closed) made += rdd }
    private[Loops] def close(): Seq[RDD[_]] = synchronized { closed = true; made.toList }
  }

  /** The innermost open scope of this thread. */
  private val open = new ThreadLocal[Scope]

  /** `ds.localCheckpoint(eager)`; recorded by the thread's open scope. */
  def checkpoint[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
    val out = ds.localCheckpoint(eager)
    val s = open.get
    if (s != null) s.add(storage(out.queryExecution.analyzed, "checkpoint"))
    out
  }

  /** Unpersists the checkpoint under `df`, a checkpointed frame or a
    * Project/Filter view of one; throws on any other plan. */
  def free(df: DataFrame): Unit =
    release(storage(df.queryExecution.analyzed, "free"))

  /** Exact row count of a materialized frame as one job over its cached
    * partitions. */
  def matCount(df: DataFrame): Long = {
    requireMaterialized(df, "matCount")
    df.queryExecution.toRdd.count()
  }

  /** Emptiness of a materialized frame as one take(1)-style job. */
  def matIsEmpty(df: DataFrame): Boolean = {
    requireMaterialized(df, "matIsEmpty")
    df.queryExecution.toRdd.isEmpty()
  }

  /** Runs `body`, then unpersists every checkpoint this thread made inside
    * it, and those that threads running [[within]] this scope made.
    * Checkpoints made outside any scope, or on other threads, are left
    * alone. Nested scopes release their own checkpoints. */
  def scope[T](body: => T): T = {
    val s = new Scope
    try within(Some(s))(body)
    finally s.close().foreach(release)
  }

  /** This thread's innermost open scope, for work the thread hands on. */
  def currentScope: Option[Scope] = Option(open.get)

  /** Runs `body` with `s` as this thread's innermost scope (`None`: no
    * scope, so ContextCleaner releases what it checkpoints). */
  def within[T](s: Option[Scope])(body: => T): T = {
    val outer = open.get
    open.set(s.orNull)
    try body
    finally open.set(outer)
  }

  private def release(rdd: RDD[_]): Unit =
    if (rdd.getStorageLevel != StorageLevel.NONE) rdd.unpersist(blocking = false)

  @tailrec private def storage(plan: LogicalPlan, op: String): RDD[_] = plan match {
    case r: LogicalRDD => r.rdd
    case Project(_, child) => storage(child, op)
    case Filter(_, child) => storage(child, op)
    case other => throw new IllegalArgumentException(
      s"Loops.$op needs a checkpointed frame or a Project/Filter view of " +
        s"one; found ${other.nodeName}")
  }

  private def requireMaterialized(df: DataFrame, op: String): Unit = {
    val bad = df.queryExecution.analyzed.find {
      case _: LogicalRDD | _: Project | _: Filter | _: Union => false
      case _ => true
    }
    require(bad.isEmpty,
      s"Loops.$op runs only on materialized frames: Project, Filter and " +
        s"Union over checkpoints (LogicalRDD leaves); found ${bad.get.nodeName}")
  }
}
