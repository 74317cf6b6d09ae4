package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

import graft.operators.Loops

/** A table function whose operator runs a driver-side loop (PageRank, the
  * graph fixpoints, classifier training). Resolving the call builds only
  * this leaf: a static `output` derived from the input tables' schemas and
  * a closure that runs the loop. Nothing runs until the query executes, so
  * EXPLAIN, a schema probe or a query that fails analysis later launches no
  * job. Its size is unknown, so no join broadcasts it on a guess. */
case class IterativeOp(name: String, output: Seq[Attribute], run: () => DataFrame)
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): IterativeOp = copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = Statistics(sizeInBytes = conf.defaultSizeInBytes)
  override protected def stringArgs: Iterator[Any] = Iterator(name, output)
}

object IterativeOp {
  def apply(name: String, schema: StructType)(run: => DataFrame): IterativeOp =
    IterativeOp(name, DataTypeUtils.toAttributes(schema), () => run)
}

/** Runs an [[IterativeOp]]'s loop when the query executes, under the
  * query's SQL execution id, with `tvf:<name>` as the loop jobs'
  * description, and with `scope`, the [[Loops.scope]] of the thread that
  * planned the query, as the owner of the loop's checkpoints (a subquery or
  * a broadcast runs this leaf on another thread). The rows are the loop
  * result's, projected by name onto the declared output and cast where a
  * type differs. */
case class IterativeOpExec(
    name: String,
    output: Seq[Attribute],
    run: () => DataFrame,
    scope: Option[Loops.Scope]) extends LeafExecNode {

  override protected def stringArgs: Iterator[Any] = Iterator(name, output)

  // the loop's rows and the scope that owns their checkpoints: reused while
  // that scope is open, so a second execute() of this node never reruns
  // the loop; after the scope released them, the loop runs again unscoped
  @transient private var memo: Option[(RDD[InternalRow], Option[Loops.Scope])] = None

  override protected def doExecute(): RDD[InternalRow] = synchronized {
    memo match {
      case Some((rows, owner)) if owner.forall(_.isOpen) => rows
      case _ =>
        val owner = scope.filter(_.isOpen)
        val rows = runLoop(owner)
        memo = Some((rows, owner))
        rows
    }
  }

  private def runLoop(owner: Option[Loops.Scope]): RDD[InternalRow] = {
    val sc = sparkContext
    val description = sc.getLocalProperty(IterativeOpExec.JobDescription)
    sc.setJobDescription(s"tvf:$name")
    try Loops.within(owner) {
      val out = run()
      out.select(output.map { a =>
        val c = out.col(s"`${a.name}`")
        (if (out.schema(a.name).dataType == a.dataType) c else c.cast(a.dataType)).as(a.name)
      }: _*).queryExecution.toRdd
    } finally sc.setLocalProperty(IterativeOpExec.JobDescription, description)
  }
}

object IterativeOpExec {
  /** The local property `SparkContext.setJobDescription` sets. */
  private val JobDescription = "spark.job.description"
}

/** Plans every [[IterativeOp]] as an [[IterativeOpExec]]. */
object IterativeOpStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IterativeOp(name, output, run) =>
      IterativeOpExec(name, output, run, Loops.currentScope) :: Nil
    case _ => Nil
  }
}
