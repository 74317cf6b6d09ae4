package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.graftshim.ColumnGlue

/** Bounded per-group top-k — the O(k)-buffer replacement for the
  * `slice(sort_array(collect_list(x)), 1, k)` idiom.
  *
  * The sorted-slice form is value-correct but its aggregation buffer is the
  * WHOLE group: a BM25 query containing one high-df term, a stopword's
  * posting list, a power-law hub's in-edges all accumulate O(group) structs
  * in a single executor buffer before the slice — an OOM at 100 TB, not a
  * plan. This façade routes the same contract through Spark's native
  * `CollectTopK` (the engine's own bounded-priority-queue
  * TypedImperativeAggregate, the kernel behind pandas-on-Spark's
  * nsmallest/nlargest): the buffer holds at most k elements at every stage,
  * and the aggregate is MERGEABLE, so partial (map-side) aggregation applies
  * — each shuffle ships per-partition top-k, never per-group row sets.
  *
  * Determinism: with a child whose ordering is TOTAL within each group
  * (e.g. a struct whose leading fields contain a unique key), the k
  * smallest/largest elements are a set property — independent of row order,
  * partitioning, and heap eviction sequence — and eval returns them fully
  * sorted. Every call site in this repo orders by struct fields that embed
  * the group's unique key, so the driver's hash-compare contract survives
  * the rewrite bit-for-bit. Nulls are skipped, exactly like `collect_list`.
  *
  * A façade, not a reimplementation (the [[ThetaSketch]] rule): Spark
  * already ships the bounded heap; the repo adds only the public Column
  * surface Spark reserves for its pandas layer.
  */
object TopK {

  /** The k SMALLEST values of `c` per group, ascending — element-for-element
    * `slice(sort_array(collect_list(c)), 1, k)` with an O(k) buffer. */
  def topKAsc(c: Column, k: Int): Column = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    ColumnGlue.column(
      new CollectTopK(ColumnGlue.expression(c), k, true).toAggregateExpression())
  }
}
