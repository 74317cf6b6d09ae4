package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Theta-sketch SET ALGEBRA over distinct keys — a documented façade over
  * Spark 4's NATIVE DataSketches theta functions (`theta_sketch_agg` /
  * `theta_union_agg` / `theta_sketch_estimate` / `theta_intersection` /
  * `theta_union` / `theta_difference`, all SQL-registered out of the box).
  * This module adds no kernel of its own — an earlier revision carried a
  * custom `TypedImperativeAggregate` over datasketches-java, discovered to
  * shadow these built-ins and deleted on the project's own "functions, not
  * reimplementations" rule — it exists to state the CONTRACT the graft
  * operators ([[graft.operators.Overlap]], q123/q124) rely on:
  *
  * Sketches support not just mergeable distinct counting (HLL's territory,
  * [[graft.operators.DistinctRollup]]) but INTERSECTION and difference —
  * "how many users did BOTH A and B" across segments without ever joining
  * the fact table against itself. At 100 TB the exact overlap of two
  * segments is a self-join of the (segment, key) distinct frame — a full
  * shuffle whose output grows with every popular key, re-paid per segment
  * pair; with one bounded sketch per segment (single fact pass, map-side
  * combined), every pairwise overlap/union/difference is KB-scale
  * segment-level arithmetic.
  *
  * Determinism and exactness: a theta sketch retains the k smallest key
  * hashes under a fixed seed. Below ~2^lgK distinct keys it never purges —
  * EXACT mode, where estimates are exactly the distinct count and set
  * operations are exact set arithmetic regardless of row order or
  * partitioning (the regime the oracled q123/q124 run in, spec-asserted).
  * In estimation mode estimates carry the usual ±RSE and a QuickSelect
  * sketch's retained set can depend on update order; treat results there
  * as approximations, the q119 posture.
  */
object ThetaSketch {

  /** Aggregate distinct `c` values into a compact theta sketch (binary).
    * lgK bounds memory and the exact-mode threshold. */
  def thetaSketchAgg(c: Column, lgK: Int = 12): Column = {
    require(lgK >= 4 && lgK <= 26, s"theta lgK must be in [4,26] (got $lgK)")
    theta_sketch_agg(c, lgK)
  }

  /** Distinct-count estimate of a sketch as a long (exact mode ⇒ exactly
    * the distinct count). */
  def thetaEstimate(c: Column): Column = theta_sketch_estimate(c)

  /** Sketch of the intersection A ∩ B. */
  def thetaIntersect(a: Column, b: Column): Column = theta_intersection(a, b)

  /** Sketch of the union A ∪ B (pairwise scalar form). */
  def thetaUnion(a: Column, b: Column): Column = theta_union(a, b)

  /** Sketch of the difference A \ B. */
  def thetaDiff(a: Column, b: Column): Column = theta_difference(a, b)
}
