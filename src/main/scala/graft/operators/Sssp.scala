package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source WEIGHTED shortest path over an edge list — min-plus
  * relaxation (distributed Bellman–Ford), the link-graph primitive next to
  * [[Bfs]]'s hop distances: (node, dist) for every node reachable from a
  * source set, `dist` = minimum total edge weight. The crawl/link-graph
  * uses: trust decay over weighted links (edge weight = hop cost / inverse
  * link strength), cheapest-path blast radius, and weighted seed-distance
  * labeling where [[Bfs.distances]]' unit hops are too coarse — a
  * cheaper-but-longer path must beat a shorter-hop expensive one, which is
  * exactly what min-plus computes and BFS cannot.
  *
  * Scale shape: frontier relaxation, one round per improvement wave — each
  * round is ONE frontier×edges equi-join on src, a `min(dist)` rollup per
  * reached node, and a keyed improvement check against the standing
  * distances (all keyed shuffles, never all-pairs; parallel edges collapse
  * inside the same rollup at no extra pass). Rounds are bounded by the
  * longest shortest-PATH hop count — ≤ |V|−1 in theory, small for
  * small-world link graphs — and hard-capped by `maxRounds`. The distance
  * and frontier frames are node-sized; both materialize per round
  * (`localCheckpoint`, the [[PageRank]]/[[Bfs]] re-execution argument), and
  * the loop stops EAGERLY the first round that improves nothing — the
  * convergence test [[PageRank.runConverged]] uses. Weights are exact
  * non-negative LONGS end-to-end (min-plus on negative weights never
  * terminates — rejected up front), so distances are engine-exact and
  * DuckDB-oracle-able by an unrolled Bellman–Ford layer chain (q172).
  */
object Sssp {

  /** `edges`: (src: long, dst: long, w: long ≥ 0) directed; parallel edges
    * are fine (the cheapest wins inside the per-round rollup). `sources`:
    * (node: long). Returns (node, dist: long) for every node reachable from
    * any source within `maxRounds` relaxation waves (sources themselves at
    * dist 0, whether or not they appear in the edge list).
    *
    * Convergence is LOUD (the [[Truss]]/[[Scc]] contract — never a silent
    * partial answer): if the fixpoint is not reached within `maxRounds`,
    * the call raises instead of returning non-minimal/missing distances.
    * Callers that genuinely want the truncated wavefront (e.g. "at most N
    * relaxation waves" blast-radius caps) opt out with
    * `allowPartial = true`. */
  def distances(
      edges: DataFrame,
      sources: DataFrame,
      maxRounds: Int = 100,
      allowPartial: Boolean = false): DataFrame =
    distancesWithRounds(edges, sources, maxRounds, allowPartial)._1

  /** [[distances]] plus the number of relaxation rounds actually run —
    * callers pinning an unrolled fixed-depth oracle (q172) assert the
    * returned count against their unroll depth. Same loud-convergence
    * contract as [[distances]]: `maxRounds = 0` never proves the fixpoint,
    * so it requires `allowPartial = true`. */
  def distancesWithRounds(
      edges: DataFrame,
      sources: DataFrame,
      maxRounds: Int = 100,
      allowPartial: Boolean = false): (DataFrame, Int) = {
    require(maxRounds >= 0, s"maxRounds must be >= 0 (got $maxRounds)")
    val e = edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .distinct()
      .persist()
    // the try/finally guarantees the persisted edge frame is released on
    // EVERY exit path — including the fail-fast raise below and any executor
    // failure mid-loop (a leaked cache would pin executor memory for the
    // rest of the session)
    try {
      // fail fast BEFORE the rounds: a single negative weight makes min-plus
      // diverge around any cycle it touches — a wrong answer after maxRounds,
      // not an error, unless rejected here (one bounded probe on the
      // persisted edge frame the loop reuses). The diagnostic renders ids
      // via Row.get/toString: src/dst may be int-typed, and a getLong there
      // would throw ClassCastException INSIDE the error message.
      val neg = e.filter(col("w") < 0).limit(1).collect()
      if (neg.nonEmpty) throw new IllegalArgumentException(
        s"edge (${neg(0).get(0)} -> ${neg(0).get(1)}) has negative weight" +
          " — min-plus shortest path requires w >= 0")
      var dist = Loops.checkpoint(sources.select(col("node")).distinct()
        .withColumn("dist", lit(0L)), eager = false)
      // lazy merges defer the superseded round's free one generation (storage
      // rule 2 in [[Loops]], r18b): merged_r materializes inside round
      // r+1's wave job, so only then is dist_{r−1} provably dead
      var distPrev: DataFrame = null
      var frontier = dist
      var round = 0
      var done = maxRounds == 0
      var converged = false
      while (!done) {
        round += 1
        // one job: the wave's checkpoint IS its emptiness check (r18) —
        // and the job that materializes the previous round's lazy merge
        val improved = Loops.checkpoint(frontier
          .join(e.withColumnRenamed("src", "node"), Seq("node"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
          .groupBy("node").agg(min("dist").as("dist"))
          .join(dist.select(col("node"), col("dist").as("__old")),
            Seq("node"), "left_outer")
          .filter(col("__old").isNull || col("dist") < col("__old"))
          .select("node", "dist"), eager = false)
        val nImp = Loops.matCount(improved)
        // the previous merge is materialized now — its parent is dead
        if (distPrev != null) { Loops.free(distPrev); distPrev = null }
        if (nImp == 0L) { converged = true; done = true }
        else if (round >= maxRounds) done = true
        // the converged round improved nothing — merging the empty frame
        // would only copy `dist` (r18: skip the dead merge + checkpoint)
        if (!converged) {
          val mergedPlan = dist.unionByName(improved)
            .groupBy("node").agg(min("dist").as("dist"))
          // the LAST merge is eager, so its parent is freed at once;
          // in-loop merges are lazy
          val merged = Loops.checkpoint(mergedPlan, eager = done)
          if (done) Loops.free(dist) else distPrev = dist
          dist = merged
        }
        // round 1's frontier is the seed frame `dist` started as
        if (round > 1) Loops.free(frontier)
        frontier = improved
      }
      require(converged || allowPartial,
        s"min-plus relaxation did not converge within maxRounds=$maxRounds —" +
          " the distances would be a silent partial answer (missing nodes or" +
          " non-minimal costs); raise maxRounds, or pass allowPartial=true" +
          " to accept the truncated wavefront")
      (dist, round)
    } finally e.unpersist()
  }
}
