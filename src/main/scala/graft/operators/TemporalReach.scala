package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TIME-RESPECTING REACHABILITY over a temporal edge list (Holme & Saramäki
  * 2012; Wu et al. VLDB'14 "Path Problems in Temporal Graphs"): earliest
  * arrival from a source set where a path may only traverse edges with
  * NON-DECREASING timestamps — information, influence, and contamination
  * flow forward in time, so static reachability ([[Bfs]]) over-reports:
  * an edge that fired BEFORE the infection arrived cannot carry it. The
  * pipeline uses: leaked-document blast radius over a timestamped citation
  * /interaction graph, influence cones in user-session transitions, and
  * incident forensics ("what could this compromised node have touched
  * AFTER t₀?").
  *
  * Semantics: sources start at the sentinel arrival −1 (strictly before
  * every real timestamp — edges with negative timestamps are rejected up
  * front so the sentinel stays exclusive); an edge (u, v, t) relaxes v to
  * arrival t iff arrival(u) ≤ t; the result is each node's MINIMUM
  * achievable arrival — the earliest-arrival fixpoint. Earlier arrivals
  * only ever enable MORE edges, so frontier relaxation is monotone and
  * converges exactly (the [[Sssp]] argument with time replacing cost).
  *
  * Scale shape: identical to [[Sssp]] — per wave ONE frontier×edges
  * equi-join on src (the time gate is a post-join filter on the same keyed
  * shuffle), a `min(arrival)` rollup, and a keyed improvement check;
  * node-sized frames materialized per round, EAGER stop on the first
  * no-improvement wave, `maxRounds` hard cap. Arrivals are exact longs
  * end-to-end — engine-exact, DuckDB-oracle-able by an unrolled relaxation
  * chain (the q172 contract). */
object TemporalReach {

  /** `edges`: (src: long, dst: long, ts: long ≥ 0) directed temporal edges;
    * parallel edges fine (the earliest valid one wins inside the rollup).
    * `sources`: (node: long). Returns (node, arrival: long) for every
    * temporally reachable node — sources themselves at the −1 sentinel.
    *
    * Convergence is LOUD (the [[Truss]]/[[Scc]] contract — never a silent
    * partial answer): if the fixpoint is not reached within `maxRounds`,
    * the call raises instead of returning missing/non-minimal arrivals —
    * the `temporal_reach` SQL TVF exposes `maxRounds`, so a capped run must
    * fail visibly, not hand SQL users a silently truncated blast radius.
    * Callers that genuinely want the truncated wavefront opt out with
    * `allowPartial = true`. */
  def earliestArrival(
      edges: DataFrame,
      sources: DataFrame,
      maxRounds: Int = 100,
      allowPartial: Boolean = false): DataFrame =
    earliestArrivalWithRounds(edges, sources, maxRounds, allowPartial)._1

  /** [[earliestArrival]] plus the number of relaxation rounds actually
    * run — callers pinning an unrolled fixed-depth oracle assert the
    * returned count against their unroll depth (the q172 contract). Same
    * loud-convergence contract as [[earliestArrival]]: `maxRounds = 0`
    * never proves the fixpoint, so it requires `allowPartial = true`. */
  def earliestArrivalWithRounds(
      edges: DataFrame,
      sources: DataFrame,
      maxRounds: Int = 100,
      allowPartial: Boolean = false): (DataFrame, Int) = {
    require(maxRounds >= 0, s"maxRounds must be >= 0 (got $maxRounds)")
    val e = edges
      .select(col("src"), col("dst"), col("ts").cast("long").as("ts"))
      .distinct()
      .persist()
    // try/finally releases the persisted edge frame on EVERY exit path —
    // including the fail-fast raise below (which previously leaked the
    // cache for the rest of the session) and any failure mid-loop
    try {
      // the -1 source sentinel must precede every edge; a negative timestamp
      // would silently break "sources start before everything". The
      // diagnostic renders ids via Row.get/toString: src/dst may be
      // int-typed, and a getLong there would throw ClassCastException
      // INSIDE the error message, masking the real problem.
      val neg = e.filter(col("ts") < 0).limit(1).collect()
      if (neg.nonEmpty) throw new IllegalArgumentException(
        s"edge (${neg(0).get(0)} -> ${neg(0).get(1)}) has a negative" +
          " timestamp — earliest-arrival needs ts >= 0")
      var arr = Loops.checkpoint(sources.select(col("node")).distinct()
        .withColumn("arrival", lit(-1L)), eager = false)
      // lazy merges defer the superseded round's free one generation (storage
      // rule 2 in [[Loops]], r18b) — the [[Sssp]] discipline
      var arrPrev: DataFrame = null
      var frontier = arr
      var round = 0
      var done = maxRounds == 0
      var converged = false
      while (!done) {
        round += 1
        // one job: the wave's checkpoint IS its emptiness check (r18) —
        // and the job that materializes the previous round's lazy merge
        val improved = Loops.checkpoint(frontier
          .join(e.withColumnRenamed("src", "node"), Seq("node"))
          .filter(col("arrival") <= col("ts"))
          .select(col("dst").as("node"), col("ts").as("arrival"))
          .groupBy("node").agg(min("arrival").as("arrival"))
          .join(arr.select(col("node"), col("arrival").as("__old")),
            Seq("node"), "left_outer")
          .filter(col("__old").isNull || col("arrival") < col("__old"))
          .select("node", "arrival"), eager = false)
        val nImp = Loops.matCount(improved)
        // the previous merge is materialized now — its parent is dead
        if (arrPrev != null) { Loops.free(arrPrev); arrPrev = null }
        if (nImp == 0L) { converged = true; done = true }
        else if (round >= maxRounds) done = true
        // the converged round improved nothing — merging the empty frame
        // would only copy `arr` (r18: skip the dead merge + checkpoint)
        if (!converged) {
          val mergedPlan = arr.unionByName(improved)
            .groupBy("node").agg(min("arrival").as("arrival"))
          // the LAST merge is eager, so its parent is freed at once;
          // in-loop merges are lazy
          val merged = Loops.checkpoint(mergedPlan, eager = done)
          if (done) Loops.free(arr) else arrPrev = arr
          arr = merged
        }
        // round 1's frontier is the seed frame `arr` started as
        if (round > 1) Loops.free(frontier)
        frontier = improved
      }
      require(converged || allowPartial,
        s"earliest-arrival relaxation did not converge within maxRounds=" +
          s"$maxRounds — the arrivals would be a silent partial answer" +
          " (missing nodes or non-minimal arrivals); raise maxRounds, or" +
          " pass allowPartial=true to accept the truncated wavefront")
      (arr, round)
    } finally e.unpersist()
  }
}
