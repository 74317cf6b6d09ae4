package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration damped PageRank (Page, Brin, Motwani, Winograd 1999) over
  * a weighted edge list — the crawl-graph quality signal: Common Crawl ranks
  * hosts with exactly this family (harmonic centrality / PageRank over the
  * host link graph), and production corpus curation uses the rank as a
  * document-quality prior. The operator is graph-generic: (src, dst, w)
  * edges in, (node, rank) out.
  *
  * Semantics per iteration (weighted, dangling-aware):
  *   rank'(v) = (1-d)/N + d·(danglingMass/N) + d·Σ_{(u,v,w)∈E} rank(u)·w/outW(u)
  * with uniform 1/N init; the dangling mass (rank parked on nodes with no
  * out-edges) redistributes uniformly, so Σ rank = 1 is invariant. Edges
  * with non-positive weight are rejected up front: a w ≤ 0 edge could zero a
  * source's total out-weight and turn rank·w/outW into NaN/∞ that silently
  * poisons every downstream rank — a contract violation, not a data point.
  *
  * TWO AGGREGATION MODES, same semantics:
  *
  *  - `deterministic = true` (the oracle/test contract): per-node
  *    in-contributions fold in SORTED source order (Spark
  *    `aggregate(array_sort(collect_list))`, DuckDB `list(... ORDER BY
  *    src)`); the dangling mass folds in sorted node order. Every float op
  *    is +,·,/ — exact correctly-rounded IEEE — so identical fold ORDER
  *    gives bit-identical doubles and the driver's hash-compare matches
  *    bit-for-bit. The cost of that guarantee is an aggregation buffer
  *    bounded by the hottest in-degree (per-dst fold) and by |dangling|
  *    (dangling fold) — fine at test scale, NOT the shape for a power-law
  *    crawl graph where dangling pages are a large fraction and hub
  *    in-degrees are unbounded.
  *  - `deterministic = false` (the production/scale mode): both folds are
  *    plain `sum()` — partial-aggregable (map-side combined), O(1) buffer
  *    per group at every stage, no single-task accumulation anywhere. The
  *    trade is ulp-level addition-order noise (~1e-16 relative per fold
  *    step); ranks match the deterministic mode to well under 1e-9
  *    (spec-asserted), which is noise against PageRank's own iteration
  *    convergence error.
  *
  * Scale shape (the 100 TB contract): each iteration is ONE edge×rank
  * equi-join on src (ranks is a node-sized frame — broadcastable for any
  * real graph's node/edge ratio, else shuffle-on-src matches the edge
  * layout) plus ONE dst-keyed rollup — the alternating-join pattern the
  * log-rounds CC already pins. outW is computed once, never per iteration.
  * `ranks` is eagerly `localCheckpoint`ed every `checkpointEvery` rounds —
  * default EVERY round, the log-rounds-CC posture, because each iteration
  * references `ranks` twice (contributions + dangling) and a lazy chain
  * re-executes prior iterations exponentially (measured: iters=3 ran the
  * first iteration's joins 4×). The per-round frame is node-sized, so the
  * cut is cheap; deep runs also keep a constant-size plan. The
  * edge/node/outW caches are released once the final ranks are
  * materialized.
  */
object PageRank {

  /** `edges`: (src: long, dst: long, w: long, w > 0). Returns (node, rank)
    * for every node appearing as src or dst.
    *
    * EAGER: the call runs the full iteration before returning (every round
    * is `localCheckpoint(true)`-materialized — see the re-execution note in
    * the loop), so the returned frame is a node-sized checkpoint scan, not a
    * lazy plan. Callers that EXPLAIN the result see only that scan;
    * the per-iteration join shape is asserted directly in GraphSearchSpec
    * ("per-iteration plan shape") on the plan the final checkpoint
    * executes, which is why registered-query plan sweeps don't need to see
    * it. */
  def run(
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      deterministic: Boolean = true,
      checkpointEvery: Int = 1): DataFrame =
    impl(edges, iters, damping, deterministic, checkpointEvery)

  /** INCREMENTAL MAINTENANCE form: [[run]] warm-started from a previous
    * rank vector — the daily-refresh policy a production crawl rank runs
    * (Desikan et al. WWW'05 family): after a graph delta, iterate from
    * YESTERDAY'S ranks instead of uniform, because the fixpoint moves
    * little and a warm start closes most of the gap in a fraction of the
    * iterations (spec-asserted: warm-k lands closer to the new fixpoint
    * than cold-k). Nodes the delta introduced start at the uniform share
    * 1/N; carried mass is NOT renormalized — the iteration maps total
    * mass m → (1−d) + d·m, so any warm-start mass error contracts
    * geometrically (the documented contract, which also keeps the
    * arithmetic a pure function of (edges, prev) that a layered SQL oracle
    * can replay). Same modes, checkpointing, and eagerness as [[run]]. */
  def runFrom(
      edges: DataFrame,
      prevRanks: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      deterministic: Boolean = false,
      checkpointEvery: Int = 1): DataFrame =
    impl(edges, iters, damping, deterministic, checkpointEvery,
      init = Some(prevRanks.select(col("node"), col("rank"))))

  /** PERSONALIZED PageRank (the TrustRank family — Gyöngyi et al. VLDB'04):
    * the teleport distribution is uniform over `seeds` instead of over all
    * nodes, so rank mass flows OUTWARD from a trusted/topical seed set —
    * the seed-set quality-propagation prior beside [[graft.operators.Bfs]]'
    * hop distances:
    *   rank'(v) = (1−d)·p(v) + d·danglingMass·p(v) + d·Σ rank(u)·w/outW(u)
    * with p uniform over seeds∩nodes, init rank = p. Mass conservation and
    * both aggregation modes carry over unchanged; nodes unreachable from
    * the seed set converge to rank 0 (the personalization point). Seeds
    * outside the graph are ignored; an empty effective seed set is
    * rejected loudly. EAGER like [[run]]. */
  def runPersonalized(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      deterministic: Boolean = false,
      checkpointEvery: Int = 1): DataFrame =
    impl(edges, iters, damping, deterministic, checkpointEvery,
      teleport = Some(seeds))

  private def impl(
      edges: DataFrame,
      iters: Int,
      damping: Double,
      deterministic: Boolean,
      checkpointEvery: Int,
      teleport: Option[DataFrame] = None,
      init: Option[DataFrame] = None): DataFrame = {
    require(teleport.isEmpty || init.isEmpty,
      "warm-start init and personalized teleport cannot combine: the " +
        "personalized init IS the teleport vector")
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1) (got $damping)")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1 (got $checkpointEvery)")
    // fail-fast on w <= 0 OR NULL (the P8 contextual-raise idiom): a silent
    // filter would change outW and every downstream rank without a trace.
    // Each cast rides coalesce(.., "NULL") — without it a NULL weight would
    // NULL the whole concat and raise_error would lose the promised
    // edge/weight diagnostic (`when(col > 0)` is false for NULL, so the
    // raise branch IS the NULL path).
    def diag(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("string"), lit("NULL"))
    // cached for the whole run; released once the final ranks materialize
    val e = edges.select(col("src"), col("dst"),
      when(col("w") > 0, col("w")).otherwise(raise_error(concat(
        lit("PageRank: edge weight must be > 0 (w <= 0 would NaN-poison ranks); got "),
        diag(col("w")), lit(" on edge "),
        diag(col("src")), lit(" -> "), diag(col("dst")))))
        .as("w")).persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    val outW = e.groupBy("src").agg(sum("w").as("ow")).persist()
    val nRow = nodes.agg(count(lit(1)).as("__n"))
    val nD = col("__n").cast("double")

    // sorted fold (bit-deterministic, buffer = group size) vs plain sum
    // (partial-aggregable, O(1) buffer) — see the mode contract above
    def fold(payload: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
      if (deterministic)
        aggregate(array_sort(collect_list(payload)), lit(0.0),
          (acc, x) => acc + x.getField("__v"))
      else coalesce(sum(value), lit(0.0))

    // personalized teleport: p(v) = 1/|seeds ∩ nodes| on seeds, 0 elsewhere.
    // Node-sized, checkpointed once (referenced twice per round). The
    // uniform path below keeps its ORIGINAL float expressions untouched —
    // the q140 oracle hashes bit-for-bit against exactly those ops.
    val pFrame: Option[DataFrame] = teleport.map { seeds =>
      val s = nodes.join(seeds.select(col("node")).distinct(), Seq("node"), "left_semi")
      val sn = s.count()
      require(sn > 0,
        "personalized PageRank needs at least one seed present in the graph")
      Loops.checkpoint(nodes
        .join(s.withColumn("__isSeed", lit(true)), Seq("node"), "left")
        .select(col("node"),
          when(col("__isSeed"), lit(1.0 / sn)).otherwise(lit(0.0)).as("__p")),
        eager = true)
    }

    var ranks = (pFrame, init) match {
      case (Some(p), _) => p.select(col("node"), col("__p").as("rank"))
      // warm start: carried ranks for nodes that existed, the uniform share
      // for nodes the delta introduced; NO renormalization — the iteration
      // maps total mass m -> (1-d) + d·m, so any warm mass contracts to 1
      // geometrically (the documented maintenance contract)
      case (None, Some(prev)) => nodes
        .join(prev.select(col("node"), col("rank").as("__init")), Seq("node"), "left")
        .crossJoin(broadcast(nRow))
        .select(col("node"),
          coalesce(col("__init"), lit(1.0) / nD).as("rank"))
      case (None, None) => nodes.crossJoin(broadcast(nRow))
        .select(col("node"), (lit(1.0) / nD).as("rank"))
    }

    var i = 1
    // the last two in-loop checkpoints (r18b: lazy rounds defer each free
    // one more generation — see the loop comment); rounds otherwise pile
    // up in the block manager for the session (r18)
    var lastCkpt: DataFrame = null
    var prevCkpt: DataFrame = null
    while (i <= iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outW, Seq("src"))
        .select(col("dst").as("node"), col("src"),
          ((col("rank") * col("w").cast("double")) / col("ow").cast("double")).as("__c"))
        .groupBy("node")
        .agg(fold(struct(col("src"), col("__c").as("__v")), col("__c")).as("__s"))
      val dangling = ranks
        .join(outW.withColumnRenamed("src", "node"), Seq("node"), "left_anti")
        .agg(fold(struct(col("node"), col("rank").as("__v")), col("rank")).as("__dm"))
      val next = pFrame match {
        case Some(p) => p
          .join(contribs, Seq("node"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("node"),
            (((lit(1.0) - lit(damping)) * col("__p")) +
              ((lit(damping) * col("__dm")) * col("__p")) +
              (lit(damping) * coalesce(col("__s"), lit(0.0)))).as("rank"))
        case None => nodes
          .join(contribs, Seq("node"), "left")
          .crossJoin(broadcast(dangling))
          .crossJoin(broadcast(nRow))
          .select(col("node"),
            (((lit(1.0) - lit(damping)) / nD) +
              (lit(damping) * (col("__dm") / nD)) +
              (lit(damping) * coalesce(col("__s"), lit(0.0)))).as("rank"))
      }
      // checkpoint EVERY round (the log-rounds CC posture, same reason):
      // each iteration references `ranks` TWICE (contributions + dangling),
      // so an UNcheckpointed chain re-executes prior iterations
      // exponentially — at iters=3 the first iteration's joins run 4×. The
      // frame is node-sized (the broadcastable side). r18b: the checkpoint
      // is LAZY — once persisted (at the next round's stage build) both
      // references read the same blocks, so the
      // double-reference argument is unaffected while the eager count job
      // per round disappears; frees defer one generation (storage rule 2
      // in [[Loops]]). `checkpointEvery` can stretch the cadence for
      // callers who prefer re-execution over materialization (it also
      // still truncates lineage for deep runs).
      val newCkpt =
        if (i % checkpointEvery == 0 && i < iters)
          Some(Loops.checkpoint(next, eager = false))
        else None
      newCkpt.foreach { r =>
        // round i−1 materialized while this round's stages built — its
        // parent, round i−2, is now provably dead
        if (prevCkpt != null) Loops.free(prevCkpt)
        prevCkpt = lastCkpt
        lastCkpt = r
      }
      ranks = newCkpt.getOrElse(next)
      i += 1
    }
    val result = Loops.checkpoint(ranks, eager = true)
    e.unpersist(); nodes.unpersist(); outW.unpersist()
    result
  }
}
