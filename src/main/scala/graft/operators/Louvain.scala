package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ONE-LEVEL LOUVAIN community detection (Blondel et al. 2008, the local
  * move phase) — the modularity-OPTIMIZING member of the community shelf:
  * [[LabelProp]] finds majority basins with no quality objective,
  * [[GraphStats.modularity]] scores a partition after the fact; this
  * operator moves nodes to greedily INCREASE that exact score, so the
  * detector is finally gated by the evaluator (a Louvain partition's Q
  * beats LPA's on the same graph, and the spec pins that).
  *
  * SEMANTICS — deterministic synchronous sweeps, fixed count, on an
  * ALTERNATING-PARITY schedule: every node starts in its own singleton
  * community; sweep i lets only nodes with id ≡ i (mod 2) evaluate
  * moving to each NEIGHBOR community using the PREVIOUS sweep's labeling
  * (the other half holds), and a mover moves iff the best move strictly
  * beats staying. The parity schedule is the two-class instance of the
  * independent-set scheduling parallel Louvain uses (Lu, Halappanavar &
  * Kalyanaraman 2015's coloring idea): fully synchronous moves let two
  * symmetric nodes SWAP communities every sweep forever (each sees the
  * other's community as strictly better while both vacate), while with
  * half the nodes frozen a mover's target is stable and swap cycles
  * break — the two-triangles-plus-bridge spec fixture converges to the
  * ideal partition in 4 half-sweeps. The modularity gain of node i
  * (degree d_i) joining community c, scaled by 4m² to stay in exact
  * longs (the [[GraphStats.modularity]] integer form):
  *
  *   score(c) = 4m·k_{i,c} − 2·d_i·(Σd_c − [c = a]·d_i)
  *
  * with k_{i,c} = edges from i into c, Σd_c = c's total degree mass
  * (previous labeling), a = i's current community (i's own degree leaves
  * a before comparing — the standard Louvain remove-then-gain). Classic
  * Louvain is sequential and visit-order dependent; this variant pins
  * the schedule (parity half-sweeps, synchronous within a sweep) and
  * every tie (movers pick (score DESC, label ASC); a move must beat
  * staying STRICTLY), making the result a pure function of
  * (graph, sweeps) — replayable by an unrolled engine-independent oracle
  * exactly like [[LabelProp]]'s (the q182 fixed-round precedent;
  * fixed sweeps ARE the registered semantics, not a stopped fixpoint).
  * All scores are exact longs — overflow-free while
  * 4·m·max(k_{i,c}, d_i·Σd_c/2m) < 2⁶³, far past any graph whose labels
  * fit a long (the [[GraphStats.modularity]] documented-bound
  * discipline).
  *
  * Scale shape per sweep: one edge-frame join propagating neighbor labels
  * (the LPA vote join) + one (node, label) rollup for k_{i,c}, one
  * node-sized rollup for Σd_c, one partial-aggregable max(struct) argmax
  * (the q168 no-window pattern), and one node-keyed merge — all keyed
  * equi-joins/rollups, never all-pairs; labels materialize per sweep
  * (`localCheckpoint`, the [[PageRank]]/[[Bfs]] lineage argument). */
object Louvain {

  /** `edges`: (src, dst) directed or undirected; duplicates/self-loops
    * tolerated (canonical undirected edges; self-loops dropped — a node
    * cannot vote itself into a community). Returns (node, label) after
    * exactly `sweeps` synchronous greedy-move sweeps; labels are node
    * ids (the seed singleton that anchored the community). Node ids must
    * be non-negative (the argmax negates labels — the [[LabelProp]]
    * contract). */
  def communities(edges: DataFrame, sweeps: Int): DataFrame =
    communitiesFrom(edges, None, sweeps)

  /** WARM-START local moves — the maintenance-family pattern
    * ([[PageRank.runFrom]], `KCore.maintain`) applied to the community
    * shelf: run `sweeps` greedy half-sweeps on TODAY'S graph with the
    * labeling seeded from `oldLabels` (yesterday's converged partition)
    * instead of singletons. The daily-refresh economics: from singletons
    * the optimizer spends its first sweeps rebuilding yesterday's basins
    * from scratch; seeded, the same sweep budget goes entirely to
    * absorbing the delta — so with a SMALL budget warm beats cold (the
    * registered row's spec pins Q(warm) ≥ Q(cold) at the refresh budget
    * on the real graph). `oldLabels` may be stale, partial, or cover
    * vanished nodes: today's nodes missing from it seed as singletons,
    * labels of vanished nodes are just community names (never
    * dereferenced), so soundness never depends on the seed — only the
    * sweep budget's effectiveness does (the `KCore.maintain` oldCore
    * contract). The parity schedule restarts at sweep 1. Labels must be
    * non-negative longs (the argmax negation contract). Deterministic:
    * a pure function of (graph, seed labeling, sweeps) — the oracle
    * replays yesterday's chain, the hand-off coalesce, and today's
    * seeded sweeps as one CTE chain (the q199 two-phase precedent). */
  def communitiesFrom(edges: DataFrame, oldLabels: Option[DataFrame],
                      sweeps: Int): DataFrame = {
    require(sweeps >= 0, s"sweeps must be >= 0 (got $sweeps)")
    // one job: the canonical frame's checkpoint IS the m count (r18);
    // never freed — the persisted adj recomputes through it on eviction
    val und = Loops.checkpoint(edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = false)
    communitiesFromCanon(und, Loops.matCount(und), oldLabels, sweeps)
  }

  /** [[communitiesFrom]] over an ALREADY canonical (u < v, distinct,
    * self-loop-free), ALREADY materialized edge frame with its row count —
    * the r18b cross-operator factoring ([[twoLevel]] holds exactly that
    * frame; the public entry's re-canonicalization was a full distinct
    * shuffle + checkpoint of an unchanged frame). */
  private[graft] def communitiesFromCanon(
      und: DataFrame, m: Long, oldLabels: Option[DataFrame],
      sweeps: Int): DataFrame = {
    require(sweeps >= 0, s"sweeps must be >= 0 (got $sweeps)")
    require(m > 0L,
      "louvain needs at least one (non-self-loop) edge — modularity of " +
        "an empty graph is undefined (the GraphStats.modularity contract)")
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(und.select(col("v").as("node"), col("u").as("nbr")))
      .persist()
    // consumed every sweep — lazy, materializes in sweep 1 (r18b)
    val deg = Loops.checkpoint(
      adj.groupBy("node").agg(count(lit(1)).as("deg")), eager = false)
    val nodes = adj.select(col("node")).distinct()
    var labels = Loops.checkpoint(oldLabels match {
      case None => nodes.withColumn("label", col("node"))
      case Some(old) => nodes
        .join(old.select(col("node"), col("label").as("__ol")).distinct(),
          Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("__ol"), col("node")).as("label"))
    }, eager = false)
    // lazy sweeps defer each free ONE MORE generation (storage rule 2 in
    // [[Loops]]): sweep i−1 materializes while sweep i's checkpoint builds
    // its stages, so only the GRANDPARENT is provably dead per sweep (r18b)
    var labelsPrev: DataFrame = null
    for (i <- 1 to sweeps) {
      // r17 sweep shape: ONE scored frame, ONE final rollup. The previous
      // form built best/stay from separately re-joined kic/commDeg/cur
      // subtrees (the k_{i,c} rollup and the community-mass rollup each
      // executed twice per sweep); here every per-(node, neighbor-
      // community) row carries the mover's (label, deg, own Σd) and the
      // target's Σd, and a single groupBy(node) extracts BOTH the best
      // move (max struct, ties (score↓, label↑) — unchanged) and k_{i,a}
      // for the stay score (max of the own-community row; NULL ⇒ 0,
      // exactly the old left-outer join). 3 exchanges per sweep where
      // the old shape paid 6+.
      val cur = labels.join(deg, Seq("node")) // (node, label, deg)
      val commDeg = cur.groupBy("label").agg(sum(col("deg")).as("__dsum"))
      val curX = cur.join(commDeg, Seq("label"))
      // k_{i,c}: one vote per edge into each neighbor community
      val scored = adj
        .join(labels.select(col("node").as("nbr"), col("label").as("clab")),
          Seq("nbr"))
        .groupBy("node", "clab").agg(count(lit(1)).as("__kic"))
        .join(curX, Seq("node"))
        .join(commDeg.select(col("label").as("clab"),
          col("__dsum").as("__cdsum")), Seq("clab"))
      // only this sweep's parity class may move (the swap-cycle breaker);
      // a mover must beat staying STRICTLY (NULL best ⇒ no candidate ⇒
      // stay — the old left-outer NULL semantics)
      val sweepPlan = scored
        .groupBy(col("node"), col("label"), col("deg"), col("__dsum"))
        .agg(
          max(when(col("clab") =!= col("label"),
            struct((lit(4L * m) * col("__kic") -
              lit(2L) * col("deg") * col("__cdsum")).as("__score"),
              (-col("clab")).as("__neg")))).as("__b"),
          max(when(col("clab") === col("label"), col("__kic"))).as("__kia"))
        .select(col("node"),
          when(pmod(col("node"), lit(2)) === lit(i % 2) &&
            col("__b").getField("__score") >
              (lit(4L * m) * coalesce(col("__kia"), lit(0L)) -
                lit(2L) * col("deg") * (col("__dsum") - col("deg"))),
            -col("__b").getField("__neg"))
            .otherwise(col("label")).as("label"))
      // intermediate sweeps LAZY (the next sweep's checkpoint materializes
      // them while building its stages); the FINAL sweep eager, so every
      // parent is settled before adj unpersists and the caller reads (r18b)
      val next = Loops.checkpoint(sweepPlan, eager = i == sweeps)
      if (labelsPrev != null) Loops.free(labelsPrev) // grandparent: dead
      labelsPrev = labels
      labels = next
    }
    adj.unpersist()
    labels
  }

  /** LEIDEN-STYLE CONNECTIVITY REFINEMENT (Traag, Waltman & van Eck
    * 2019's central guarantee, as a partition-repair pass): split every
    * community of `labels` into the CONNECTED COMPONENTS of its induced
    * subgraph. One-level Louvain (and LPA, and any merge-based detector)
    * can leave a community internally DISCONNECTED — two dense pockets
    * glued by a vanished bridge node — and Traag et al. show that state
    * is not just ugly but suboptimal: splitting a disconnected community
    * into its components NEVER lowers modularity (the edge term is
    * unchanged — disconnected parts share no edges — while the degree
    * penalty (Σd)² becomes Σd², strictly smaller with ≥ 2 non-empty
    * parts), so refinement is a pure quality repair. The spec pins both
    * halves: every refined community is connected, and Q(refined) ≥
    * Q(input) under the exact [[GraphStats.modularity]] evaluator.
    *
    * SEMANTICS: refined id = min node id of the component (pinned, like
    * [[communities]]' seed anchors); a labeled node with no intra-
    * community edge keeps a singleton (itself). Deterministic end to
    * end, so an oracle replays it as R unrolled min-label propagation
    * layers over the intra-community adjacency — use [[refineWithRounds]]
    * and require the converged round count fits the unroll (the q176
    * fixed-unroll contract).
    *
    * Scale shape: two label joins to keep intra edges, then one
    * min-propagation rollup per round over the intra adjacency —
    * O(component-diameter) rounds of keyed equi-joins, never all-pairs;
    * layers materialize per round (the [[PageRank]] lineage argument).
    * Deep-diameter components want the pointer-doubling CC instead (the
    * [[graft.operators.Dedup]] log-rounds form) — here rounds are
    * community-diameter-bounded, which the rank-capped affinity graph
    * keeps small by construction. */
  def refine(edges: DataFrame, labels: DataFrame,
             maxRounds: Int = 100): DataFrame =
    refineWithRounds(edges, labels, maxRounds)._1

  /** [[refine]] plus the converged round count (final no-op round
    * included) for oracle unroll pinning. */
  def refineWithRounds(edges: DataFrame, labels: DataFrame,
                       maxRounds: Int = 100): (DataFrame, Int) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    // one-off frames, never freed: LAZY checkpoints (r18b)
    val lab = Loops.checkpoint(
      labels.select(col("node"), col("label")).distinct(), eager = false)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // intra-community adjacency: both endpoints labeled, labels equal
    val intra = und
      .join(lab.select(col("node").as("u"), col("label").as("__lu")),
        Seq("u"))
      .join(lab.select(col("node").as("v"), col("label").as("__lv")),
        Seq("v"))
      .filter(col("__lu") === col("__lv"))
      .select("u", "v")
    val adj = Loops.checkpoint(
      intra.select(col("u").as("node"), col("v").as("nbr"))
        .unionAll(intra.select(col("v").as("node"), col("u").as("nbr"))),
      eager = false)
    // round 1's counted checkpoint materializes it before the round-1 free
    var comp = Loops.checkpoint(
      lab.select(col("node")).withColumn("refined", col("node")), eager = false)
    val moved = col("__moved")
    var rounds = 0
    var done = false
    while (!done) {
      rounds += 1
      require(rounds <= maxRounds,
        s"refine min-propagation exceeded maxRounds=$maxRounds — a " +
          "deeper-diameter community than the unroll admits (raise it, " +
          "or switch to the log-rounds CC)")
      // r17: carry the previous label through the rollup (it is constant
      // per node, so grouping by it changes nothing). r18b: ONE job — the
      // round's lazy checkpoint materializes in the count of its moved
      // rows. The moved test rides as a boolean column so the filter never
      // assumes the node id type (the TVF accepts arbitrary user tables);
      // min over a non-empty group is never null, so the flag is non-null
      val next = Loops.checkpoint(
        comp.join(adj, Seq("node"), "left_outer")
          .join(comp.select(col("node").as("nbr"),
            col("refined").as("__nr")), Seq("nbr"), "left_outer")
          .groupBy(col("node"), col("refined").as("__old"))
          .agg(least(min(col("refined")), min(col("__nr"))).as("refined"))
          .withColumn("__moved", col("refined") =!= col("__old")),
        eager = false)
      if (Loops.matCount(next.where(moved)) == 0L) done = true
      Loops.free(comp) // superseded round released (r18)
      comp = next.select("node", "refined")
    }
    (lab.join(comp, Seq("node")).select("node", "label", "refined"),
      rounds)
  }

  /** WEIGHTED one-level Louvain — [[communities]] generalized to
    * (src, dst, w) integer edge weights, the form every production graph
    * (transition counts, co-occurrence strengths) and every AGGREGATED
    * graph has. Identical schedule and tie contract; the exact-long gain
    * becomes 4m·k_{i,c} − 2·d_i·Σd_c over WEIGHT sums: m = total weight,
    * d_i = i's incident weight, k_{i,c} = weight from i into c.
    *
    * SELF-LOOPS are handled by the aggregation contract instead of
    * dropped: a supernode's internal weight rides a self-loop, which by
    * the standard argument cancels in every gain COMPARISON (it joins
    * e_c of whichever community i is in — identical across choices and
    * vs staying) but must count in the degrees (d_i += 2·w_self, m +=
    * w_self) for aggregated-graph modularity to equal original-graph
    * modularity of the coarsened partition — the identity [[twoLevel]]
    * rests on. Weights must be positive integers (exactness contract);
    * parallel/bidirectional edges merge by weight SUM. */
  def communitiesWeighted(edges: DataFrame, sweeps: Int): DataFrame = {
    require(sweeps >= 0, s"sweeps must be >= 0 (got $sweeps)")
    val canon = edges.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"), col("w"))
    val und = Loops.checkpoint(canon.filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(sum(col("w")).as("w")), eager = true)
    val self = Loops.checkpoint(canon.filter(col("u") === col("v"))
      .groupBy(col("u").as("node")).agg(sum(col("w")).as("__sw")), eager = true)
    val m = und.agg(coalesce(sum(col("w")), lit(0L))).head.getLong(0) +
      self.agg(coalesce(sum(col("__sw")), lit(0L))).head.getLong(0)
    require(m > 0L,
      "weighted louvain needs positive total weight — modularity of an " +
        "empty graph is undefined (the GraphStats.modularity contract)")
    val adj = und.select(col("u").as("node"), col("v").as("nbr"), col("w"))
      .unionAll(und.select(col("v").as("node"), col("u").as("nbr"),
        col("w")))
      .persist()
    val nodes = adj.select("node")
      .unionByName(self.select("node")).distinct()
    val deg = Loops.checkpoint(nodes
      .join(adj.groupBy("node").agg(sum(col("w")).as("__aw")),
        Seq("node"), "left_outer")
      .join(self, Seq("node"), "left_outer")
      .select(col("node"), (coalesce(col("__aw"), lit(0L)) +
        lit(2L) * coalesce(col("__sw"), lit(0L))).as("deg")), eager = true)
    var labels = Loops.checkpoint(deg.select(col("node"))
      .withColumn("label", col("node")), eager = false)
    // lazy sweeps, grandparent frees — see [[communitiesFrom]] (r18b)
    var labelsPrev: DataFrame = null
    for (i <- 1 to sweeps) {
      // r17 sweep shape — see [[communitiesFrom]]: one scored frame, one
      // final rollup extracting best move AND k_{i,a} together
      val cur = labels.join(deg, Seq("node"))
      val commDeg = cur.groupBy("label").agg(sum(col("deg")).as("__dsum"))
      val curX = cur.join(commDeg, Seq("label"))
      val scored = adj
        .join(labels.select(col("node").as("nbr"), col("label").as("clab")),
          Seq("nbr"))
        .groupBy("node", "clab").agg(sum(col("w")).as("__kic"))
        .join(curX, Seq("node"))
        .join(commDeg.select(col("label").as("clab"),
          col("__dsum").as("__cdsum")), Seq("clab"))
      val moved = scored
        .groupBy(col("node"), col("label"), col("deg"), col("__dsum"))
        .agg(
          max(when(col("clab") =!= col("label"),
            struct((lit(4L * m) * col("__kic") -
              lit(2L) * col("deg") * col("__cdsum")).as("__score"),
              (-col("clab")).as("__neg")))).as("__b"),
          max(when(col("clab") === col("label"), col("__kic"))).as("__kia"))
        .select(col("node"),
          when(pmod(col("node"), lit(2)) === lit(i % 2) &&
            col("__b").getField("__score") >
              (lit(4L * m) * coalesce(col("__kia"), lit(0L)) -
                lit(2L) * col("deg") * (col("__dsum") - col("deg"))),
            -col("__b").getField("__neg"))
            .otherwise(col("label")).as("__nl"))
      // a self-loop-only supernode has no adjacency rows (its whole weight
      // is internal) and so no scored rows — it keeps its label, exactly
      // the old no-candidate NULL path
      val sweepPlan = labels.join(moved, Seq("node"), "left_outer")
        .select(col("node"),
          coalesce(col("__nl"), col("label")).as("label"))
      val next = Loops.checkpoint(sweepPlan, eager = i == sweeps)
      if (labelsPrev != null) Loops.free(labelsPrev) // grandparent: dead
      labelsPrev = labels
      labels = next
    }
    adj.unpersist()
    labels
  }

  /** TWO-LEVEL LOUVAIN — the full Blondel et al. pass the one-level
    * operator stops short of: (1) local moves on the input graph
    * ([[communities]], `sweeps1` half-sweeps); (2) AGGREGATE — contract
    * every community to a supernode, inter-community weights summed,
    * intra-community weight kept as supernode self-loops; (3) local
    * moves on the aggregated graph ([[communitiesWeighted]], `sweeps2`
    * half-sweeps — the aggregated graph is inherently weighted); (4) map
    * back (a node's final community = its supernode's level-2 label).
    * Because aggregated-graph modularity with self-loop degrees EQUALS
    * original-graph modularity of the coarsened partition, every
    * accepted level-2 move strictly raises the original Q — the spec
    * pins Q(two-level) ≥ Q(one-level) on the exact evaluator. The
    * aggregation is the scale step: level 2 runs on the COMMUNITY graph
    * (thousands of supernodes where the input had billions of nodes), so
    * the deep sweeps are nearly free — the reason production Louvain is
    * multi-level at all. Deterministic end to end; an oracle replays
    * level 1, the aggregation rollup, and level 2 as one CTE chain. */
  def twoLevel(edges: DataFrame, sweeps1: Int, sweeps2: Int): DataFrame = {
    // r17: canonicalize ONCE — level 1 and the aggregation step both
    // consumed `edges`, re-deriving the canonical frame (and re-running
    // whatever plan produced `edges`) twice per call. r18b: the checkpoint
    // doubles as level 1's m count, and the canon entry skips the second
    // identical distinct shuffle the public entry paid
    val und = Loops.checkpoint(edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = false)
    val m = Loops.matCount(und)
    // already a materialized checkpoint (the final sweep is eager) — no
    // defensive re-checkpoint needed for its three consumers below (r18b)
    val l1 = communitiesFromCanon(und, m, None, sweeps1)
    val superEdges = und
      .join(l1.select(col("node").as("u"), col("label").as("__lu")),
        Seq("u"))
      .join(l1.select(col("node").as("v"), col("label").as("__lv")),
        Seq("v"))
      .groupBy(least(col("__lu"), col("__lv")).as("src"),
        greatest(col("__lu"), col("__lv")).as("dst"))
      .agg(count(lit(1)).as("w"))
    val l2 = communitiesWeighted(superEdges, sweeps2)
    l1.join(l2.select(col("node").as("__sn"), col("label").as("__l2")),
        col("label") === col("__sn"))
      .select(col("node"), col("__l2").as("label"))
  }
}
