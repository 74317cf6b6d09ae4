package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BETWEENNESS CENTRALITY by Brandes' dependency accumulation (Brandes
  * 2001, "A faster algorithm for betweenness centrality") — for each node,
  * the sum over pairs (s, t) of the fraction of shortest s–t paths passing
  * through it: the standard bridge/broker detector on the centrality shelf
  * next to [[PageRank]] (flow through links), [[Bfs.harmonicCentrality]]
  * (closeness family), and [[Triangles]] (local density). The crawl/link
  * uses: chokepoint hosts whose removal disconnects communities, broker
  * accounts bridging user clusters, and the "weak tie" edges near-dup
  * clusters leak through.
  *
  * Algorithm, re-expressed as keyed frames: per pivot s, one FORWARD
  * level-synchronous BFS carrying exact path counts σ (σ(s)=1; at level d,
  * σ(v) = Σ σ(u) over level-(d−1) neighbors — one frontier×adjacency
  * equi-join + one (root, node) rollup per level, the
  * [[Bfs.perSourceDistances]] composite-key shape, so ALL pivots advance
  * together and rounds = diameter, not pivots), then one BACKWARD pass
  * per level (deepest first) accumulating the dependency
  * δ(v) = Σ_{w: (v,w) edge, d(w)=d(v)+1} (σ(v)/σ(w))·(1+δ(w)) — in an
  * unweighted graph every level-i→level-(i+1) edge IS a shortest-path DAG
  * edge, so the backward step is again one keyed equi-join per level.
  * Betweenness(v) = ½ Σ_{pivots s ≠ v} δ_s(v) (the ½ is the undirected
  * convention — each unordered pair is counted from both endpoints when
  * all nodes are pivots).
  *
  * EXACT mode (pivots = all nodes) is the oracle-able form; at corpus
  * scale one runs SAMPLED pivots (Brandes & Pich 2007: uniform pivots give
  * an unbiased estimator of δ summed over sources — scale by |V|/|pivots|
  * off-line if the absolute value matters; the RANKING, which is what the
  * pipeline consumes, needs no scaling). State is |pivots| × reachable
  * nodes — the landmark-sampling price [[Bfs.perSourceDistances]]
  * documents; keep the pivot set sampled, that IS the algorithm.
  *
  * Exactness/determinism contract (what makes the row oracle-able): σ are
  * exact longs; every dependency term is the IEEE tree
  * (σv/σw)·(1+δw) evaluated in that association; per-(root,node) terms
  * fold in sorted neighbor order and the final per-node sum folds in
  * sorted root order (the q140/q154 deterministic-fold contract) — both
  * engines replay bit-identical doubles, 12dp rounding guards the
  * comparison at the registered row.
  *
  * Convergence is LOUD (the [[Truss]]/[[Scc]] contract): a graph deeper
  * than `maxDepth` raises — truncated betweenness is silently WRONG
  * centrality, not a smaller answer. */
object Betweenness {

  /** `edges`: (src, dst) directed or undirected — canonicalized undirected,
    * self-loops dropped. `pivots`: (node) — the BFS sources (exact mode:
    * every node; sampled mode: a uniform subset). Returns
    * (node, betweenness) for EVERY node of the graph (pendants at 0.0),
    * plus the rounds actually run for unroll-depth pinning oracles. */
  def fromPivotsWithRounds(
      edges: DataFrame,
      pivots: DataFrame,
      maxDepth: Int = 50): (DataFrame, Int) = {
    require(maxDepth >= 1, s"maxDepth must be >= 1 (got $maxDepth)")
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val adj = Loops.checkpoint(und.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(und.select(col("v").as("node"), col("u").as("nbr"))), eager = true)
    val nodes = Loops.checkpoint(adj.select("node").distinct(), eager = true)
    // forward: levels(d) = (root, node, sig) for nodes first reached at
    // depth d; every pivot advances in the same composite-key frontier.
    // One job: the seed level's checkpoint IS its emptiness check (r18b)
    val lvl0 = Loops.checkpoint(
      pivots.select(col("node")).distinct()
        .join(nodes, Seq("node"), "left_semi")
        .select(col("node").as("root"), col("node"), lit(1L).as("sig")),
        eager = false)
    val nSeeds = Loops.matCount(lvl0)
    val levels = ArrayBuffer(lvl0)
    // the visited accumulator is consumed by the NEXT level's anti-join —
    // a lazy checkpoint folds its materialization into that job (r18b);
    // all referenced level frames stay alive for the backward pass
    var visited = Loops.checkpoint(levels(0).select("root", "node"), eager = false)
    var depth = 0
    var frontierEmpty = nSeeds == 0L
    while (!frontierEmpty && depth < maxDepth) {
      depth += 1
      // one job: the level's checkpoint IS its emptiness check (r18)
      val next = Loops.checkpoint(levels(depth - 1)
        .join(adj, Seq("node"))
        .select(col("root"), col("nbr").as("node"), col("sig"))
        .groupBy("root", "node").agg(sum("sig").as("sig"))
        .join(visited, Seq("root", "node"), "left_anti"), eager = false)
      val n = Loops.matCount(next)
      if (n == 0L) { frontierEmpty = true; depth -= 1 }
      else {
        levels += next
        // NOTE r17: the lazy-union accumulator used elsewhere (Bfs) was
        // tried here and REVERTED — on degenerate small graphs the lazy
        // union of anti-join-derived children trips Catalyst's Union
        // constraint rewrite (NoSuchElementException in
        // UnionBase.rewriteConstraints, reproduced by the graph_betweenness
        // TVF spec on a 2-edge path); the checkpoint sidesteps it. r18b:
        // the checkpoint is LAZY — planning (and the Catalyst workaround)
        // is unchanged, but the materializing count folds into the next
        // level's anti-join job (nothing visited references is ever freed)
        visited = Loops.checkpoint(
          visited.unionByName(next.select("root", "node")), eager = false)
      }
    }
    require(frontierEmpty,
      s"betweenness BFS did not exhaust the graph within maxDepth=$maxDepth" +
        " — truncated dependencies are silently wrong centralities, not a" +
        " partial answer; raise maxDepth")
    // backward: δ accumulates per level, deepest first; terms fold in
    // sorted neighbor order (the deterministic-fold contract). Every level
    // frame is consumed by the next level's join (and the final rollup), so
    // the whole pass checkpoints LAZILY — one materializing chain inside
    // the final action instead of one count job per level (r18b; the level
    // frames referenced are never freed)
    var deltas = List(Loops.checkpoint(
      levels(depth).withColumn("delta", lit(0.0)), eager = false))
    for (d <- (depth - 1) to 0 by -1) {
      val terms = levels(d)
        .join(adj, Seq("node"))
        // the (d+1)-level frame keyed by the NEIGHBOR column: every
        // level-d -> level-(d+1) edge is a shortest-path DAG edge
        .join(deltas.head.select(col("root"), col("node").as("nbr"),
            col("sig").as("__sigw"), col("delta").as("__deltaw")),
          Seq("root", "nbr"))
        .select(col("root"), col("node"),
          struct(col("nbr").as("w"),
            ((col("sig").cast("double") / col("__sigw").cast("double")) *
              (lit(1.0) + col("__deltaw"))).as("term")).as("__t"))
        .groupBy("root", "node")
        .agg(aggregate(array_sort(collect_list(col("__t"))), lit(0.0),
          (acc, x) => acc + x.getField("term")).as("__sum"))
      val lvl = Loops.checkpoint(levels(d)
        .join(terms, Seq("root", "node"), "left_outer")
        .select(col("root"), col("node"), col("sig"),
          coalesce(col("__sum"), lit(0.0)).as("delta")), eager = false)
      deltas = lvl :: deltas
    }
    val bc = deltas.map(_.select("root", "node", "delta"))
      .reduce(_ unionByName _)
      .filter(col("root") =!= col("node"))
      .groupBy("node")
      .agg((lit(0.5) * aggregate(
        array_sort(collect_list(struct(col("root"), col("delta").as("d")))),
        lit(0.0), (acc, x) => acc + x.getField("d"))).as("betweenness"))
    val out = nodes
      .join(bc, Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("betweenness"), lit(0.0)).as("betweenness"))
    (out, depth)
  }

  /** [[fromPivotsWithRounds]] without the round count. */
  def fromPivots(edges: DataFrame, pivots: DataFrame,
                 maxDepth: Int = 50): DataFrame =
    fromPivotsWithRounds(edges, pivots, maxDepth)._1
}
