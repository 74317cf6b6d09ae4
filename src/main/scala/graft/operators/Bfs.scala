package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search over an edge list — the graph-traversal
  * primitive next to [[PageRank]]'s centrality and [[Dedup]]'s connected
  * components: (node, dist) for every node reachable from a source set,
  * `dist` = fewest hops. The crawl/link-graph uses: seed-set distance
  * labeling (quality propagates outward from trusted seeds — the TrustRank
  * shape), contamination blast-radius ("everything within k hops of a leaked
  * eval document"), and reachability pruning.
  *
  * Scale shape: frontier expansion, one round per DEPTH level — each round
  * is ONE frontier×edges equi-join on src + one distinct + one anti-join
  * against the visited set (all keyed shuffles, never all-pairs). Rounds are
  * bounded by the graph's diameter — small for real link graphs (the
  * small-world property), and hard-capped by `maxDepth` so a pathological
  * chain cannot loop unbounded. The visited and frontier frames are
  * node-sized; both are materialized per round (`localCheckpoint`) because
  * each round references them twice — the [[PageRank]] re-execution
  * argument — and the per-round emptiness check that terminates the loop
  * needs an executed frame anyway (EAGER, like PageRank.run). Distances are
  * exact integers end-to-end, so the result is engine-exact and
  * DuckDB-oracle-able (depth-capped recursive CTE + min per node). */
object Bfs {

  /** `edges`: (src: long, dst: long) directed; `sources`: (node: long).
    * Returns (node, dist: long) for every node within `maxDepth` hops of
    * any source (sources themselves at dist 0, whether or not they appear
    * in the edge list). Duplicate edges/sources are deduplicated. */
  def distances(
      edges: DataFrame,
      sources: DataFrame,
      maxDepth: Int = 50): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0 (got $maxDepth)")
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    val out = distancesOver(e, sources, maxDepth)
    e.unpersist()
    out
  }

  /** The frontier loop over an ALREADY deduplicated, ALREADY materialized
    * edge frame (r17 factoring — [[doubleSweep]] holds such a frame and
    * ran a redundant full distinct shuffle per sweep through the public
    * entry). The per-round accumulator is a lazy union of checkpointed
    * per-depth frames (the flat scan-union argument — re-materializing
    * `visited` every round copied the whole visited set O(depth) times). */
  private def distancesOver(
      e: DataFrame,
      sources: DataFrame,
      maxDepth: Int): DataFrame = {
    // lazy: level 1's job materializes the seed frame (r18b; never freed)
    var visited = Loops.checkpoint(sources.select(col("node")).distinct()
      .withColumn("dist", lit(0L)), eager = false)
    var frontier = visited.select("node")
    var depth = 0L
    var done = maxDepth == 0
    while (!done) {
      depth += 1
      // one job: the level's checkpoint IS its emptiness check (r18); the
      // frame joins the visited accumulator, so it is never freed
      val next = Loops.checkpoint(frontier
        .join(e.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(depth)), eager = false)
      val n = Loops.matCount(next)
      if (n == 0L || depth >= maxDepth) done = true
      visited = visited.unionByName(next)
      frontier = next.select("node")
    }
    visited
  }

  /** DOUBLE-SWEEP DIAMETER PROBE (Magnien–Latapy–Habib 2009) — the
    * standard two-BFS lower bound on a graph's diameter, the number that
    * sizes every fixed-unroll oracle and `maxRounds` cap in this library:
    * BFS from a deterministic seed (the MINIMUM node id), hop to the
    * farthest node found (ties → min id — every step pinned), BFS again;
    * the second eccentricity is ≥ half the true diameter and in practice
    * tight on link graphs. Undirected semantics (edges symmetrized);
    * measures the SEED'S component. Returns ONE row
    * (seed, ecc_seed, peripheral, diameter_lb) — exact longs, and every
    * tie-break deterministic, so the row is fully oracle-able by two
    * depth-capped recursive closures (q211). Driver work: two 1-row
    * lookups (the bounded-anchor pattern); cluster work: two [[distances]]
    * frontier runs.
    *
    * LOUD TRUNCATION: a sweep that reaches `maxDepth` fails (the
    * [[Sssp]]/[[TemporalReach]] loud-convergence contract) rather than
    * returning a possibly-capped eccentricity — a silently truncated
    * sweep would UNDERSTATE the bound, and the bound's whole job is to
    * justify other operators' depth caps. EAGER: both sweeps run when
    * this is called (the requires need executed distances). */
  def doubleSweep(edges: DataFrame, maxDepth: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val sym = Loops.checkpoint(e.unionByName(e.select(col("dst").as("src"),
      col("src").as("dst"))).distinct(), eager = true)
    require(!Loops.matIsEmpty(sym),
      "doubleSweep needs at least one (non-self-loop) edge")
    val seed = sym.agg(min(least(col("src"), col("dst")))).head.getLong(0)
    val seedDf = spark.range(1).select(lit(seed).as("node"))
    // sym is already distinct + checkpointed — run the loop directly (the
    // public entry would re-distinct it, a full shuffle per sweep)
    val d1 = Loops.checkpoint(distancesOver(sym, seedDf, maxDepth), eager = true)
    val far = d1.orderBy(col("dist").desc, col("node").asc).limit(1)
      .head
    val (peripheral, ecc1) = (far.getLong(0), far.getLong(1))
    // ecc < maxDepth PROVES the frontier loop ended on an empty frontier
    // (exhausted the component); ecc == maxDepth is ambiguous — refuse it
    require(ecc1 < maxDepth,
      s"doubleSweep: first-sweep eccentricity $ecc1 reached " +
        s"maxDepth=$maxDepth — the sweep may be truncated and the bound " +
        "understated; raise maxDepth")
    val farDf = spark.range(1).select(lit(peripheral).as("node"))
    val lb = distancesOver(sym, farDf, maxDepth)
      .agg(max(col("dist"))).head.getLong(0)
    require(lb < maxDepth,
      s"doubleSweep: second-sweep eccentricity $lb reached " +
        s"maxDepth=$maxDepth — the sweep may be truncated and the bound " +
        "understated; raise maxDepth")
    spark.range(1).select(lit(seed).as("seed"), lit(ecc1).as("ecc_seed"),
      lit(peripheral).as("peripheral"), lit(lb).as("diameter_lb"))
  }

  /** Per-source BFS distances: (root, node, dist) for every (source,
    * reachable-node) pair — the LANDMARK-distance table behind harmonic
    * centrality estimation (Boldi & Vigna 2014's axioms; Common Crawl ranks
    * hosts by exactly this family): at graph scale one computes centrality
    * from a SAMPLED landmark set, and this operator is that primitive. Same
    * frontier loop as [[distances]] with a composite (root, node) state
    * key, so the per-round joins stay keyed equi-joins; state is
    * |landmarks| × reachable nodes — the deliberate price of per-source
    * exactness (keep the landmark set sampled, that is the algorithm). */
  def perSourceDistances(
      edges: DataFrame,
      sources: DataFrame,
      maxDepth: Int = 50): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0 (got $maxDepth)")
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    // lazy: level 1's job materializes the seed frame (r18b; never freed)
    var visited = Loops.checkpoint(sources.select(col("node")).distinct()
      .select(col("node").as("root"), col("node"))
      .withColumn("dist", lit(0L)), eager = false)
    var frontier = visited.select("root", "node")
    var depth = 0L
    var done = maxDepth == 0
    while (!done) {
      depth += 1
      // one job: the level's checkpoint IS its emptiness check (r18)
      val next = Loops.checkpoint(frontier
        .join(e.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("root"), col("dst").as("node")).distinct()
        .join(visited.select("root", "node"), Seq("root", "node"), "left_anti")
        .withColumn("dist", lit(depth)), eager = false)
      val n = Loops.matCount(next)
      if (n == 0L || depth >= maxDepth) done = true
      // lazy union of checkpointed per-depth frames (the distancesOver
      // accumulator argument)
      visited = visited.unionByName(next)
      frontier = next.select("root", "node")
    }
    e.unpersist()
    visited
  }

  /** Harmonic centrality from a landmark set: for each node, Σ_{root ≠ node}
    * 1/d(root, node) over the landmarks that reach it — unreachable pairs
    * contribute 0 by the harmonic convention (the property that makes the
    * measure well-defined on disconnected graphs, Boldi & Vigna 2014).
    * Terms fold in sorted root order (the q140 deterministic-fold contract:
    * every 1/d is an exact IEEE division, identical fold order ⇒
    * bit-identical sums, so the result is oracle-hashable). The buffer is
    * O(|landmarks|) per node — landmarks are a sample, that bound is the
    * design. */
  def harmonicCentrality(
      edges: DataFrame,
      landmarks: DataFrame,
      maxDepth: Int = 50): DataFrame =
    perSourceDistances(edges, landmarks, maxDepth)
      .filter(col("dist") > 0)
      .groupBy("node")
      .agg(aggregate(
        array_sort(collect_list(struct(col("root"),
          (lit(1.0) / col("dist").cast("double")).as("__v")))),
        lit(0.0), (acc, x) => acc + x.getField("__v")).as("harmonic"))
}
