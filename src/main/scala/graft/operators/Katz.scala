package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KATZ CENTRALITY (Katz 1953) — fixed-depth truncation: each node scores
  * the α-discounted count of DIRECTED walks ending at it,
  *
  *   katz(v) = Σ_{k=1..depth} α^k · |walks of length k into v|
  *
  * the influence member of the centrality shelf beside [[PageRank]]
  * (stationary flow), [[Bfs.harmonicCentrality]] (closeness),
  * [[Betweenness]] (brokerage), and [[KCore.coreness]] (depth): Katz
  * rewards being reachable by MANY short chains — the citation/endorsement
  * shape — where PageRank splits a node's vote, Katz lets it count fully
  * along every edge. Fixed depth is the REGISTERED semantics (the
  * [[LabelProp]] fixed-round precedent): the infinite series needs
  * α < 1/λ_max to converge, while the truncated form is well-defined for
  * any α and is what a bounded unrolled oracle can replay.
  *
  * Determinism: with `deterministic = true` (default), each layer's
  * per-node combine is the sorted fold — `aggregate(array_sort(
  * collect_list(struct(src, v))), 0.0, _+_)` — and the depth accumulation
  * is a fixed left-to-right chain, so every double is bit-identical across
  * engines (the q140/q201 contract; DuckDB replays with `list_reduce(list(
  * … ORDER BY src))`). `deterministic = false` swaps the fold for a plain
  * partial-aggregable `sum` (O(1) buffers, map-side combined) — the
  * production posture when 1-ulp fold drift is acceptable.
  *
  * Scale shape: one keyed join + one rollup per layer over the edge frame,
  * layers = `depth` (a plan-time constant, not data-dependent); each layer
  * materializes (`localCheckpoint`, the [[PageRank]] lineage argument). */
object Katz {

  /** `edges`: (src, dst) directed, duplicates/self-loops dropped. Returns
    * (node, katz) for every endpoint; sources with no in-walks score 0. */
  def scores(
      edges: DataFrame,
      alpha: Double = 0.5,
      depth: Int = 4,
      deterministic: Boolean = true): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1) (got $alpha)")
    require(depth >= 1 && depth <= 32,
      s"depth must be in [1,32] — deeper walks vanish under alpha^k " +
        s"(got $depth)")
    val e = Loops.checkpoint(edges.filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct(), eager = true)
    val nodes = Loops.checkpoint(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct(), eager = true)
    var t = nodes.withColumn("__t", lit(1.0))
    var x = nodes.withColumn("katz", lit(0.0))
    for (_ <- 1 to depth) {
      val contribs = e
        .join(t.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("src"), col("__t").as("__v"))
      val folded =
        if (deterministic)
          contribs.groupBy("node").agg((lit(alpha) *
            aggregate(
              array_sort(collect_list(struct(col("src").as("__s"),
                col("__v")))),
              lit(0.0), (acc, p) => acc + p.getField("__v"))).as("__nt"))
        else
          contribs.groupBy("node")
            .agg((lit(alpha) * sum(col("__v"))).as("__nt"))
      // LAZY rounds (r18b): t materializes inside x's checkpoint call (its
      // stage build reads t), x inside the next round's — nothing is freed,
      // so storage rule 2 in [[Loops]] holds trivially
      t = Loops.checkpoint(nodes.join(folded, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("__nt"), lit(0.0)).as("__t")),
        eager = false)
      x = Loops.checkpoint(x.join(t, Seq("node"))
        .select(col("node"), (col("katz") + col("__t")).as("katz")), eager = false)
    }
    x
  }
}
