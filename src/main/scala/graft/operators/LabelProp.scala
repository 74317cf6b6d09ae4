package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LABEL PROPAGATION community detection (Raghavan et al. 2007), the
  * SYNCHRONOUS deterministic variant: every node starts labeled with its
  * own id; each round, every node simultaneously adopts the most frequent
  * label among its neighbors (ties → smallest label; isolated semantics
  * never arise — nodes exist only as edge endpoints). Near-linear
  * community detection on link/affinity graphs — the mesoscale structure
  * signal between [[Triangles]]' local clustering and [[Dedup]]'s global
  * connected components (a component can contain many communities; LPA
  * finds the dense cores CC cannot separate).
  *
  * DETERMINISM: classic LPA is run-order dependent (asynchronous updates,
  * random tie-breaks). This variant pins BOTH: synchronous rounds (every
  * update reads the previous round's labels) and (count desc, label asc)
  * tie-breaks — a total order per node — so the result is a pure function
  * of (graph, rounds), replayable by an engine-independent oracle.
  * Synchronous LPA can 2-cycle on bipartite-ish regions rather than
  * converge (the known price of determinism), so the contract is FIXED
  * rounds — the q182 oracle unrolls exactly the same count, and labels
  * after round R are meaningful "R-hop majority basins" whether or not a
  * fixpoint was reached.
  *
  * Scale shape per round: one keyed equi-join propagating neighbor labels
  * (never all-pairs), one (node, label) count rollup — map-side combined,
  * O(1) buffers — and one per-node argmax via partial-aggregable
  * min(struct(−cnt, label)) (the q168 no-window argmax; labels keep the
  * node id's type, so string ids work), then a
  * node-keyed merge. Labels materialize each round (`localCheckpoint`,
  * the [[PageRank]]/[[Bfs]] lineage argument). Rounds are a small constant
  * by design — community basins stabilize in a handful of sweeps. */
object LabelProp {

  /** `edges`: (src, dst) directed or undirected; duplicates/self-loops
    * tolerated (canonical undirected edges propagate both ways; self-loops
    * dropped — a node's own label is not a neighbor vote). Returns
    * (node, label) after exactly `rounds` synchronous sweeps; `label` is
    * the smallest seed id in the node's majority basin. */
  def communities(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0 (got $rounds)")
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // both directions once — each neighbor votes exactly once per node
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(und.select(col("v").as("node"), col("u").as("nbr")))
      .persist()
    var labels = Loops.checkpoint(adj.select(col("node")).distinct()
      .withColumn("label", col("node")), eager = false)
    // lazy sweeps, grandparent frees — the [[Louvain.communitiesFrom]]
    // discipline (r18b): sweep i−1 materializes while sweep i's checkpoint
    // builds its stages; the final sweep is eager so every parent settles
    // before adj unpersists and the caller reads
    var labelsPrev: DataFrame = null
    var r = 0
    while (r < rounds) {
      r += 1
      val sweepPlan = adj
        .join(labels.withColumnRenamed("node", "nbr"), Seq("nbr"))
        .groupBy("node", "label").agg(count(lit(1)).as("__cnt"))
        .groupBy("node")
        .agg(min(struct((-col("__cnt")).as("__neg_cnt"), col("label")))
          .as("__best"))
        .select(col("node"), col("__best.label").as("label"))
      val next = Loops.checkpoint(sweepPlan, eager = r == rounds)
      if (labelsPrev != null) Loops.free(labelsPrev) // grandparent: dead
      labelsPrev = labels
      labels = next
    }
    adj.unpersist()
    labels
  }
}
