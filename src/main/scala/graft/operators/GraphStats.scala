package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-graph summary statistics over a node partition — the evaluation
  * side of the community shelf: [[LabelProp]] PRODUCES a partition, this
  * scores it. Newman–Girvan modularity (Newman 2006) per community:
  *
  *   Q_c = e_c/m − (d_c/2m)²  =  (4·m·e_c − d_c²) / (4·m²)
  *
  * where m = |undirected edges|, e_c = edges with both endpoints in c,
  * d_c = Σ degree over c's members (degrees in the FULL graph). ΣQ_c is
  * the standard "are these communities denser than chance" gate before
  * trusting a partition for spam-ring extraction or corpus sharding —
  * LPA/louvain-family outputs with Q near 0 are noise, not structure.
  *
  * Scale shape: two keyed joins (edge endpoints → labels) + two map-side
  * combined rollups — one pass over the edges, one over the membership,
  * never iterative, never all-pairs. Exactness: e_c, d_c, m are exact
  * longs; the rightmost form above is ONE IEEE division of two
  * integer-valued doubles, so the row is engine-exact (the q175/q189
  * single-division contract). The long numerator 4·m·e_c − d_c² is exact
  * while 4m² < 2⁶³ (m < 1.5e9 edges); beyond that, pre-aggregate per
  * community and widen to DECIMAL — the int64→double conversion itself
  * stays correctly rounded and cross-engine identical.
  */
object GraphStats {

  /** DEGREE ASSORTATIVITY (Newman 2002) — the Pearson correlation of
    * endpoint degrees over the edge stubs: positive = hubs link to hubs
    * (social/citation shape), negative = hubs link to leaves (the
    * spam-farm / star-burst shape crawl heuristics key on), ~0 = neutral
    * wiring. On an UNDIRECTED graph each edge contributes both
    * orientations, so the two stub-degree marginals are identical and the
    * usual sqrt-variance denominator collapses:
    *
    *   r = (M·Σxy − Σx·Σx) / (M·Σx² − Σx·Σx)
    *
    * with M = 2m stubs, x/y the endpoint degrees — exact longs end to
    * end and ONE final IEEE division of integer-valued doubles (the
    * [[modularity]] contract; no sqrt anywhere). Exact while M·Σx² < 2⁶³;
    * beyond that widen the three sums to DECIMAL. Scale shape: one degree
    * rollup + two keyed joins + one global aggregate — never iterative.
    *
    * Returns ONE row (m_stubs, s_x, s_xy, s_xx, assortativity);
    * assortativity is NULL when every degree is equal (zero variance —
    * undefined, not 0). Empty graphs fail loudly. */
  def assortativity(edges: DataFrame): DataFrame = {
    // one job: the canonical frame's checkpoint IS the emptiness gate (r18b)
    val und = Loops.checkpoint(edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = false)
    val nUnd = Loops.matCount(und)
    require(nUnd > 0L,
      "assortativity needs at least one (non-self-loop) edge")
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val stubs = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
      .join(deg.toDF("a", "__dx"), Seq("a"))
      .join(deg.toDF("b", "__dy"), Seq("b"))
    stubs.agg(
        count(lit(1)).as("m_stubs"),
        sum(col("__dx")).as("s_x"),
        sum(col("__dx") * col("__dy")).as("s_xy"),
        sum(col("__dx") * col("__dx")).as("s_xx"))
      .select(col("m_stubs"), col("s_x"), col("s_xy"), col("s_xx"),
        when(col("m_stubs") * col("s_xx") =!= col("s_x") * col("s_x"),
          (col("m_stubs") * col("s_xy") - col("s_x") * col("s_x"))
            .cast("double") /
            (col("m_stubs") * col("s_xx") - col("s_x") * col("s_x"))
              .cast("double"))
          .as("assortativity"))
  }

  /** `edges`: (src, dst), direction/duplicates/self-loops collapsed away;
    * `labels`: (node, label) — a TOTAL labeling of the edge endpoints
    * (missing nodes fail loudly: silently dropping them would misreport
    * d_c and m's balance). Returns one row per community:
    * (label, n_nodes, e_in, d_sum, modularity), ordered by nothing —
    * callers sort. Empty edge sets fail loudly (modularity of an empty
    * graph is undefined, not 0 — the [[Drift]] empty-snapshot contract). */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    // one job: the canonical frame's checkpoint IS the m count (r18b —
    // the eager checkpoint + count() pair was two)
    val und = Loops.checkpoint(edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = false)
    val m = Loops.matCount(und)
    require(m > 0L,
      "modularity needs at least one (non-self-loop) edge — an empty " +
        "graph has no null model to compare against")
    // lazy: the unlabeled-endpoint gate right below materializes it (r18b)
    val lab = Loops.checkpoint(
      labels.select(col("node"), col("label")).distinct(), eager = false)
    val endpoints = und.select(col("u").as("node"))
      .unionByName(und.select(col("v").as("node"))).distinct()
    val unlabeled = endpoints.join(lab, Seq("node"), "left_anti").count()
    require(unlabeled == 0L,
      s"labels must cover every edge endpoint — $unlabeled endpoint(s) " +
        "unlabeled (a partial labeling would misreport degree mass)")
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val eIn = und
      .join(lab.toDF("u", "__lu"), Seq("u"))
      .join(lab.toDF("v", "__lv"), Seq("v"))
      .filter(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("label")).agg(count(lit(1)).as("e_in"))
    lab.join(deg, Seq("node"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
      .join(eIn, Seq("label"), "left_outer")
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"),
        ((lit(4L * m) * coalesce(col("e_in"), lit(0L)) -
          col("d_sum") * col("d_sum")).cast("double") /
          lit(4L * m * m).cast("double")).as("modularity"))
  }
}
