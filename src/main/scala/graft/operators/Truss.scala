package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-TRUSS decomposition (Cohen 2008; Wang & Cheng VLDB'12) — the maximal
  * subgraph in which every EDGE sits in at least k−2 triangles (counted
  * within the subgraph): the edge-level cohesion bar between [[KCore]]'s
  * degree floor and full clique mining. A 4-truss edge has two independent
  * witnesses to its community membership, which is why truss cores are the
  * standard spam-ring / mutual-admiration-cluster extractor on link
  * graphs: a hub can fake degree (k-core) with pendant links, but it
  * cannot fake triangle support without reciprocated neighborhoods.
  *
  * Scale shape: each peel round is one triangle enumeration over the
  * surviving edges ([[Triangles]]' DEGREE-ORDERED orientation — per-node
  * oriented out-degree bounded O(√|E|), hubs generate no wedges), one
  * map-side-combined support rollup, and one left-semi filter — keyed
  * shuffles only. The edge frame shrinks monotonically (later rounds cost
  * less); each round materializes (`localCheckpoint`, the
  * [[PageRank]]/[[Bfs]] lineage argument) and the loop stops the first
  * round that removes nothing, hard-capped by `maxRounds` with a LOUD
  * failure, never a silent partial answer. Supports are exact longs
  * end-to-end, so the result is engine-exact and DuckDB-oracle-able by an
  * unrolled peel-layer chain (the q176 contract): monotone layers, so any
  * unroll depth ≥ the converged round count yields the identical fixpoint.
  */
object Truss {

  /** `edges`: (src, dst) directed or undirected; duplicates, direction
    * pairs, and self-loops tolerated (collapsed to canonical undirected,
    * self-loops dropped). Returns (u, v, support) for every edge of the
    * k-truss, `support` = its triangle count WITHIN the truss (≥ k−2). */
  def edges(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame =
    edgesWithRounds(edges, k, maxRounds)._1

  /** [[edges]] plus the number of peel rounds actually run — callers
    * pinning an unrolled fixed-depth oracle assert the returned count
    * against their unroll depth (the q172/q176 contract).
    *
    * Peel economics (r17): triangles are enumerated ONCE over the input
    * frame (the wedge self-join — the expensive pass), then each peel
    * round only RECOUNTS which triangles still have all three edges alive
    * (one semi-join + two keyed rollups over a monotonically shrinking
    * triangle frame; a triangle that loses an edge never comes back, so
    * dead triangles are dropped as rounds proceed). Equivalent round for
    * round to re-enumerating — a triangle of the surviving subgraph is
    * exactly a triangle of the original graph whose three edges all
    * survive — so the per-round edge sets, the round count, and the final
    * supports are IDENTICAL to the re-enumerating form (Wang & Cheng
    * VLDB'12 run exactly this once-enumerated peel). The final supports
    * come from the last round's recount, saving the old closing
    * full-enumeration pass as well. */
  def edgesWithRounds(
      edgesDf: DataFrame,
      k: Int,
      maxRounds: Int = 100): (DataFrame, Int) = {
    require(k >= 3, s"k must be >= 3 — the 2-truss is every edge (got $k)")
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    // one job: the canonical frame's checkpoint IS the peel's entry count
    // (r18b — the eager checkpoint + matCount pair was two)
    val cur = Loops.checkpoint(edgesDf.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = false)
    peelCanon(cur, k, maxRounds, knownCount = Loops.matCount(cur))
  }

  /** [[edgesWithRounds]] over an ALREADY canonical (u < v, distinct,
    * self-loop-free) edge frame — the r18 cross-operator factoring: the
    * maintenance queries derive yesterday's graph as a narrow view of the
    * one-scan canonical frame they already hold, so the public entry's
    * re-canonicalization (a full distinct shuffle + checkpoint of an
    * unchanged frame) is pure waste there. */
  private[graft] def edgesCanonWithRounds(
      canonUnd: DataFrame,
      k: Int,
      maxRounds: Int = 100): (DataFrame, Int) = {
    require(k >= 3, s"k must be >= 3 — the 2-truss is every edge (got $k)")
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    peelCanon(canonUnd, k, maxRounds)
  }

  /** The peel loop over an ALREADY canonical, ALREADY materialized edge
    * frame (the [[KCore.peel]] factoring): [[maintainWithRounds]]'
    * certify phase holds such a frame and skips the re-canonicalization
    * distinct + checkpoint. */
  private def peelCanon(
      canonUnd: DataFrame,
      k: Int,
      maxRounds: Int,
      knownCount: Long = -1L): (DataFrame, Int) = {
    var cur = canonUnd
    // in-loop round frames only (the input is the caller's). Frees are
    // DEFERRED one generation: the final round's lazy support frame
    // (lastSup) references the PREVIOUS round's edge frame through its
    // aliveT semi-join, so the parent must outlive the loop — only the
    // grandparent is provably dead each round.
    var prev: DataFrame = null
    // callers that materialized the input with a counted checkpoint pass
    // the count in
    var nEdges = if (knownCount >= 0L) knownCount else Loops.matCount(cur)
    // ONE triangle enumeration, exploded to canonical edges: (a,b,c,u,v) —
    // 3 rows per triangle, the same frame the old per-round enumeration
    // generated EVERY round (so peak memory is unchanged; it just lives
    // across the peel instead of being rebuilt per round). LAZY: round 1's
    // recount job materializes it (r18b; cur is the caller's, never freed)
    var t2e = Loops.checkpoint(trianglesOf(cur)
      // (a,b,c) is degree-oriented, not id-sorted — canonicalize each pair
      .select(explode(array(
          struct(least(col("a"), col("b")).as("u"),
            greatest(col("a"), col("b")).as("v")),
          struct(least(col("a"), col("c")).as("u"),
            greatest(col("a"), col("c")).as("v")),
          struct(least(col("b"), col("c")).as("u"),
            greatest(col("b"), col("c")).as("v")))).as("p"),
        col("a"), col("b"), col("c"))
      .select(col("a"), col("b"), col("c"),
        col("p.u").as("u"), col("p.v").as("v")), eager = false)
    var rounds = 0
    var converged = nEdges == 0L
    var sinceShrink = 0
    // the converged round's recount IS the fixpoint's support frame — kept
    // so the closing pass needs no recount at all
    var lastSup: DataFrame = null
    while (!converged && rounds < maxRounds) {
      rounds += 1
      // recount against a SHRINKING triangle frame (r18 — the r17 form
      // recounted the FULL once-enumerated list every round, which
      // regressed deep certify peels): a triangle is alive iff all 3 edges
      // are alive, and a triangle that loses an edge never comes back (the
      // edge set only shrinks), so the frame may reassign to the alive
      // rows at any cadence — dead rows in a stale frame only cost the
      // recount, never correctness (the fresh aliveT filter drops them).
      // Every 3rd round amortizes the swap's extra materialization against
      // the shrink (every-round shrinking was measured +1 job/round for
      // marginal wall gain at bench scale).
      val aliveT = t2e.join(cur, Seq("u", "v"), "left_semi")
        .groupBy("a", "b", "c").agg(count(lit(1)).as("__ne"))
        .filter(col("__ne") === 3)
        .select("a", "b", "c")
      // an alive triangle's 3 rows all carry alive edges (that IS the
      // __ne == 3 test), so the semi-join on aliveT alone suffices
      // the shrunken frame is LAZY — the round's convergence job right
      // below materializes it (via sup), so the superseded triangle frame
      // is freed only AFTER that job (storage rule 2 in [[Loops]], r18b)
      var t2eOld: DataFrame = null
      val sup =
        if (sinceShrink >= 2) {
          val t2eNext = Loops.checkpoint(
            t2e.join(aliveT, Seq("a", "b", "c"), "left_semi"), eager = false)
          t2eOld = t2e; t2e = t2eNext; sinceShrink = 0
          t2eNext.groupBy("u", "v").agg(count(lit(1)).as("support"))
        } else {
          sinceShrink += 1
          t2e.join(aliveT, Seq("a", "b", "c"), "left_semi")
            .groupBy("u", "v").agg(count(lit(1)).as("support"))
        }
      // one job: the round's checkpoint IS its convergence count (r18)
      val next = Loops.checkpoint(cur.join(
        sup.filter(col("support") >= k - 2).select("u", "v"),
        Seq("u", "v"), "left_semi"), eager = false)
      val n = Loops.matCount(next)
      // the shrunken triangle frame is materialized now — its parent is dead
      if (t2eOld != null) Loops.free(t2eOld)
      converged = n == nEdges
      // grandparent round released (parent may still feed lastSup)
      if (prev != null) Loops.free(prev)
      prev = if (cur ne canonUnd) cur else null
      cur = next
      nEdges = n
      lastSup = sup
    }
    require(converged,
      s"$k-truss did not converge in $maxRounds peel rounds — raise maxRounds")
    // final support within the fixpoint subgraph: the converged round's
    // recount (nothing was removed, so it counted exactly the fixpoint's
    // alive triangles); every survivor has support >= k-2 >= 1, so the
    // inner join drops nothing. An empty/zero-round peel has no triangles
    // — the empty recount over the (empty) triangle frame is still exact.
    val sup =
      if (lastSup != null) lastSup
      else t2e.groupBy("u", "v").agg(count(lit(1)).as("support"))
    (cur.join(sup, Seq("u", "v")), rounds)
  }

  /** INCREMENTAL k-truss maintenance — the daily-delta form of [[edges]]
    * ([[KCore.maintain]]'s certify-then-grow pattern lifted from node-level
    * to EDGE-level membership): given yesterday's truss edge set and
    * TODAY'S full edge set, recompute the k-truss touching only the
    * affected neighborhood instead of re-peeling all of history. Sound
    * under ARBITRARY deltas (insertions AND deletions):
    *
    *  1. CERTIFY — re-peel yesterday's truss edges restricted to edges
    *     still present today. Any subgraph whose every edge has internal
    *     support ≥ k−2 is contained in the maximal truss, so survivors are
    *     provably in the new truss. Insert-only deltas certify in one
    *     no-op round (the truss is monotone under edge addition); a
    *     deletion cascades only through the old-truss edges it touches.
    *  2. GROW — peel the CANDIDATES (today's edges not certified,
    *     including certify evictees, which may re-enter via new edges).
    *     A candidate edge's support splits into a STATIC part (triangles
    *     whose other two edges are both certified — certified edges never
    *     peel, so counted once: one apex join against the certified
    *     adjacency) plus a LIVE part over the triangles with ≥ 2 candidate
    *     edges, enumerated ONCE as candidate-candidate wedges closed by
    *     any allowed third edge; each peel round then re-counts only
    *     which of those triangles still have ALL their candidate edges
    *     alive — two candidate-sized rollups, never a full re-enumeration.
    *
    * With `delta` provided — the canonical edges that CHANGED since
    * yesterday (insertions and deletions together; the [[KCore.maintain]]
    * IVM contract: it must cover the symmetric difference) — candidates
    * are first restricted to the AFFECTED component: delta endpoints and
    * certify-evictee endpoints closed over candidate-edge node adjacency.
    * The closure makes every candidate edge either both-endpoints-affected
    * or both-unaffected, and any triangle through an affected candidate
    * edge has ALL its candidate edges affected (they share its affected
    * endpoints) — so the static/live split above stays exhaustive on the
    * restricted set. An unaffected candidate keeps yesterday's OUT status:
    * were it in today's truss, its triangles could involve only certified
    * edges and other unaffected candidates (an affected candidate in the
    * triangle would make it affected), and that whole subgraph already
    * existed yesterday with internal support ≥ k−2 — contradicting
    * yesterday's maximality. Grow work therefore scales with the DELTA
    * NEIGHBORHOOD, not with non-truss history (RampProbe5 measures the
    * crossover). Without `delta`, every non-certified edge is a candidate
    * (sound with zero caller knowledge, but grow then re-examines the
    * non-truss fringe of all history).
    *
    * Work shape caveat: the live-triangle enumeration generates wedges at
    * each candidate node WITHOUT degree orientation (a triangle with
    * exactly two candidate edges has a forced pivot), so it is quadratic
    * in per-node CANDIDATE degree — bounded by the delta neighborhood
    * when `delta` is declared, the intended regime (the [[LinkPredict]]
    * degree-bound discipline applies if the delta itself contains a hub).
    *
    * Peeling with a protected set that provably never peels reaches the
    * SAME fixpoint as [[edges]] from scratch — the registered row (q203)
    * pins that output-invariance against the full-recompute oracle
    * verbatim. Output matches [[edges]]: (u, v, support ≥ k−2), final
    * supports from ONE triangle pass over the truss-induced edges.
    * `oldTruss` may be stale, partial, or empty (empty degrades to exactly
    * [[edges]]) — soundness never depends on it, only the work saved. */
  def maintain(edges: DataFrame, oldTruss: DataFrame, k: Int,
               maxRounds: Int = 100,
               delta: Option[DataFrame] = None): DataFrame =
    maintainWithRounds(edges, oldTruss, k, maxRounds, delta)._1

  /** [[maintain]] plus (certifyRounds, growRounds) for unroll pinning and
    * the incremental-work honesty asserts (the q202 contract). */
  def maintainWithRounds(
      edgesDf: DataFrame,
      oldTruss: DataFrame,
      k: Int,
      maxRounds: Int = 100,
      delta: Option[DataFrame] = None): (DataFrame, (Int, Int)) = {
    require(k >= 3, s"k must be >= 3 — the 2-truss is every edge (got $k)")
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    val und = Loops.checkpoint(edgesDf.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = true)
    maintainCanonWithRounds(und, oldTruss, k, maxRounds, delta)
  }

  /** [[maintainWithRounds]] over an ALREADY canonical, ALREADY
    * materialized TODAY edge frame (the [[edgesCanonWithRounds]]
    * factoring — the maintenance queries hold exactly that frame). */
  private[graft] def maintainCanonWithRounds(
      und: DataFrame,
      oldTruss: DataFrame,
      k: Int,
      maxRounds: Int = 100,
      delta: Option[DataFrame] = None,
      prevCanon: Boolean = false): (DataFrame, (Int, Int)) = {
    require(k >= 3, s"k must be >= 3 — the 2-truss is every edge (got $k)")
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    // prevCanon (r18b): the caller's old-truss frame is ALREADY canonical
    // (u < v, distinct — [[edges]]' own output shape), so the re-canonical
    // shuffle here was pure waste; the lazy checkpoint still cuts the
    // upstream plan off at first use (prev is consumed twice)
    val prev =
      if (prevCanon) Loops.checkpoint(oldTruss.select(col("u"), col("v")),
        eager = false)
      else Loops.checkpoint(oldTruss
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct(), eager = true)
    // phase 1 — certify: yesterday's truss edges still present, re-peeled
    // (already canonical/distinct — a semi-join of a canonical frame).
    // One job: the induced frame's checkpoint IS the peel's entry count
    val inducedPrev =
      Loops.checkpoint(und.join(prev, Seq("u", "v"), "left_semi"), eager = false)
    val (certT, certifyRounds) =
      peelCanon(inducedPrev, k, maxRounds,
        knownCount = Loops.matCount(inducedPrev))
    // consumed by the candidate anti-join right below — lazy (r18b)
    val cert = Loops.checkpoint(certT.select("u", "v"), eager = false)
    // phase 2 — grow over the candidates. One job: the candidate frame's
    // checkpoint IS the emptiness probe the early exit below needs (r18b)
    val candAll =
      Loops.checkpoint(und.join(cert, Seq("u", "v"), "left_anti"), eager = false)
    val nCandAll = Loops.matCount(candAll)
    val (cand, nCand) = delta match {
      case None => (candAll, nCandAll)
      case Some(d) =>
        // close (delta endpoints ∪ certify-evictee endpoints) over
        // candidate-edge node adjacency: the affected component (see the
        // Scaladoc soundness argument); everything else keeps yesterday's
        // OUT status
        // the delta is canonicalized WITHOUT its own distinct (r18b): seeds
        // only feed the endpoint set right below, whose distinct dedups
        // everything — the old canon(d) paid a redundant exchange per call
        val seeds = d.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"))
          .unionByName(prev.join(cert, Seq("u", "v"), "left_anti"))
        // one job: the seed frame's checkpoint IS its emptiness check (r18b)
        var affected = Loops.checkpoint(seeds.select(col("u").as("node"))
          .unionByName(seeds.select(col("v").as("node")))
          .distinct(), eager = false)
        val nAff = Loops.matCount(affected)
        // consumed per closure hop — lazy, materializes in hop 1 (r18b)
        val cAdj = Loops.checkpoint(
          candAll.select(col("u").as("node"), col("v").as("nbr"))
            .unionAll(
              candAll.select(col("v").as("node"), col("u").as("nbr"))),
          eager = false)
        var frontier = affected
        var closed = nAff == 0L
        var hops = 0
        while (!closed) {
          hops += 1
          require(hops <= maxRounds,
            s"affected-component closure exceeded maxRounds=$maxRounds —" +
              " raise it (a deep candidate chain hangs off the delta)")
          // one job: checkpoint + emptiness check share the count (r18)
          val next = Loops.checkpoint(frontier.join(cAdj, Seq("node"))
            .select(col("nbr").as("node")).distinct()
            .join(affected, Seq("node"), "left_anti"), eager = false)
          if (Loops.matCount(next) == 0L) closed = true
          else {
            // lazy union of checkpointed per-hop frames (the Bfs
            // accumulator argument)
            affected = affected.unionByName(next)
            frontier = next
          }
        }
        // closure ⇒ an affected endpoint implies both endpoints affected.
        // One job: the checkpoint IS the early exit's emptiness probe
        val cand = Loops.checkpoint(
          candAll.join(affected.withColumnRenamed("node", "u"), Seq("u"),
            "left_semi"), eager = false)
        (cand, Loops.matCount(cand))
    }
    // r17 early exit: with no candidate edges (insert-free level, or a
    // delta whose closure touches nothing) the grow phase is a no-op —
    // skip its three materializations and the convergence loop
    if (nCand == 0L) {
      return (cert.join(support(cert), Seq("u", "v")), (certifyRounds, 0))
    }
    // static support: apexes w with BOTH (u,w) and (v,w) certified —
    // counted once; certified edges never peel
    val certAdj = cert.select(col("u").as("p"), col("v").as("w"))
      .unionAll(cert.select(col("v").as("p"), col("u").as("w")))
    // consumed every grow round — lazy, materializes in round 1 (r18b)
    val sSup = Loops.checkpoint(cand
      .join(certAdj.toDF("u", "w"), Seq("u"))
      .select(col("u"), col("v"),
        least(col("v"), col("w")).as("cu"),
        greatest(col("v"), col("w")).as("cv"))
      .join(cert.toDF("cu", "cv"), Seq("cu", "cv"), "left_semi")
      .groupBy("u", "v").agg(count(lit(1)).as("ssup")), eager = false)
    // live triangles (≥ 2 candidate edges): candidate-candidate wedges
    // closed by any certified-or-candidate third edge, enumerated ONCE;
    // per-triangle candidate-edge composition drives the per-round recount
    val candAdjBoth = cand.select(col("u").as("x"), col("v").as("y"))
      .unionAll(cand.select(col("v").as("x"), col("u").as("y")))
    val tri = candAdjBoth.toDF("x", "y1")
      .join(candAdjBoth.toDF("x", "y2"), Seq("x"))
      .filter(col("y1") < col("y2"))
      .join(cert.unionByName(cand).toDF("y1", "y2"), Seq("y1", "y2"),
        "left_semi")
      .select(array_sort(array(col("x"), col("y1"), col("y2"))).as("t"))
      .select(col("t")(0).as("a"), col("t")(1).as("b"), col("t")(2).as("c"))
      .distinct()
    // lazy: round 1's recount job materializes both (r18b)
    var t2cand = Loops.checkpoint(tri
      .select(col("a"), col("b"), col("c"),
        explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("a").as("u"), col("c").as("v")),
          struct(col("b").as("u"), col("c").as("v")))).as("p"))
      .select(col("a"), col("b"), col("c"),
        col("p.u").as("u"), col("p.v").as("v"))
      .join(cand, Seq("u", "v"), "left_semi"), eager = false)
    val t2n = Loops.checkpoint(t2cand
      .groupBy("a", "b", "c").agg(count(lit(1)).as("ncand")), eager = false)
    var alive = cand // in-loop rounds are freed; cand is shared
    var nAlive = Loops.matCount(alive)
    var growRounds = 0
    var converged = nAlive == 0L
    var sinceShrink = 0
    while (!converged && growRounds < maxRounds) {
      growRounds += 1
      // a live triangle survives iff ALL its candidate edges are alive
      // (its certified edges are there by definition); the frame SHRINKS
      // to the surviving triangles' rows every 3rd round (r18, the
      // peelCanon cadence argument — a triangle that loses a candidate
      // edge never returns, and stale dead rows only cost the recount)
      val aliveTri = t2cand.join(alive, Seq("u", "v"), "left_semi")
        .groupBy("a", "b", "c").agg(count(lit(1)).as("nalive"))
        .join(t2n, Seq("a", "b", "c"))
        .filter(col("nalive") === col("ncand"))
        .select("a", "b", "c")
      // the shrunken frame is LAZY — the round's convergence job right
      // below materializes it, so the superseded frame is freed only AFTER
      // that job (storage rule 2 in [[Loops]], r18b)
      var t2candOld: DataFrame = null
      val liveSup =
        if (sinceShrink >= 2) {
          val t2candNext = Loops.checkpoint(
            t2cand.join(aliveTri, Seq("a", "b", "c"), "left_semi"),
            eager = false)
          t2candOld = t2cand; t2cand = t2candNext; sinceShrink = 0
          t2candNext.groupBy("u", "v").agg(count(lit(1)).as("lsup"))
        } else {
          sinceShrink += 1
          t2cand.join(aliveTri, Seq("a", "b", "c"), "left_semi")
            .groupBy("u", "v").agg(count(lit(1)).as("lsup"))
        }
      // one job: the round's checkpoint IS its convergence count (r18)
      val next = Loops.checkpoint(alive
        .join(sSup, Seq("u", "v"), "left_outer")
        .join(liveSup, Seq("u", "v"), "left_outer")
        .filter(coalesce(col("ssup"), lit(0L)) +
          coalesce(col("lsup"), lit(0L)) >= k - 2)
        .select("u", "v"), eager = false)
      val n = Loops.matCount(next)
      if (t2candOld != null) Loops.free(t2candOld)
      converged = n == nAlive
      if (alive ne cand) Loops.free(alive)
      alive = next
      nAlive = n
    }
    require(converged,
      s"incremental $k-truss grow phase did not converge in $maxRounds " +
        "rounds — raise maxRounds")
    // final membership + ONE triangle pass over the truss-induced edges
    // for in-truss supports; every member has support >= k-2 >= 1 within
    // the fixpoint subgraph, so the inner join drops nothing
    val members = cert.unionByName(alive)
    (members.join(support(members), Seq("u", "v")),
      (certifyRounds, growRounds))
  }

  /** All triangles of a canonical undirected edge frame, each found once —
    * [[Triangles]]' degree-ordered orientation (per-node oriented
    * out-degree O(√|E|), hubs generate no wedges). Returns (a,b,c) with NO
    * canonical ordering promise beyond "each triangle exactly once". */
  private def trianglesOf(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.toDF("u", "__du"), Seq("u"))
      .join(deg.toDF("v", "__dv"), Seq("v"))
      .select(
        when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
          col("u")).otherwise(col("v")).as("a"),
        when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
          col("v")).otherwise(col("u")).as("b"),
        when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
          col("__dv")).otherwise(col("__du")).as("__db"))
    oriented.select(col("a"), col("b").as("__b"), col("__db"))
      .join(oriented.select(col("a"), col("b").as("__c"),
        col("__db").as("__dc")), Seq("a"))
      .filter(struct(col("__db"), col("__b")) < struct(col("__dc"), col("__c")))
      .join(oriented.select(col("a").as("__b"), col("b").as("__c")),
        Seq("__b", "__c"), "left_semi")
      .select(col("a"), col("__b").as("b"), col("__c").as("c"))
  }

  /** Per-edge triangle support of a canonical undirected edge frame —
    * [[trianglesOf]] exploded to its three canonical edges and counted. */
  private def support(und: DataFrame): DataFrame = {
    trianglesOf(und).select(explode(array(
        struct(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v")),
        struct(least(col("a"), col("c")).as("u"),
          greatest(col("a"), col("c")).as("v")),
        struct(least(col("b"), col("c")).as("u"),
          greatest(col("b"), col("c")).as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("support"))
  }
}
