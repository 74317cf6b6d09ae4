package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-CORE decomposition by iterative peeling (Seidman 1983; Batagelj &
  * Zaveršnik 2003) — the maximal subgraph in which every node has degree
  * ≥ k. The link-graph robustness signal next to [[Triangles]]' local
  * clustering: spam rings and boilerplate mirror farms sit in dense cores,
  * pendant chains and one-off outlinks peel away; "is this host in the
  * 3-core of the link graph" is a standard crawl-quality feature, and the
  * core is also the cheap pre-filter before triangle/community work
  * (everything outside the 2-core is triangle-free by construction).
  *
  * Scale shape: each peel round is ONE degree rollup (map-side combined
  * count per endpoint) plus two left-semi equi-joins filtering the edge
  * list to surviving endpoints — keyed shuffles only, never all-pairs. The
  * edge frame shrinks monotonically, so later rounds cost less than
  * earlier ones; each round materializes (`localCheckpoint`, the
  * [[PageRank]]/[[Bfs]] lineage argument) and the loop stops the first
  * round that removes nothing. Rounds are bounded by the longest peel
  * chain — the pathological case is a bare path (n/2 rounds), but link
  * graphs peel in a handful of waves; `maxRounds` hard-caps the
  * pathology. Degrees are exact longs end-to-end, so the result is
  * engine-exact and DuckDB-oracle-able by an unrolled peel-layer chain
  * (q176): layer i = degrees of layer i−1's edges, keep nodes ≥ k, keep
  * edges with both endpoints kept — monotone, so any unroll depth ≥ the
  * converged wave count yields the identical fixpoint.
  */
object KCore {

  /** `edges`: (src, dst) directed or undirected; duplicates, direction
    * pairs, and self-loops tolerated (collapsed to canonical undirected
    * edges, self-loops dropped — a self-loop never certifies core
    * membership). Returns (node, core_deg) for every member of the k-core,
    * `core_deg` = the node's degree WITHIN the core (≥ k by definition). */
  def core(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame =
    coreWithRounds(edges, k, maxRounds)._1

  /** [[core]] plus the number of peel rounds actually run — the fixpoint is
    * proven iff the loop stopped before `maxRounds` (the final round
    * removed nothing); callers pinning an unrolled fixed-depth oracle
    * (q176) assert the returned count against their unroll depth. */
  def coreWithRounds(
      edges: DataFrame,
      k: Int,
      maxRounds: Int = 100): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    // one job: the canonical frame's checkpoint IS the peel's entry count
    // (r18b — the eager checkpoint + matCount pair was two)
    val cur = Loops.checkpoint(edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = false)
    peel(cur, k, maxRounds, knownCount = Loops.matCount(cur))
  }

  private def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** The peel loop over an ALREADY canonical, ALREADY materialized
    * undirected edge frame — the r17 factoring that lets [[coreness]] /
    * [[corenessMaintain]] (which hold such a frame per shell level) skip
    * the per-level re-canonicalization: a full distinct shuffle plus a
    * redundant checkpoint of an unchanged frame, once per k. Returns the
    * FIXPOINT EDGE FRAME (already materialized — it is the last round's
    * checkpoint): the core-induced subgraph [[coreness]] would otherwise
    * re-derive per level with two more semi-joins and a checkpoint. */
  private[operators] def peelEdges(
      canonUnd: DataFrame,
      k: Int,
      maxRounds: Int,
      knownCount: Long = -1L): (DataFrame, Int, Long) = {
    var cur = canonUnd // in-loop rounds are freed; the input is the caller's
    // callers that materialized the input with a counted checkpoint pass
    // the count in —
    // the entry re-count job disappears (r18b)
    var nEdges = if (knownCount >= 0L) knownCount else Loops.matCount(cur)
    var rounds = 0
    var converged = nEdges == 0L
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val alive = degrees(cur).filter(col("deg") >= k).select("node")
      // one job: the round's checkpoint IS its convergence count (r18)
      val next = Loops.checkpoint(cur
        .join(alive.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(alive.withColumnRenamed("node", "v"), Seq("v"), "left_semi"),
        eager = false)
      val n = Loops.matCount(next)
      // a peeled node always owns ≥ 1 surviving edge (degree ≥ 1 — nodes
      // exist only as edge endpoints), so edge-count fixpoint ⟺ node
      // fixpoint: nothing removed means the peel is done
      converged = n == nEdges
      // the superseded round's blocks are released immediately (r18 —
      // dead rounds otherwise pile up in the block manager for the session)
      if (cur ne canonUnd) Loops.free(cur)
      cur = next
      nEdges = n
    }
    require(converged,
      s"k-core did not converge in $maxRounds peel rounds — raise maxRounds")
    // the fixpoint's edge count rides along: the shell loop's per-level
    // emptiness check is then free (r18)
    (cur, rounds, nEdges)
  }

  /** [[peelEdges]] reduced to the (node, core_deg) membership view. */
  private[graft] def peel(
      canonUnd: DataFrame,
      k: Int,
      maxRounds: Int,
      knownCount: Long = -1L): (DataFrame, Int) = {
    val (cur, rounds, _) = peelEdges(canonUnd, k, maxRounds, knownCount)
    (degrees(cur).withColumnRenamed("deg", "core_deg"), rounds)
  }

  /** FULL CORENESS (k-shell) DECOMPOSITION — every node's maximum k such
    * that it sits in the k-core (Seidman's shell index): the graded form
    * of [[core]]'s single-threshold membership, and the standard
    * one-number node centrality for "how deep in the web of mutual links
    * does this host live" (spam cores have high shells, pendant fringe
    * shell 1). Computed by the nesting property — the k-core of G equals
    * the k-core of the (k−1)-core — so each k peels only the PREVIOUS
    * core's edges: outer iterations = the graph's degeneracy (≤ √(2m),
    * tiny for bounded-degree link graphs; `maxK` hard-caps with a LOUD
    * failure), each one a [[coreWithRounds]] run on a monotonically
    * shrinking frame. Shell indices are exact longs, so the result is
    * engine-exact and oracle-able by nested unrolled peel chains (q209:
    * one fixed-depth chain per k, each seeded by the previous fixpoint —
    * the q176 contract, graded). */
  def coreness(edges: DataFrame, maxK: Int = 64,
               maxRounds: Int = 100): DataFrame =
    corenessWithStats(edges, maxK, maxRounds)._1

  /** [[coreness]] plus (degeneracy, roundsPerK) — the outer shell count
    * actually reached and each k's peel-round count, for the fixed-unroll
    * oracle asserts (q209 pins roundsPerK under its per-k unroll and
    * degeneracy under the oracle's chain count). */
  def corenessWithStats(
      edges: DataFrame,
      maxK: Int = 64,
      maxRounds: Int = 100): (DataFrame, (Int, Seq[Int])) =
    corenessCanonWithStats(
      Loops.checkpoint(edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct(), eager = true),
      maxK, maxRounds)

  /** [[corenessWithStats]] over an ALREADY canonical, ALREADY materialized
    * edge frame — the r18 cross-operator factoring (the maintenance
    * queries hold exactly that frame; the public entry's distinct shuffle
    * + checkpoint is pure waste there). */
  private[graft] def corenessCanonWithStats(
      canonUnd: DataFrame,
      maxK: Int = 64,
      maxRounds: Int = 100): (DataFrame, (Int, Seq[Int])) = {
    require(maxK >= 1, s"maxK must be >= 1 (got $maxK)")
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    var cur = canonUnd
    def endpoints(e: DataFrame): DataFrame =
      e.select(col("u").as("node"))
        .unionByName(e.select(col("v").as("node"))).distinct()
    // every edge endpoint has degree >= 1: shell starts at 1.
    // acc is consumed only by the final rollup — lazy checkpoint (r18b)
    var acc =
      Loops.checkpoint(endpoints(cur).withColumn("k", lit(1L)), eager = false)
    var k = 1
    var rounds = List.empty[Int]
    // the entry count doubles as level 2's peel entry count (r18b — the
    // emptiness probe and the first peel's matCount were two jobs)
    var nCur = Loops.matCount(cur)
    var done = nCur == 0L
    while (!done) {
      k += 1
      require(k <= maxK,
        s"coreness passed maxK=$maxK without exhausting the graph — " +
          "raise maxK (degeneracy larger than expected)")
      // cur is canonical and checkpointed — peel directly (no per-level
      // re-canonicalization distinct + checkpoint), and take the fixpoint
      // EDGE frame: it IS the k-core-induced subgraph this loop used to
      // re-derive with two semi-joins + a checkpoint per level (r17); its
      // entry count rides in from the previous level's fixpoint (r18b)
      val (coreEdges, r, nCore) = peelEdges(cur, k, maxRounds,
        knownCount = nCur)
      rounds = rounds :+ r
      // k >= 2 here, so core members all carry an in-core edge: the edge
      // frame is empty exactly when the member set is (count carried out
      // of the peel — no extra job, r18)
      if (nCore == 0L) done = true
      else {
        // lazy union of checkpointed per-level member frames — acc is only
        // consumed by the final rollup, so re-materializing it every level
        // copied the whole shell assignment O(degeneracy) times (r17)
        acc = acc.unionByName(
          endpoints(coreEdges).withColumn("k", lit(k.toLong)))
        cur = coreEdges
        nCur = nCore
      }
    }
    (acc.groupBy("node").agg(max(col("k")).as("coreness")),
      (k - 1, rounds))
  }

  /** INCREMENTAL k-core maintenance — the daily-delta form of [[core]]
    * (the q186/q199 state-maintenance pattern applied to the peel family):
    * given yesterday's core membership and TODAY'S full edge set, recompute
    * the k-core touching only the affected neighborhood instead of
    * re-peeling history. Two phases, both sound under ARBITRARY deltas
    * (insertions AND deletions):
    *
    *  1. CERTIFY — re-peel WITHIN the old-core induced subgraph of the new
    *     edges. Any subgraph with internal min-degree ≥ k is contained in
    *     the maximal one, so the survivors are provably inside the new
    *     core. Under insert-only deltas this converges in one no-op check
    *     (the k-core is monotone under edge addition); a deletion cascades
    *     only through the old-core neighborhood it actually touches.
    *  2. GROW — standard peeling restricted to the CANDIDATES (every node
    *     not certified, including phase-1 evictees, who may re-enter via
    *     new edges): a candidate's degree splits into a STATIC part (edges
    *     into the certified set — certified nodes never peel, so computed
    *     once) plus the live candidate–candidate part; each round is one
    *     candidate-sized degree rollup + two semi-joins on the shrinking
    *     candidate edge frame. With a bounded daily delta the candidate
    *     set is delta-neighborhood-sized, not history-sized — that is the
    *     incremental-vs-full crossover (RampProbe5 measures it).
    *
    * With `delta` provided — the canonical edges that CHANGED since
    * yesterday (insertions and deletions together; the standard
    * incremental-view-maintenance contract: it must cover the symmetric
    * difference, a missed change voids the certificate like a missed row
    * voids any IVM) — the grow phase first closes the delta endpoints
    * (plus certify evictees) over candidate-candidate adjacency and peels
    * ONLY that affected component: an unaffected candidate has, by
    * closure, no affected neighbor, so its yesterday-out status is its
    * today-out status (insert near it would have seeded it; deletion near
    * it only lowers degrees). That is the "a daily delta only ever peels
    * or un-peels a bounded neighborhood" bound — grow work scales with
    * the DELTA NEIGHBORHOOD, not with the non-core history (RampProbe5:
    * full recompute re-pays the whole peel cascade over all history every
    * day; maintenance does not). Without `delta`, every non-certified
    * node is a candidate (sound with zero caller knowledge, but grow then
    * re-peels the non-core fringe of all history).
    *
    * Peeling with a protected set that provably never peels reaches the
    * SAME fixpoint as [[core]] from scratch — the registered row (q202)
    * pins that output-invariance against the full-recompute oracle
    * verbatim. Output matches [[core]]: (node, core_deg ≥ k), final
    * degrees from ONE pass over the core-induced edges. `oldCore` may be
    * stale, partial, or empty (empty degrades to exactly [[core]]) —
    * soundness never depends on it, only the WORK SAVED does. */
  def maintain(edges: DataFrame, oldCore: DataFrame, k: Int,
               maxRounds: Int = 100,
               delta: Option[DataFrame] = None): DataFrame =
    maintainWithRounds(edges, oldCore, k, maxRounds, delta)._1

  /** [[maintain]] plus (certifyRounds, growRounds) for unroll pinning and
    * the incremental-work honesty asserts. */
  def maintainWithRounds(
      edges: DataFrame,
      oldCore: DataFrame,
      k: Int,
      maxRounds: Int = 100,
      delta: Option[DataFrame] = None): (DataFrame, (Int, Int)) = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    val und = Loops.checkpoint(edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = true)
    maintainCanon(und, oldCore, k, maxRounds, delta)
  }

  /** [[maintainWithRounds]] over an ALREADY canonical, ALREADY
    * materialized edge frame — the [[peel]] factoring applied to the
    * maintenance entry, so [[corenessMaintain]] (which holds such a frame
    * per shell level) skips a per-level distinct shuffle + checkpoint.
    * Also returns the (lazy) core-induced EDGE frame, which
    * [[corenessMaintain]] uses as the next level's input instead of
    * re-deriving it with two more semi-joins. */
  private[operators] def maintainCanonEdges(
      und: DataFrame,
      oldCore: DataFrame,
      k: Int,
      maxRounds: Int,
      delta: Option[DataFrame],
      prevCanon: Boolean = false): (DataFrame, DataFrame, (Int, Int)) = {
    // prevCanon (r18b): the caller's old-core frame is ALREADY distinct and
    // a narrow view of a checkpointed frame ([[corenessMaintain]]'s
    // per-level coreness filter) — the distinct shuffle + checkpoint here
    // was pure per-level waste
    val prev =
      if (prevCanon) oldCore.select(col("node"))
      else Loops.checkpoint(oldCore.select(col("node")).distinct(), eager = true)
    // phase 1 — certify: the old-core induced subgraph, re-peeled (it is
    // already canonical/distinct — semi-joins of a canonical frame). One
    // job: the induced frame's checkpoint IS the peel's entry count (r18b)
    val induced = Loops.checkpoint(und
      .join(prev.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
      .join(prev.withColumnRenamed("node", "v"), Seq("v"), "left_semi"),
      eager = false)
    val (certCore, certifyRounds) =
      peel(induced, k, maxRounds, knownCount = Loops.matCount(induced))
    // consumed by the candidate anti-join right below — lazy (r18b)
    val cert = Loops.checkpoint(certCore.select("node"), eager = false)
    // phase 2 — grow: candidate adjacency and the static certified degrees.
    // One job: the candidate frame's checkpoint IS the emptiness probe the
    // early exit below needs (r18b)
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(und.select(col("v").as("node"), col("u").as("nbr")))
    val candAdjAll =
      Loops.checkpoint(adj.join(cert, Seq("node"), "left_anti"), eager = false)
    val nCandAll = Loops.matCount(candAdjAll)
    val (candAdj, nCand) = delta match {
      case None => (candAdjAll, nCandAll)
      case Some(d) =>
        // close (delta endpoints ∪ certify evictees) over the
        // candidate-candidate adjacency: the affected component — every
        // candidate whose membership COULD move today (see the Scaladoc
        // soundness argument); everything else keeps yesterday's status.
        // Closure idiom: frontier hops (O(closure-diameter) rounds over
        // frames that shrink to the live frontier). The star-CC
        // alternative (Dedup.connectedComponentsLogRoundsStrict over the
        // candidate adjacency, O(log d) rounds) was A/B-measured: FLAT on
        // q202 (10.2 vs 10.3 s) and +27% on q203's dense fringe — its
        // per-round cost (two shuffled aggs + checksum) only pays off on
        // deep-chain deltas, where maxRounds here would fail loudly first;
        // swap it in for that regime.
        // consumed per closure hop — lazy, materializes in hop 1 (r18b)
        val ccAdj = Loops.checkpoint(candAdjAll
          .join(cert.withColumnRenamed("node", "nbr"), Seq("nbr"),
            "left_anti"), eager = false)
        val dl = d.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"))
        val evictees = prev.join(cert, Seq("node"), "left_anti")
        // one job: the seed frame's checkpoint IS its emptiness check (r18b)
        var affected = Loops.checkpoint(dl.select(col("u").as("node"))
          .unionByName(dl.select(col("v").as("node")))
          .distinct()
          .join(cert, Seq("node"), "left_anti")
          .unionByName(evictees)
          .distinct(), eager = false)
        var frontier = affected
        var closed = Loops.matCount(affected) == 0L
        var hops = 0
        while (!closed) {
          hops += 1
          require(hops <= maxRounds,
            s"affected-component closure exceeded maxRounds=$maxRounds —" +
              " raise it (a deep candidate chain hangs off the delta)")
          // one job: checkpoint + emptiness check share the count (r18)
          val next = Loops.checkpoint(frontier.join(ccAdj, Seq("node"))
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
        // one job: the restricted candidate frame's checkpoint IS the
        // emptiness probe the early exit below needs (r18b)
        val cand = Loops.checkpoint(
          candAdjAll.join(affected, Seq("node"), "left_semi")
            // an edge into an UNAFFECTED candidate never counts: that
            // neighbor stays out today by the closure argument
            .join(affected.withColumnRenamed("node", "nbr")
                .unionByName(cert.withColumnRenamed("node", "nbr")),
              Seq("nbr"), "left_semi"), eager = false)
        (cand, Loops.matCount(cand))
    }
    // r17 early exit: with no candidates (deep shells under a bounded
    // delta — certification alone closes the level) the grow phase is a
    // no-op; skip its three materializations and the convergence loop
    if (nCand == 0L) {
      val coreEdges = und
        .join(cert.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(cert.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
      val out = coreEdges.select(col("u").as("node"))
        .unionAll(coreEdges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("core_deg"))
      return (out, coreEdges, (certifyRounds, 0))
    }
    // consumed every grow round — lazy, materializes in round 1 (r18b)
    val staticDeg = Loops.checkpoint(candAdj
      .join(cert.withColumnRenamed("node", "nbr"), Seq("nbr"), "left_semi")
      .groupBy("node").agg(count(lit(1)).as("sdeg")), eager = false)
    var ccEdges = Loops.checkpoint(candAdj
      .join(cert.withColumnRenamed("node", "nbr"), Seq("nbr"), "left_anti"),
      eager = false)
    // the LAZY next-round edge frame references its parent — frees defer
    // one generation (storage rule 2 in [[Loops]], r18b)
    var ccEdgesPrev: DataFrame = null
    var alive = Loops.checkpoint(candAdj.select("node").distinct(), eager = false)
    var nAlive = Loops.matCount(alive)
    var growRounds = 0
    var converged = nAlive == 0L
    while (!converged && growRounds < maxRounds) {
      growRounds += 1
      val ccDeg = ccEdges.groupBy("node").agg(count(lit(1)).as("cdeg"))
      // one job: the round's checkpoint IS its convergence count (r18) —
      // and the job that materializes the round's lazy edge frame
      val next = Loops.checkpoint(alive
        .join(staticDeg, Seq("node"), "left_outer")
        .join(ccDeg, Seq("node"), "left_outer")
        .filter(coalesce(col("sdeg"), lit(0L)) +
          coalesce(col("cdeg"), lit(0L)) >= k)
        .select("node"), eager = false)
      val n = Loops.matCount(next)
      converged = n == nAlive
      // the round's edge frame is materialized now — its grandparent is
      // provably dead (the parent may still feed the next lazy frame)
      if (ccEdgesPrev != null) Loops.free(ccEdgesPrev)
      if (!converged) {
        val nextE = Loops.checkpoint(ccEdges
          .join(next, Seq("node"), "left_semi")
          .join(next.withColumnRenamed("node", "nbr"), Seq("nbr"),
            "left_semi"), eager = false)
        ccEdgesPrev = ccEdges; ccEdges = nextE
      } else ccEdgesPrev = null
      Loops.free(alive)
      alive = next
      nAlive = n
    }
    require(converged,
      s"incremental k-core grow phase did not converge in $maxRounds " +
        "rounds — raise maxRounds")
    // final membership + ONE full-edge pass for in-core degrees
    val members = cert.unionByName(alive)
    val coreEdges = und
      .join(members.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
      .join(members.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
    val out = coreEdges.select(col("u").as("node"))
      .unionAll(coreEdges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
    (out, coreEdges, (certifyRounds, growRounds))
  }

  /** [[maintainCanonEdges]] reduced to the membership view. */
  private[graft] def maintainCanon(
      und: DataFrame,
      oldCore: DataFrame,
      k: Int,
      maxRounds: Int,
      delta: Option[DataFrame],
      prevCanon: Boolean = false): (DataFrame, (Int, Int)) = {
    val (out, _, stats) =
      maintainCanonEdges(und, oldCore, k, maxRounds, delta, prevCanon)
    (out, stats)
  }

  /** INCREMENTAL CORENESS maintenance — [[coreness]] under daily graph
    * deltas, assembled from [[maintain]] via the nesting property: the
    * k-core of G is the k-core of the (k−1)-core, so each shell level k
    * runs ONE [[maintain]] call whose old core is yesterday's "coreness
    * ≥ k" set and whose edge frame is TODAY'S (k−1)-core induced
    * subgraph. Per level, the effective delta is widened beyond the raw
    * edge delta to every frame edge incident to a node that NEWLY entered
    * level k−1 today (its whole edge set is new to this level's frame —
    * exactly the insertions the raw delta cannot see); demotions need no
    * seeding at all, because [[maintain]]'s certify phase re-peels the
    * old core against today's frame EXACTLY (any node weakened by a raw
    * deletion or a cascade eviction either survives certification
    * legitimately or becomes a seeded evictee), and edge REMOVALS from a
    * level frame can only lower non-core degrees — an out node stays out.
    * So per-level grow work is bounded by the delta neighborhood at that
    * level, which SHRINKS as k rises (a bounded daily delta rarely
    * reaches the deep shells — certification alone closes them).
    *
    * Same IVM contract as [[maintain]]: `delta` must cover the raw edge
    * symmetric difference; `oldCoreness` must be yesterday's true
    * coreness when `delta` is declared (with `delta = None` it is never
    * trusted — garbage only costs work; empty degrades to exactly
    * [[coreness]]). Output matches [[coreness]]: (node, coreness),
    * output-invariant vs the full recompute (the q202/q209 disciplines
    * composed — the registered row pins it against q209's oracle chain
    * VERBATIM). */
  def corenessMaintain(edges: DataFrame, oldCoreness: DataFrame,
                       delta: Option[DataFrame] = None, maxK: Int = 64,
                       maxRounds: Int = 100): DataFrame =
    corenessMaintainWithStats(edges, oldCoreness, delta, maxK, maxRounds)._1

  /** [[corenessMaintain]] plus (degeneracy, per-level (certifyRounds,
    * growRounds)) for the unroll pinning and incremental-work honesty
    * asserts (the q202/q209 contracts). */
  def corenessMaintainWithStats(
      edges: DataFrame,
      oldCoreness: DataFrame,
      delta: Option[DataFrame] = None,
      maxK: Int = 64,
      maxRounds: Int = 100): (DataFrame, (Int, Seq[(Int, Int)])) =
    corenessMaintainCanonWithStats(
      Loops.checkpoint(edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct(), eager = true),
      oldCoreness, delta, maxK, maxRounds)

  /** [[corenessMaintainWithStats]] over an ALREADY canonical, ALREADY
    * materialized TODAY edge frame (the [[corenessCanonWithStats]]
    * factoring). */
  private[graft] def corenessMaintainCanonWithStats(
      canonUnd: DataFrame,
      oldCoreness: DataFrame,
      delta: Option[DataFrame] = None,
      maxK: Int = 64,
      maxRounds: Int = 100): (DataFrame, (Int, Seq[(Int, Int)])) = {
    require(maxK >= 1, s"maxK must be >= 1 (got $maxK)")
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    var cur = canonUnd
    // one-off frames, never freed: LAZY checkpoints, each materializes in
    // its first consumer's job (r18b)
    val prevC = Loops.checkpoint(
      oldCoreness.select(col("node"), col("coreness")).distinct(), eager = false)
    val dl = delta.map(d => Loops.checkpoint(d.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct(), eager = false))
    def endpoints(e: DataFrame): DataFrame =
      e.select(col("u").as("node"))
        .unionByName(e.select(col("v").as("node"))).distinct()
    var acc =
      Loops.checkpoint(endpoints(cur).withColumn("k", lit(1L)), eager = false)
    var prevMembers = acc.select("node")
    var k = 1
    var stats = List.empty[(Int, Int)]
    var done = Loops.matIsEmpty(cur)
    while (!done) {
      k += 1
      require(k <= maxK,
        s"corenessMaintain passed maxK=$maxK without exhausting the " +
          "graph — raise maxK (degeneracy larger than expected)")
      val oldK = prevC.filter(col("coreness") >= k).select("node")
      val deltaK = dl.map { d =>
        // nodes at TODAY'S level k−1 that were not at YESTERDAY'S: their
        // entire frame adjacency is new to this level — widen the delta.
        // (An r18 A/B probed `newly.isEmpty` first to skip the widening on
        // quiet levels: +4 jobs on q217 — the registered deltas promote
        // nodes at every level, so the probe never pays here; reverted.)
        val newly = prevMembers.join(
          prevC.filter(col("coreness") >= k - 1).select("node"),
          Seq("node"), "left_anti")
        // inc may carry duplicates (an edge with both endpoints newly
        // promoted appears twice) — the single distinct over the union
        // below dedups everything; the old inner distinct was a redundant
        // extra exchange per level (r18b)
        val inc = cur
          .join(newly.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
          .unionByName(cur.join(newly.withColumnRenamed("node", "v"),
            Seq("v"), "left_semi"))
        d.unionByName(inc).distinct()
          .select(col("u").as("src"), col("v").as("dst"))
      }
      // cur is canonical and checkpointed — maintain directly (no
      // per-level re-canonicalization), and take the maintained core's
      // EDGE frame as the next level's input (it used to be re-derived
      // with two semi-joins + a second checkpoint per level). oldK is a
      // narrow filter of the checkpointed prevC — prevCanon skips the
      // per-level re-distinct + checkpoint inside the maintain (r18b;
      // soundness never needs the distinct — every consumer is a
      // semi/anti-join or feeds one more distinct)
      val (_, coreEdges, (cr, gr)) =
        maintainCanonEdges(cur, oldK, k, maxRounds, deltaK,
          prevCanon = true)
      stats = stats :+ ((cr, gr))
      // one job: the level's checkpoint IS its emptiness check (r18)
      val curNext = Loops.checkpoint(coreEdges, eager = false)
      // k >= 2 here: the core's edge frame is empty iff its member set is
      if (Loops.matCount(curNext) == 0L) done = true
      else {
        val members = endpoints(curNext)
        // lazy union of checkpointed per-level member frames — acc is only
        // consumed by the final rollup, so re-materializing it every level
        // copied the whole shell assignment O(degeneracy) times (r17)
        acc = acc.unionByName(members.withColumn("k", lit(k.toLong)))
        cur = curNext
        prevMembers = members
      }
    }
    (acc.groupBy("node").agg(max(col("k")).as("coreness")),
      (k - 1, stats))
  }
}
