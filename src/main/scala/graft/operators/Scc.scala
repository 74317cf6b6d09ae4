package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** STRONGLY CONNECTED COMPONENTS by iterative coloring (Orzan 2004; the
  * FW-BW family) — the DIRECTED-graph complement of [[Dedup]]'s weakly
  * connected components: mutual-reachability classes of the link graph.
  * The crawl uses: a redirect/alias RING is an SCC its members should
  * canonicalize over; PageRank's "rank sinks" are exactly the terminal
  * SCCs; condensing the graph to its SCC DAG is the preprocessing step of
  * any path analysis that must terminate.
  *
  * Algorithm, each outer round over the REMAINING graph:
  *   1. forward min-label coloring to fixpoint: color(v) = min id that
  *      REACHES v (per-round: one edge join + min rollup + keyed merge —
  *      the [[Bfs]]/[[Sssp]] shape, converging in O(diameter) waves);
  *   2. roots = nodes whose color is their own id (the minimum of each
  *      color class); the SCC of root r is {v : color(v) = r AND v
  *      reaches r}, found by BACKWARD flag propagation restricted to the
  *      color class (same keyed shape over reversed edges);
  *   3. flagged nodes emit (id, scc = color) and leave the graph; every
  *      color class retires at least its root's SCC, so the outer loop
  *      strictly shrinks and terminates.
  * Labels are exact longs with pinned min tie-breaks, so the result is a
  * pure function of the graph — engine-exact, and the q188 oracle needs
  * NO fixed unroll: mutual reachability is a depth-free recursive-CTE
  * closure (UNION-deduped, always finite).
  *
  * Scale shape: every step is a keyed equi-join / map-side-combined min
  * rollup on node- or edge-sized frames, never all-pairs; each wave
  * materializes (`localCheckpoint`, the [[PageRank]] lineage argument).
  * Outer rounds are bounded by the SCC-DAG's level count — small for link
  * graphs (one giant SCC + a shallow fringe), `maxRounds`-capped with a
  * LOUD failure, never a silent partial answer. */
object Scc {

  def components(edges: DataFrame, maxRounds: Int = 100): DataFrame =
    componentsWithRounds(edges, maxRounds)._1

  /** [[components]] plus the number of outer peel rounds taken. `edges`:
    * (src, dst) directed; duplicates collapsed, self-loops dropped (a
    * self-loop never changes mutual reachability). Returns (id, scc) for
    * every node appearing as an endpoint, scc = min member id. */
  def componentsWithRounds(
      edges: DataFrame,
      maxRounds: Int = 100): (DataFrame, Int) =
    componentsCanonWithRounds(
      Loops.checkpoint(edges.filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct(), eager = true),
      maxRounds)

  /** [[componentsWithRounds]] over an ALREADY deduplicated,
    * self-loop-free, ALREADY materialized edge frame — the r18
    * cross-operator factoring (the churn queries hold exactly that frame;
    * the public entry's distinct shuffle + checkpoint is pure waste
    * there). */
  private[graft] def componentsCanonWithRounds(
      canonE: DataFrame,
      maxRounds: Int = 100): (DataFrame, Int) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    val spark = canonE.sparkSession
    var e = canonE // in-loop rounds are freed; the input is the caller's
    var ePrev: DataFrame = null // lazy e defers its parent's free (r18b)
    var nodes = Loops.checkpoint(e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct(), eager = false)
    var remaining = Loops.matCount(nodes)
    var result = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("scc",
          org.apache.spark.sql.types.LongType))))
    var rounds = 0
    while (remaining > 0) {
      rounds += 1
      require(rounds <= maxRounds,
        s"SCC did not finish in $maxRounds peel rounds — raise maxRounds")
      // 1. forward min coloring to fixpoint (init is a pure projection of
      // the checkpointed node frame — nothing to materialize).
      // DELTA PUSH (r17): min-coloring is a monotone semilattice fold, so
      // a node whose color did not improve last wave has nothing new to
      // send — its earlier push is already folded into every neighbor's
      // least(). Joining the edge frame against the CHANGED frontier
      // instead of all colors leaves the per-wave state (and therefore
      // the wave count) bit-identical while the shuffle shrinks to the
      // live frontier — the standard delta-iteration form.
      val seed = nodes.withColumn("color", col("id"))
      var colors = seed // in-loop waves are freed; the seed is a view of nodes
      var frontier = colors // wave 1: every node announces its own id
      val improved = col("__next") < col("color")
      var changed = 1L
      while (changed > 0) {
        val pushed = e
          .join(frontier.select(col("id").as("src"), col("color").as("__c")),
            Seq("src"))
          .groupBy(col("dst").as("id")).agg(min(col("__c")).as("__in"))
        // ONE job per wave: the lazy checkpoint materializes in the count
        // of its improved frontier (r18)
        val next = Loops.checkpoint(
          colors.join(pushed, Seq("id"), "left_outer")
            .select(col("id"), col("color"),
              least(col("color"), coalesce(col("__in"), col("color")))
                .as("__next")), eager = false)
        val improvedRows = next.where(improved)
        changed = Loops.matCount(improvedRows)
        frontier = improvedRows.select(col("id"), col("__next").as("color"))
        if (colors ne seed) Loops.free(colors)
        colors = next.select(col("id"), col("__next").as("color"))
      }
      // 2. backward confirmation within color classes: flag = reaches the
      // class root (seeded at the root itself)
      val flagSeed = colors
        .withColumn("__f", col("color") === col("id"))
      var flags = flagSeed // in-loop waves are freed; the seed views colors
      // DELTA PUSH, backward leg: the flag is a monotone boolean, so only
      // NEWLY flagged nodes have anything to announce (re-announcing an
      // old flag is a no-op through `__f || ...`); wave states and count
      // are identical to the all-flagged push, the shuffle shrinks to the
      // frontier. Wave 1's frontier is the class roots themselves.
      var fFrontier = flags.filter(col("__f"))
        .select(col("id"), col("color"))
      val gainedFlag = col("__nf") && !col("__f")
      changed = 1L
      while (changed > 0) {
        // u gains the flag if some edge u->v has flag(v) with v in u's
        // OWN color class (a u may border several classes — only its own
        // class's flags count, checked after resolving u's color)
        val gained = e
          .join(fFrontier.select(col("id").as("dst"),
            col("color").as("__cv")), Seq("dst"))
          .select(col("src").as("id"), col("__cv"))
          .distinct()
        val gainedMine = gained
          .join(flags.select("id", "color"), Seq("id"))
          .filter(col("__cv") === col("color"))
          .select("id").distinct()
          .withColumn("__g", lit(true))
        // same single-job-per-wave shape as the forward loop
        val next = Loops.checkpoint(
          flags.join(gainedMine, Seq("id"), "left_outer")
            .select(col("id"), col("color"),
              (col("__f") || coalesce(col("__g"), lit(false))).as("__nf"),
              col("__f")), eager = false)
        val gainedRows = next.where(gainedFlag)
        changed = Loops.matCount(gainedRows)
        fFrontier = gainedRows.select(col("id"), col("color"))
        if (flags ne flagSeed) Loops.free(flags)
        flags = next.select(col("id"), col("color"), col("__nf").as("__f"))
      }
      // lazy: found materializes inside the remaining-count job right below
      // (its parent wave frames are freed only AFTER that job — r18b)
      val found = Loops.checkpoint(flags.filter(col("__f"))
        .select(col("id"), col("color").as("scc")), eager = false)
      // the accumulator is a union of checkpointed per-round frames — a
      // flat scan-union plan; re-materializing it every round copied the
      // whole result set O(rounds) times
      result = result.unionByName(found)
      // one job: the round's node checkpoint IS the remaining count (r18) —
      // and the job that materializes `found`
      val nodesNext = Loops.checkpoint(
        nodes.join(found.select("id"), Seq("id"), "left_anti"), eager = false)
      remaining = Loops.matCount(nodesNext)
      // found is materialized now — the wave frames behind it can go (both
      // loops ran at least one wave, so neither is a seed view)
      Loops.free(colors)
      Loops.free(flags)
      // lazy: the next round's first wave materializes the shrunken edge
      // frame; its parents (e, found) are freed one generation later / never
      val eNext = Loops.checkpoint(e
        .join(found.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(found.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .select("src", "dst"), eager = false)
      Loops.free(nodes)
      // e feeds the LAZY eNext — defer its free until eNext materialized
      // (the next round's first wave); the previous generation is dead now
      if (ePrev != null) Loops.free(ePrev)
      ePrev = if (e ne canonE) e else null
      nodes = nodesNext
      e = eNext
    }
    // the last graph frames are left to the entry point's scope
    (result, rounds)
  }

  /** INCREMENTAL SCC maintenance — the q202/q203 certify-then-solve
    * state-maintenance pattern for mutual reachability: given yesterday's
    * SCC labeling and TODAY'S full edge set, recompute the components
    * without re-paying the expensive part of [[components]] — the
    * O(diameter) coloring waves INSIDE the giant component. Two phases:
    *
    *  1. CERTIFY — re-confirm old classes against today's edges. A class's
    *     strong connectivity depends only on its WITHIN-CLASS edges, so
    *     only classes that LOST a within-class edge ("dirty") can split:
    *     with `delta` declared, the dirty classes are re-solved
    *     class-locally (one [[components]] run over the disjoint union of
    *     their induced subgraphs — class-local work, and insert-only
    *     deltas have NO dirty classes, making certification free); without
    *     `delta`, every labeled class is re-solved (sound with zero trust
    *     in the labels). Each refined group is strongly connected in
    *     today's graph, hence contained in a true SCC.
    *  2. CONTRACT + SOLVE — contract each certified group to one node
    *     (contracting a strongly connected set preserves SCC structure),
    *     project ALL of today's edges onto group labels (one pass, two
    *     keyed joins), and run [[components]] on the CONTRACTED graph.
    *     Yesterday's giant SCC is a single contracted node, so the
    *     coloring fixpoint runs at CONDENSATION diameter over
    *     condensation-sized frames — the full recompute's dominant cost
    *     (giant-component coloring waves over all edges) is gone
    *     (`tools/RampProbe5.scala` at `0ab6ae2` measured the crossover on
    *     deep-cycle history).
    *
    * Labels compose exactly: group labels are min member ids (clean
    * classes keep yesterday's label; refined groups and singletons get
    * theirs from the class-local solve), and the contracted solve takes
    * the min group label per merged class — so the final label is the min
    * node id of the merged class, identical to [[components]]; the
    * registered row (q204) pins that output-invariance against the
    * full-recompute oracle verbatim.
    *
    * Contract: without `delta`, `oldScc` is never trusted (garbage labels
    * only cost work — empty degrades to exactly [[components]]). WITH
    * `delta`, `oldScc` must be yesterday's true labeling and `delta` must
    * cover the edge symmetric difference (the [[KCore.maintain]] IVM
    * contract — a missed deletion voids the dirty-class detection);
    * insertions included in `delta` are harmless (they are today-present
    * and thus not deletions). */
  def maintain(edges: DataFrame, oldScc: DataFrame,
               maxRounds: Int = 100,
               delta: Option[DataFrame] = None): DataFrame =
    maintainWithRounds(edges, oldScc, maxRounds, delta)._1

  /** [[maintain]] plus (certifyRounds, solveRounds) — the outer peel
    * rounds of the class-local and contracted solves, for the
    * incremental-work honesty asserts (q204 pins certifyRounds == 0 on
    * its insert-only delta). */
  def maintainWithRounds(
      edgesDf: DataFrame,
      oldScc: DataFrame,
      maxRounds: Int = 100,
      delta: Option[DataFrame] = None): (DataFrame, (Int, Int)) =
    maintainCanonWithRounds(
      Loops.checkpoint(edgesDf.filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct(), eager = true),
      oldScc, maxRounds, delta)

  /** [[maintainWithRounds]] over an ALREADY deduplicated, self-loop-free,
    * ALREADY materialized TODAY edge frame (the
    * [[componentsCanonWithRounds]] factoring). */
  private[graft] def maintainCanonWithRounds(
      canonE: DataFrame,
      oldScc: DataFrame,
      maxRounds: Int = 100,
      delta: Option[DataFrame] = None): (DataFrame, (Int, Int)) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    val e = canonE
    // one-off frames, never freed: LAZY checkpoints — each materializes in
    // its first consumer's job instead of paying an eager count job (r18b)
    val nodes = Loops.checkpoint(e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct(), eager = false)
    val prev = Loops.checkpoint(oldScc.select(col("id"), col("scc")).distinct(),
      eager = false)
    // ONE labeled edge frame serves BOTH phases (r18 — labE and ge each
    // re-joined the node-sized label map into the full edge frame twice,
    // four big-side label joins per maintain; now the two prev joins run
    // once into a checkpointed frame, and the contract phase below
    // re-labels it with only the SMALL changed-node override)
    val eLab = Loops.checkpoint(e
      .join(prev.toDF("src", "__gs"), Seq("src"), "left_outer")
      .join(prev.toDF("dst", "__gd"), Seq("dst"), "left_outer"), eager = false)
    // within-class edges by yesterday's labels (class connectivity
    // depends on nothing else; a NULL label never equals anything, exactly
    // the old inner join)
    val labE = eLab.filter(col("__gs") === col("__gd"))
      .select(col("src"), col("dst"), col("__gs").as("gs"))
    val (group, certifyRounds) = delta match {
      case None =>
        // trust nothing: re-solve every class-induced subgraph (their
        // disjoint union — one run); unlabeled or refined-away nodes
        // fall back to singleton groups. labE is a filter/projection of
        // the checkpointed eLab: already deduplicated (one row per canonical
        // edge) and self-loop-free, so the canon entry skips the public
        // entry's full re-distinct shuffle; the lazy checkpoint materializes
        // in the solve's first node-count job (r18b)
        val (refined, r) = componentsCanonWithRounds(
          Loops.checkpoint(labE.select("src", "dst"), eager = false), maxRounds)
        (nodes.join(refined.toDF("id", "g"), Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("g"), col("id")).as("g")), r)
      case Some(d) =>
        // no inner distinct (r18b): deletions only feed the dirty-class
        // set, which is distinct'd below — duplicate delta rows only cost
        // duplicate probe rows through the two label joins, never wrong
        // classes, and the old distinct was a redundant exchange per call
        val deletions = d.filter(col("src") =!= col("dst"))
          .select("src", "dst")
          .join(e, Seq("src", "dst"), "left_anti")
        val dirty = Loops.checkpoint(deletions
          .join(prev.toDF("src", "gs"), Seq("src"))
          .join(prev.toDF("dst", "gd"), Seq("dst"))
          .filter(col("gs") === col("gd"))
          .select(col("gs").as("scc")).distinct(), eager = false)
        // same canon-entry argument as the None branch: a semi-join of the
        // deduplicated within-class edges stays deduplicated (r18b)
        val (refined, r) = componentsCanonWithRounds(
          Loops.checkpoint(labE.join(dirty.toDF("gs"), Seq("gs"), "left_semi")
            .select("src", "dst"), eager = false),
          maxRounds)
        // dirty classes: refined label (or singleton for members that
        // lost every within-class edge); clean classes: yesterday's
        // label; unlabeled (new) nodes: singleton
        (nodes.join(prev, Seq("id"), "left_outer")
          .join(dirty.withColumn("__dirty", lit(true)), Seq("scc"),
            "left_outer")
          .join(refined.toDF("id", "__rg"), Seq("id"), "left_outer")
          .select(col("id"),
            when(col("__dirty").isNotNull,
              coalesce(col("__rg"), col("id")))
              .otherwise(coalesce(col("scc"), col("id"))).as("g")), r)
    }
    val grp = Loops.checkpoint(group, eager = false)
    // contract and solve on the condensation-sized graph. grp differs from
    // the coalesce(prev, id) fallback eLab already carries only on CHANGED
    // nodes (dirty-class members, refined-away or unlabeled nodes) — a
    // delta-neighborhood-sized frame — so the contraction re-labels the
    // checkpointed eLab with the small override instead of re-joining the
    // full node-sized label map into the edge frame twice (the override
    // side is runtime-broadcastable under AQE at any scale)
    val changed = Loops.checkpoint(grp
      .join(prev.toDF("id", "__ps"), Seq("id"), "left_outer")
      .filter(col("g") =!= coalesce(col("__ps"), col("id")))
      .select(col("id"), col("g")), eager = false)
    val ge = eLab
      .join(changed.toDF("src", "__ns"), Seq("src"), "left_outer")
      .join(changed.toDF("dst", "__nd"), Seq("dst"), "left_outer")
      .select(
        coalesce(col("__ns"), col("__gs"), col("src")).as("gs"),
        coalesce(col("__nd"), col("__gd"), col("dst")).as("gd"))
      .filter(col("gs") =!= col("gd"))
      .select(col("gs").as("src"), col("gd").as("dst"))
      .distinct()
    // ge already filters gs ≠ gd and deduplicates — the canon entry skips
    // the public entry's second identical distinct shuffle (r18b)
    val (solved, solveRounds) =
      componentsCanonWithRounds(Loops.checkpoint(ge, eager = false), maxRounds)
    val out = grp.join(solved.toDF("g", "gl"), Seq("g"), "left_outer")
      .select(col("id"), coalesce(col("gl"), col("g")).as("scc"))
    (out, (certifyRounds, solveRounds))
  }
}
