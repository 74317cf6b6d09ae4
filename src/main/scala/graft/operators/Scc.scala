package graft.operators

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType,
  StructField, StructType}

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
  * Scale shape: every distributed step is a keyed equi-join /
  * map-side-combined min rollup on node- or edge-sized frames, never
  * all-pairs; each wave materializes (`localCheckpoint`, the [[PageRank]]
  * lineage argument). Outer rounds are bounded by the SCC-DAG's level
  * count — small for link graphs (one giant SCC + a shallow fringe),
  * `maxRounds`-capped with a LOUD failure, never a silent partial answer.
  * ROUND COMPRESSION (the MPC argument: once an instance fits one machine,
  * the rest takes one round): when the live graph — nodes plus edges — is
  * at most [[LocalRows]] rows, it is collected in one job and the driver
  * finishes the remaining peel rounds itself with the same two fixpoints
  * (same labels, same round count, same `maxRounds` failure). Above the
  * bound, or for ids of a non-integral type, the rounds stay distributed. */
object Scc {

  /** Live-graph rows (nodes + edges) at or under which the peel finishes on
    * the driver. Sizing, measured with the driver thread's allocation
    * counter on synthetic graphs of 100k and 400k rows (local[2]): a local
    * finish allocates about 96 B per collected row beyond a fixed ~18 MB
    * (the gathered pairs, int endpoints, CSR rows both ways, colour and
    * label arrays), an upper bound on what it holds at once. 1M rows thus
    * stays near 100 MB, a twentieth of the 2 GiB heap perfbench gives the
    * driver. The SCC queries' affinity graph has 400 rows (100 nodes, 300
    * edges) at sf0.001, sf0.01 and sf0.1 alike. */
  private[graft] val LocalRows = 1000000L

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
      maxRounds: Int = 100,
      localRows: Long = LocalRows): (DataFrame, Int) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    val spark = canonE.sparkSession
    var e = canonE // in-loop rounds are freed; the input is the caller's
    var ePrev: DataFrame = null // lazy e defers its parent's free (r18b)
    // ONE scan of e: a lazy e read by both sides of a union is computed by
    // two concurrent tasks, and the block manager keeps only one copy
    var nodes = Loops.checkpoint(e.select(explode(array(col("src"), col("dst")))
      .as("id")).distinct(), eager = false)
    var remaining = Loops.matCount(nodes)
    var result = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], SccSchema)
    var rounds = 0
    def nextRound(): Unit = {
      rounds += 1
      require(rounds <= maxRounds,
        s"SCC did not finish in $maxRounds peel rounds — raise maxRounds")
    }
    // ROUND COMPRESSION: once the live graph fits the driver, finish every
    // remaining peel round there. The driver keys nodes by long: integral
    // ids widen to long exactly, any other id type stays distributed
    val longIds = Seq("src", "dst").forall(c => Seq(ByteType, ShortType,
      IntegerType, LongType).contains(canonE.schema(c).dataType))
    def finishedLocally(): Boolean =
      longIds && remaining <= localRows && {
        // this count materializes a lazy e, whose parent ePrev is freed
        // only after it; the last nodes/e/ePrev are left to the scope
        val edges = Loops.matCount(e)
        remaining + edges <= localRows && {
          result = result.unionByName(peelLocally(
            nodes, remaining.toInt, e, edges.toInt, () => nextRound()))
          true
        }
      }
    while (remaining > 0 && !finishedLocally()) {
      nextRound()
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

  private val SccSchema = StructType(Seq(
    StructField("id", LongType), StructField("scc", LongType)))

  /** The rest of the peel on the driver: the live graph (`n` nodes, `m`
    * edges) arrives in one job, then each round runs the distributed
    * rounds' two fixpoints with a worklist and calls `nextRound` (the shared
    * round count and `maxRounds` check). Returns (id, scc) of every live
    * node. */
  private def peelLocally(nodes: DataFrame, n: Int, e: DataFrame, m: Int,
      nextRound: () => Unit): DataFrame = {
    // a node travels as (id, id), which no edge can be: e is self-loop-free
    val asLong = (c: String) => col(c).cast(LongType)
    val parts = nodes.select(asLong("id"), asLong("id")).queryExecution.toRdd
      .union(e.select(asLong("src"), asLong("dst")).queryExecution.toRdd)
      .mapPartitions { it =>
        val b = new ArrayBuilder.ofLong
        it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
        Iterator.single(b.result())
      }.collect()
    val id = new Array[Long](n)
    var k = 0
    for (p <- parts; i <- p.indices by 2 if p(i) == p(i + 1)) { id(k) = p(i); k += 1 }
    java.util.Arrays.sort(id)
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    k = 0
    for (p <- parts; i <- p.indices by 2 if p(i) != p(i + 1)) {
      src(k) = java.util.Arrays.binarySearch(id, p(i))
      dst(k) = java.util.Arrays.binarySearch(id, p(i + 1))
      k += 1
    }
    // compressed rows: the targets of u are adj(off(u) until off(u + 1))
    def csr(from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
      val off = new Array[Int](n + 1)
      from.foreach(u => off(u + 1) += 1)
      for (u <- 0 until n) off(u + 1) += off(u)
      val fill = off.clone()
      val adj = new Array[Int](m)
      for (k <- 0 until m) { adj(fill(from(k))) = to(k); fill(from(k)) += 1 }
      (off, adj)
    }
    val (outOff, outAdj) = csr(src, dst)
    val (inOff, inAdj) = csr(dst, src)
    val label = Array.fill(n)(-1) // index of the scc's root; -1 while live
    val colour = new Array[Int](n)
    val stack = new Array[Int](n)
    // marks, from the already marked root, every node that `take` accepts
    // and that is reachable through off/adj over accepted nodes; returns
    // the number marked, the root included
    def spread(root: Int, off: Array[Int], adj: Array[Int],
        take: Int => Boolean, mark: Int => Unit): Int = {
      var marked = 1
      var top = 1
      stack(0) = root
      while (top > 0) {
        top -= 1
        val u = stack(top)
        var k = off(u)
        while (k < off(u + 1)) {
          val v = adj(k)
          if (take(v)) { mark(v); stack(top) = v; top += 1; marked += 1 }
          k += 1
        }
      }
      marked
    }
    var live = n
    while (live > 0) {
      nextRound()
      // 1. forward: colour(v) = the least live id reaching v. Roots go in
      // ascending id order, so the first root to reach v is that id
      java.util.Arrays.fill(colour, -1)
      for (r <- 0 until n if label(r) < 0 && colour(r) < 0) {
        colour(r) = r
        spread(r, outOff, outAdj, v => label(v) < 0 && colour(v) < 0,
          v => colour(v) = r)
      }
      // 2. backward: the SCC of root r is its colour class's part that
      // reaches r; 3. those nodes leave the graph
      for (r <- 0 until n if label(r) < 0 && colour(r) == r) {
        label(r) = r
        live -= spread(r, inOff, inAdj,
          u => label(u) < 0 && colour(u) == r, u => label(u) = r)
      }
    }
    val scc = label.map(id(_))
    nodes.sparkSession.createDataFrame(
      nodes.sparkSession.sparkContext.parallelize(Seq((id, scc)), 1).flatMap {
        case (is, ls) => is.indices.iterator.map(i => Row(is(i), ls(i)))
      }, SccSchema)
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
      delta: Option[DataFrame] = None,
      localRows: Long = LocalRows): (DataFrame, (Int, Int)) = {
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
          Loops.checkpoint(labE.select("src", "dst"), eager = false),
          maxRounds, localRows)
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
          maxRounds, localRows)
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
      componentsCanonWithRounds(Loops.checkpoint(ge, eager = false),
        maxRounds, localRows)
    val out = grp.join(solved.toDF("g", "gl"), Seq("g"), "left_outer")
      .select(col("id"), coalesce(col("gl"), col("g")).as("scc"))
    (out, (certifyRounds, solveRounds))
  }
}
