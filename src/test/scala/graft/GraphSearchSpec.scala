package graft

import java.nio.file.Paths
import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.operators.{Bm25, Loops, PageRank, SnapshotDiff}
import graft.queries.{GraphMaintenanceQueries, GraphQueries, Queries, Shared}

/** Unit fixtures for the r12 additions: BM25 batch retrieval, damped
  * PageRank, and the keyed snapshot diff. */
class GraphSearchSpec extends SparkSpec {

  import spark.implicits._

  // ---------------------------------------------------------------- PageRank

  test("pageRank: symmetric 2-cycle splits rank evenly, mass conserved") {
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val out = PageRank.run(edges, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) === 0.5 && out(2L) === 0.5)
  }

  test("pageRank: dangling node's mass redistributes, sum stays 1") {
    // 1 -> 2; node 2 has no out-edges. Hand-computed iteration 1 at d=0.85:
    //   dangling mass = rank(2) = 0.5
    //   rank'(1) = 0.15/2 + 0.85*(0.5/2)            = 0.2875
    //   rank'(2) = 0.15/2 + 0.85*(0.5/2) + 0.85*0.5 = 0.7125
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val out = PageRank.run(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 0.2875) < 1e-15)
    assert(math.abs(out(2L) - 0.7125) < 1e-15)
    val out3 = PageRank.run(edges, iters = 3).collect().map(_.getDouble(1))
    assert(math.abs(out3.sum - 1.0) < 1e-12)
  }

  test("pageRank: edge weights split the source's contribution 3:1") {
    // 1 -> 2 (w=3), 1 -> 3 (w=1); 2 and 3 are otherwise identical, so the
    // difference in their ranks is exactly d * rank(1) * (3/4 - 1/4).
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val out = PageRank.run(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val third = 1.0 / 3.0
    assert(math.abs((out(2L) - out(3L)) - 0.85 * third * 0.5) < 1e-15)
  }

  test("pageRank: rejects bad iteration count and damping") {
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException](PageRank.run(edges, iters = 0))
    intercept[IllegalArgumentException](PageRank.run(edges, iters = 1, damping = 1.0))
  }

  test("pageRank: non-positive edge weight fails fast, not NaN-poisons") {
    // w = 0 on one of a source's edges zeroes nothing by itself, but w <= 0
    // is outside the contract: the operator must raise with the edge named,
    // never emit a rank (silent NaN/∞ propagation was the failure mode)
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 0L)).toDF("src", "dst", "w")
    val e = intercept[Exception](PageRank.run(edges, iters = 1).collect())
    assert(e.getMessage != null && e.getMessage.contains("PageRank"),
      s"expected the contextual raise, got: ${e.getMessage}")
  }

  test("pageRank: scale mode (plain sums) matches deterministic mode within 1e-9") {
    // a graph with every interesting feature: a hub (many in-edges), a
    // dangling sink cluster, weighted fan-out, and a cycle
    val edges = (
      (1L to 40L).map(i => (i, 50L, i % 3 + 1)) ++          // hub in-edges
      Seq((50L, 60L, 2L), (50L, 61L, 1L), (60L, 50L, 1L)) ++ // cycle + fan
      (70L to 90L).map(i => (50L, i, 1L))                    // dangling sinks
    ).toDF("src", "dst", "w")
    val det = PageRank.run(edges, iters = 7, deterministic = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sum = PageRank.run(edges, iters = 7, deterministic = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(det.keySet === sum.keySet)
    for ((n, r) <- det) assert(math.abs(r - sum(n)) < 1e-9,
      s"node $n drifted: det=$r sum=${sum(n)}")
    assert(math.abs(sum.values.sum - 1.0) < 1e-9) // mass conserved in sum mode
  }

  /** The executed plan of every `localCheckpoint` that `body` runs: the
    * plans an eager operator actually executes (its returned frame is
    * only a checkpoint scan). */
  private def checkpointPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // listener events arrive on the bus asynchronously
    try { body; org.apache.spark.sql.graftshim.ListenerBusAccess.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    val seen = plans.toArray(Array.empty[String]).toSeq
    assert(seen.nonEmpty, "no localCheckpoint plan seen")
    seen
  }

  test("pageRank: scale mode plans partial-aggregable sums, no collect_list buffers") {
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    // every round's executed plan: sums with a partial phase, no list buffer
    val scale = checkpointPlans(PageRank.run(edges, iters = 2, deterministic = false))
    assert(scale.exists(_.contains("partial_sum")), scale.mkString("\n---\n"))
    scale.foreach(p => assert(!p.contains("collect_list"), p))
    // the same plans in deterministic mode do buffer: the check can fail
    val det = checkpointPlans(PageRank.run(edges, iters = 2, deterministic = true))
    assert(det.exists(_.contains("collect_list")), det.mkString("\n---\n"))
  }

  test("pageRank: per-iteration plan shape — keyed equi-joins + partial-aggregable rollup") {
    // run() checkpoints every round (eager), so registered-query plan sweeps
    // see only a checkpoint scan — the internal shape is pinned HERE on the
    // plan the one-round run's final localCheckpoint executes: the edge×rank
    // meet is a keyed equi-join (never a cartesian over data-sized frames;
    // the only nested-loop joins are the 1-row broadcast scalars n and
    // danglingMass), and the per-dst rollup in scale mode is a
    // map-side-combinable partial_sum, not a collect_list.
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val p = checkpointPlans(PageRank.run(edges, iters = 1, deterministic = false)).head
    assert(p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("collect_list"), p)
  }

  test("pageRank: run() is eager — the returned frame is a checkpoint scan") {
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val out = PageRank.run(edges, iters = 2)
    assert(out.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      out.queryExecution.executedPlan.toString)
  }

  test("pageRank: NULL edge weight raises the contextual diagnostic, not a NULL message") {
    val edges = Seq((1L, 2L, Some(1L)), (2L, 3L, None: Option[Long]))
      .toDF("src", "dst", "w")
    val e = intercept[Exception](PageRank.run(edges, iters = 1).collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("PageRank") && msgs.contains("NULL") &&
      msgs.contains("2 -> 3"), msgs)
  }

  test("pageRank: personalized teleport — mass conserved, unreachable nodes at 0, seeds validated") {
    // 1→2→3; 9→9-cycle disconnected from the seed
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (9L, 10L, 1L), (10L, 9L, 1L))
      .toDF("src", "dst", "w")
    val out = PageRank.runPersonalized(edges, Seq(1L).toDF("node"), iters = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out.values.sum - 1.0) < 1e-9, out.toString)
    assert(out(9L) === 0.0 && out(10L) === 0.0,
      "nodes the seed set cannot reach must converge to exactly 0")
    assert(out(1L) > out(2L) && out(2L) > out(3L),
      "rank must decay outward from the seed")
    // seeds uniform over ALL nodes ≈ classic PageRank (different float op
    // order, same math — compare within 1e-12)
    val cyc = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val allSeeds = Seq(1L, 2L).toDF("node")
    val pers = PageRank.runPersonalized(cyc, allSeeds, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val classic = PageRank.run(cyc, iters = 5, deterministic = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((n, r) <- classic) assert(math.abs(pers(n) - r) < 1e-12)
    // a seed set disjoint from the graph is a loud error
    val e = intercept[IllegalArgumentException](
      PageRank.runPersonalized(cyc, Seq(42L).toDF("node"), iters = 1))
    assert(e.getMessage.contains("seed"), e.getMessage)
  }

  test("pageRank: deep iteration counts stay bounded via checkpointing") {
    // 25 iterations with checkpointEvery=5: without lineage truncation the
    // final plan would nest 25 join layers; with it the plan stays shallow
    // and the run completes fast. Convergence sanity: the 2-cycle fixed
    // point is exactly 0.5/0.5 at any depth.
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val out = PageRank.run(edges, iters = 25, deterministic = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 0.5) < 1e-12 && math.abs(out(2L) - 0.5) < 1e-12)
  }

  // -------------------------------------------------------------------- BFS

  test("pageRank runFrom: empty warm start equals cold; warm-k beats cold-k after a delta") {
    import graft.operators.PageRank
    import spark.implicits._
    def ranksOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // an empty prev frame: every node takes the uniform share -> the warm
    // path must equal the cold run BIT-FOR-BIT (deterministic mode)
    val ring = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 1L, 1L),
      (1L, 3L, 1L)).toDF("src", "dst", "w")
    val empty = Seq.empty[(Long, Double)].toDF("node", "rank")
    assert(ranksOf(PageRank.runFrom(ring, empty, 3, deterministic = true)) ===
      ranksOf(PageRank.run(ring, 3, deterministic = true)))
    // delta maintenance: old graph = the ring minus the closing edge (an
    // ASYMMETRIC path+chord whose ranks are far from uniform — dropping
    // the chord instead leaves a vertex-transitive cycle whose cold ranks
    // ARE uniform, making warm == cold trivially); prev = 3 cold
    // iterations there. On the NEW graph, 2 warm iterations must land
    // CLOSER (L1) to the deep fixpoint than 2 cold iterations — the reason
    // warm-start is the refresh policy.
    val old = ring.filter($"src" =!= 4L || $"dst" =!= 1L)
    // 150 rounds: the damped map contracts by 0.85 a round, 0.85^150 < 1e-10
    val fix = ranksOf(PageRank.run(ring, iters = 150, deterministic = false))
    def l1(m: Map[Long, Double]) = fix.keys.map(k => math.abs(m(k) - fix(k))).sum
    val prev = PageRank.run(old, 3)
    val warm = ranksOf(PageRank.runFrom(ring, prev, 2))
    val cold = ranksOf(PageRank.run(ring, 2, deterministic = false))
    assert(l1(warm) < l1(cold),
      s"warm-2 (${l1(warm)}) must beat cold-2 (${l1(cold)})")
    // a node ABSENT from prev starts at the uniform share: seeding only
    // node 1 with the whole mass still leaves 2/3/4 at 1/4 each pre-damping
    val seeded = Seq((1L, 1.0)).toDF("node", "rank")
    val one = ranksOf(PageRank.runFrom(ring, seeded, 1))
    val oneUniform = ranksOf(PageRank.run(ring, 1, deterministic = false))
    assert(one(2L) !== oneUniform(2L),
      "the carried mass must actually change the first iteration")
  }

  test("bfs: multi-source hop distances; unreachable absent; cap and cycles handled") {
    import graft.operators.Bfs
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 3L)).toDF("src", "dst")
    val out = Bfs.distances(edges, Seq(1L, 10L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3 is reached at hop 1 via source 10, NOT hop 2 via 1→2→3 (min wins)
    assert(out === Map(1L -> 0L, 10L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    val capped = Bfs.distances(edges, Seq(1L, 10L).toDF("node"), maxDepth = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped.keySet === Set(1L, 10L, 2L, 3L), capped.toString)
    // a 2-cycle terminates (visited anti-join kills re-expansion)
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(Bfs.distances(cyc, Seq(1L).toDF("node")).count() === 2L)
    // a source absent from the edge list still reports itself at dist 0
    val iso = Bfs.distances(edges, Seq(99L).toDF("node"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(iso.toSeq === Seq((99L, 0L)))
    intercept[IllegalArgumentException](
      Bfs.distances(edges, Seq(1L).toDF("node"), maxDepth = -1))
  }

  test("bfs: per-source distances and harmonic centrality on a hand graph") {
    import graft.operators.Bfs
    // 1→2→3, 3→4; landmarks {1, 3}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val marks = Seq(1L, 3L).toDF("node")
    val per = Bfs.perSourceDistances(edges, marks)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(per === Map((1L, 1L) -> 0L, (1L, 2L) -> 1L, (1L, 3L) -> 2L,
      (1L, 4L) -> 3L, (3L, 3L) -> 0L, (3L, 4L) -> 1L))
    val h = Bfs.harmonicCentrality(edges, marks)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // node 2: 1/1 from root 1; node 3: 1/2 from root 1 (its own 0 excluded);
    // node 4: 1/3 from root 1 + 1/1 from root 3; node 1: unreachable -> absent
    assert(h === Map(2L -> 1.0, 3L -> 0.5, 4L -> (1.0 / 3.0 + 1.0)))
  }

  test("sssp: cheaper-longer path wins; multi-source min; unreachable absent") {
    import graft.operators.Sssp
    // 1→2 direct costs 10; 1→3→2 costs 1+1=2 — min-plus MUST take the
    // longer-hop cheaper path (the case hop-BFS cannot express). Second
    // source 20 reaches 4 at cost 1, cheaper than 1's route (12 via 2).
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L),
      (2L, 4L, 2L), (20L, 4L, 1L)).toDF("src", "dst", "w")
    val out = Sssp.distances(edges, Seq(1L, 20L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 20L -> 0L, 3L -> 1L, 2L -> 2L, 4L -> 1L))
    // node 5 exists nowhere reachable -> absent; an isolated source still
    // reports itself at 0
    val iso = Sssp.distances(edges, Seq(99L).toDF("node"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(iso.toSeq === Seq((99L, 0L)))
  }

  test("sssp: cycles converge; parallel edges keep the cheapest; zero-weight edges fine") {
    import graft.operators.Sssp
    // positive-weight 2-cycle: relaxation must reach the fixpoint and stop
    val cyc = Seq((1L, 2L, 3L), (2L, 1L, 4L)).toDF("src", "dst", "w")
    val (d, rounds) = Sssp.distancesWithRounds(cyc, Seq(1L).toDF("node"))
    assert(d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 0L, 2L -> 3L))
    assert(rounds <= 3, s"2-node fixpoint must converge fast, took $rounds")
    // parallel edges: the cheapest wins inside the per-round rollup
    val par = Seq((1L, 2L, 9L), (1L, 2L, 4L)).toDF("src", "dst", "w")
    assert(Sssp.distances(par, Seq(1L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 0L, 2L -> 4L))
    // zero-weight edges are legal (w >= 0): a 0-cost hop propagates
    val zero = Seq((1L, 2L, 0L), (2L, 3L, 5L)).toDF("src", "dst", "w")
    assert(Sssp.distances(zero, Seq(1L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 0L, 2L -> 0L, 3L -> 5L))
  }

  test("sssp: negative weight rejected up front; maxRounds caps; bad cap rejected") {
    import graft.operators.Sssp
    val neg = Seq((1L, 2L, -1L)).toDF("src", "dst", "w")
    val e = intercept[IllegalArgumentException](
      Sssp.distances(neg, Seq(1L).toDF("node")))
    assert(e.getMessage.contains("negative"), e.getMessage)
    // a chain longer than the cap: the DEFAULT contract raises LOUDLY (the
    // Truss/Scc convention — never a silent partial answer) ...
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)).toDF("src", "dst", "w")
    val capped = intercept[IllegalArgumentException](
      Sssp.distances(chain, Seq(1L).toDF("node"), maxRounds = 1).collect())
    assert(capped.getMessage.contains("did not converge"), capped.getMessage)
    // ... and the explicit opt-out returns the truncated wavefront
    val partial = Sssp.distances(chain, Seq(1L).toDF("node"), maxRounds = 1,
        allowPartial = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(partial === Map(1L -> 0L, 2L -> 1L), partial.toString)
    intercept[IllegalArgumentException](
      Sssp.distances(chain, Seq(1L).toDF("node"), maxRounds = -1))
    // int-typed ids: the negative-weight diagnostic must name the edge, not
    // die in a ClassCastException building the message
    val negInt = Seq((7, 8, -1L)).toDF("src", "dst", "w")
    val ei = intercept[IllegalArgumentException](
      Sssp.distances(negInt, Seq(7L).toDF("node")))
    assert(ei.getMessage.contains("7 -> 8"), ei.getMessage)
  }

  test("triangles: exact per-node counts; duplicates/direction/self-loops tolerated") {
    import graft.operators.Triangles
    // triangle {1,2,3} and {2,3,4} share edge 2-3; 4-5 dangles
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 3L), (4L, 5L),
      (2L, 1L), (1L, 1L)) // reverse duplicate + self-loop: both collapse away
      .toDF("src", "dst")
    val out = Triangles.perNode(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    // triangle-free graph emits nothing
    assert(Triangles.perNode(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")).isEmpty)
  }

  // ------------------------------------------------------------------- BM25

  private def bm25Corpus = Seq(
    (1L, "apple banana"),
    (2L, "apple apple apple apple"),
    (3L, "cherry banana"),
    (4L, "")                                  // blank: excluded from N
  ).toDF("doc_id", "text")

  test("bm25: matches only sharing docs, rarer term outranks common one") {
    val q = Seq((10L, "apple"), (11L, "cherry")).toDF("qid", "qt")
    val rows = Bm25.topK(bm25Corpus, "doc_id", "text", q, "qid", "qt", k = 10)
      .collect()
    val apple = rows.filter(_.getLong(0) == 10L).map(_.getLong(2)).toSet
    assert(apple === Set(1L, 2L))             // doc 3/4 never mention apple
    val cherry = rows.filter(_.getLong(0) == 11L)
    assert(cherry.map(_.getLong(2)).toSeq === Seq(3L))
    // cherry (df=1) is rarer than apple (df=2): its idf and thus top score
    // must exceed the best apple score at equal-ish tf norms
    val bestApple = rows.filter(r => r.getLong(0) == 10L && r.getLong(1) == 1L)
      .head.getDouble(4)
    assert(cherry.head.getDouble(4) > bestApple)
  }

  test("bm25: k1 saturation keeps tf=4 from scoring 4x tf=1") {
    val q = Seq((1L, "apple")).toDF("qid", "qt")
    val byDoc = Bm25.topK(bm25Corpus, "doc_id", "text", q, "qid", "qt", k = 10)
      .collect().map(r => r.getLong(2) -> r.getDouble(4)).toMap
    assert(byDoc(2L) > byDoc(1L))             // more mentions still wins...
    assert(byDoc(2L) < 4.0 * byDoc(1L))       // ...but sub-linearly
  }

  test("bm25: production sum fold equals the sorted fold at the rounded score") {
    // a many-term corpus so per-(query, doc) folds carry several terms
    val docs = (1L to 40L).map(i =>
      i -> (1L to i).map(j => s"w${j % 13}").mkString(" ")).toDF("doc_id", "text")
    val q = Seq((1L, "w1 w2 w3 w4 w5 w6"), (2L, "w7 w12 w0")).toDF("qid", "qt")
    val idx = Bm25.buildIndex(docs, "doc_id", "text")
    val det = Bm25.topKIndexed(idx, q, "qid", "qt", k = 40, deterministicFold = true)
      .collect().map(_.toString).sorted
    val sum = Bm25.topKIndexed(idx, q, "qid", "qt", k = 40, deterministicFold = false)
      .collect().map(_.toString).sorted
    assert(det.sameElements(sum),
      "a <=dozens-term reorder drift must vanish under the 6dp round")
    // and the sum fold's scoring aggregate stays OUT of the object-hash
    // (collect_list) class: the plan carries no collect_list for scoring
    val plan = Bm25.topKIndexed(idx, q, "qid", "qt", k = 5, deterministicFold = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"),
      s"sum fold must not materialize per-group term arrays:\n$plan")
  }

  test("bm25: maxQueryTerms keeps the rarest terms and bounds candidates") {
    val docs = Seq(
      (1L, "rare common common"), (2L, "common rare2"),
      (3L, "common common"), (4L, "common")).toDF("doc_id", "text")
    val q = Seq((1L, "rare common")).toDF("qid", "qt")
    val only1 = Bm25.topK(docs, "doc_id", "text", q, "qid", "qt",
      k = 10, maxQueryTerms = 1).collect()
    // df(rare)=1 < df(common)=4: only doc 1 can surface, scored on one term
    assert(only1.map(_.getLong(2)).toSeq === Seq(1L))
    assert(only1.forall(_.getLong(3) == 1L))
    // 0 = keep everything (the default): all four docs share 'common'
    val all = Bm25.topK(docs, "doc_id", "text", q, "qid", "qt", k = 10)
      .collect().map(_.getLong(2)).toSet
    assert(all === Set(1L, 2L, 3L, 4L))
  }

  test("bm25: unseen-term and blank queries emit no rows; k caps output") {
    val q = Seq((1L, "zzznope"), (2L, ""), (3L, "banana apple cherry"))
      .toDF("qid", "qt")
    val rows = Bm25.topK(bm25Corpus, "doc_id", "text", q, "qid", "qt", k = 2)
      .collect()
    assert(!rows.exists(r => r.getLong(0) == 1L || r.getLong(0) == 2L))
    val q3 = rows.filter(_.getLong(0) == 3L)
    assert(q3.length === 2 && q3.map(_.getLong(1)).toSeq === Seq(1L, 2L))
    // n_terms counts matched query terms, never more than the query has
    assert(q3.forall(_.getLong(3) <= 3L))
  }

  test("bm25: idf stays positive for a term present in every document") {
    val docs = Seq((1L, "common a"), (2L, "common b"), (3L, "common c"))
      .toDF("doc_id", "text")
    val q = Seq((1L, "common")).toDF("qid", "qt")
    val scores = Bm25.topK(docs, "doc_id", "text", q, "qid", "qt", k = 10)
      .collect().map(_.getDouble(4))
    assert(scores.length === 3 && scores.forall(_ > 0.0))
  }

  test("bm25: planted skew — a query term in 50% of docs stays k-bounded and exact") {
    // the scale scenario the bounded heap exists for: one query term matches
    // half the corpus, so the per-query candidate set is O(corpus). The
    // top-k must come back exact (vs a hand-ranked expectation) with only k
    // rows, through the O(k) aggregate — not an O(candidates) buffer.
    val docs = spark.range(2000).selectExpr(
      "id AS doc_id",
      // even ids contain 'hot'; doc 0 also repeats it (highest tf, shortest dl)
      "CASE WHEN id = 0 THEN 'hot hot hot' " +
        "WHEN id % 2 = 0 THEN concat('hot filler', id % 7) " +
        "ELSE concat('cold filler', id % 7) END AS text")
    val q = Seq((1L, "hot")).toDF("qid", "qt")
    val rows = Bm25.topK(docs, "doc_id", "text", q, "qid", "qt", k = 5).collect()
    assert(rows.length === 5)
    // doc 0 (tf=3, dl=3) dominates every tf=1 candidate
    assert(rows.head.getLong(2) === 0L)
    // remaining ranks are tf=1/dl=2 docs, tie-broken by doc_id ascending
    assert(rows.map(_.getLong(2)).toSeq === Seq(0L, 2L, 4L, 6L, 8L))
  }

  // ---------------------------------------------------------- SnapshotDiff

  test("snapshotDiff: classifies added/removed/changed, suppresses unchanged") {
    val older = Seq((1L, Some("x"), 10L), (2L, None: Option[String], 5L),
      (3L, Some("a"), 1L), (4L, Some("same"), 7L))
      .toDF("id", "v", "n")
    val newer = Seq((2L, None: Option[String], 5L), (3L, Some("b"), 1L),
      (4L, Some("same"), 7L), (5L, Some("new"), 2L))
      .toDF("id", "v", "n")
    val out = SnapshotDiff.diff(older, newer, Seq("id"), Seq("v", "n"))
      .orderBy("id").collect()
    assert(out.map(r => r.getLong(0) -> r.getString(1)).toSeq ===
      Seq(1L -> "removed", 3L -> "changed", 5L -> "added"))
    // keys 2 (null == null) and 4 (identical) emit no row
    val changed = out.find(_.getLong(0) == 3L).get
    assert(changed.getString(2) === "a" && changed.getString(3) === "b")
  }

  test("snapshotDiff: null-to-value transition is a change (null-safe compare)") {
    val older = Seq((1L, None: Option[Long])).toDF("id", "n")
    val newer = Seq((1L, Some(9L))).toDF("id", "n")
    val out = SnapshotDiff.diff(older, newer, Seq("id"), Seq("n")).collect()
    assert(out.length === 1 && out.head.getString(1) === "changed")
  }

  test("snapshotDiff: identical snapshots produce an empty diff") {
    val snap = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(SnapshotDiff.diff(snap, snap, Seq("id"), Seq("v")).isEmpty)
  }

  test("snapshotDiff: overlapping or colliding column specs are rejected loudly") {
    val snap = Seq((1L, "a", "b")).toDF("id", "v", "old_v")
    // key listed as a value: positional rename would mislabel silently
    intercept[IllegalArgumentException](
      SnapshotDiff.diff(snap, snap, Seq("id"), Seq("id", "v")))
    // input already owns a generated old_/new_ name
    intercept[IllegalArgumentException](
      SnapshotDiff.diff(snap, snap, Seq("id"), Seq("v", "old_v")))
  }

  test("kcore: pendant chain peels away, clique survives with in-core degrees") {
    import graft.operators.KCore
    // triangle {1,2,3} + pendant chain 3-4-5: the 2-core is exactly the
    // triangle (4 peels first, then 5's edge is gone → 5 peels — TWO waves)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val (core, rounds) = KCore.coreWithRounds(edges, k = 2)
    assert(core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(rounds >= 3 && rounds <= 4,
      s"two peel waves + the no-op fixpoint round expected, got $rounds")
    // the 3-core of the same graph is empty (triangle degrees are all 2)
    assert(KCore.core(edges, k = 3).isEmpty)
    // k=1 keeps everything (every endpoint has degree >= 1 by construction)
    assert(KCore.core(edges, k = 1).count() === 5L)
  }

  test("kcore: duplicates/direction pairs/self-loops collapse; caps rejected loudly") {
    import graft.operators.KCore
    // K4 stated with duplicates, reversed pairs, and a self-loop: the
    // 3-core is all four nodes at degree 3 — parallel restatements must
    // not inflate degrees past the canonical undirected edge set
    val k4 = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (3L, 4L), (4L, 4L)).toDF("src", "dst")
    assert(KCore.core(k4, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    intercept[IllegalArgumentException](KCore.core(k4, k = 0))
    // a peel chain longer than the cap: loud failure, never a silent
    // truncated "core"
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L)).toDF("src", "dst")
    intercept[IllegalArgumentException](KCore.core(path, k = 2, maxRounds = 2))
  }

  test("kcore maintain: output-invariant vs full recompute under inserts, deletes, re-entry") {
    import graft.operators.KCore
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // yesterday: triangle {1,2,3} + pendant 4 — the 2-core is the triangle
    val oldEdges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val oldCore = KCore.core(oldEdges.toDF("src", "dst"), k = 2)
    // INSERT-ONLY delta: a new cycle {4,5,6} joins the core; the certify
    // phase must be a one-round no-op check (k-core monotone under insert)
    val ins = (oldEdges ++ Seq((4L, 5L), (5L, 6L), (6L, 4L)))
      .toDF("src", "dst")
    val (mIns, (certIns, _)) = KCore.maintainWithRounds(ins,
      oldCore.select("node"), k = 2)
    assert(asMap(mIns) === asMap(KCore.core(ins, k = 2)))
    assert(certIns <= 1, s"insert-only certify must be a no-op check, ran $certIns")
    // DELETION cascade: (2,3) removed — the whole old core unravels while
    // a fresh square {4,5,6,7} stands alone
    val del = Seq((1L, 2L), (1L, 3L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 4L))
      .toDF("src", "dst")
    val mDel = KCore.maintain(del, oldCore.select("node"), k = 2)
    assert(asMap(mDel) === asMap(KCore.core(del, k = 2)))
    assert(asMap(mDel).keySet === Set(4L, 5L, 6L, 7L))
    // RE-ENTRY: (2,3) deleted but 2 and 3 rewire through 4 — certification
    // evicts all of {1,2,3}, then the grow phase must bring the evictees
    // back via the new cycle 1-2-4-3-1 (the evictee-as-candidate branch)
    val re = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val mRe = KCore.maintain(re, oldCore.select("node"), k = 2)
    assert(asMap(mRe) === asMap(KCore.core(re, k = 2)))
    assert(asMap(mRe).keySet === Set(1L, 2L, 3L, 4L))
    // EMPTY old core degrades to exactly core(); stale-superset old core
    // (nodes that no longer exist) is certified down, never trusted
    assert(asMap(KCore.maintain(ins, Seq.empty[Long].toDF("node"), k = 2)) ===
      asMap(KCore.core(ins, k = 2)))
    assert(asMap(KCore.maintain(ins,
        Seq(1L, 2L, 3L, 4L, 5L, 6L, 99L).toDF("node"), k = 2)) ===
      asMap(KCore.core(ins, k = 2)))
    // DELTA-RESTRICTED grow: declaring the changed edges must not change
    // any answer — insert-only first, then the deletion+rewire case whose
    // evictees seed the affected closure
    val insDelta = Seq((4L, 5L), (5L, 6L), (6L, 4L)).toDF("src", "dst")
    assert(asMap(KCore.maintain(ins, oldCore.select("node"), k = 2,
        delta = Some(insDelta))) === asMap(KCore.core(ins, k = 2)))
    val reDelta = Seq((2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    assert(asMap(KCore.maintain(re, oldCore.select("node"), k = 2,
        delta = Some(reDelta))) === asMap(KCore.core(re, k = 2)))
    // a far non-core component the delta never touches keeps yesterday's
    // OUT status through the closure (it is exactly what the restricted
    // grow skips) — the answer still equals the full recompute
    val chainHist = oldEdges ++ Seq((10L, 11L), (11L, 12L))
    val chainCore = KCore.core(chainHist.toDF("src", "dst"), k = 2)
    val withChain = (chainHist ++ Seq((4L, 5L), (5L, 6L), (6L, 4L)))
      .toDF("src", "dst")
    assert(asMap(KCore.maintain(withChain, chainCore.select("node"), k = 2,
        delta = Some(insDelta))) === asMap(KCore.core(withChain, k = 2)))
    // an empty delta on an unchanged graph: pure certification, no grow
    assert(asMap(KCore.maintain(ins, KCore.core(ins, k = 2).select("node"),
        k = 2, delta = Some(Seq.empty[(Long, Long)].toDF("src", "dst")))) ===
      asMap(KCore.core(ins, k = 2)))
  }

  test("katz: hand walk counts, in-star vs out-star asymmetry, fold modes agree") {
    import graft.operators.Katz
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // directed path 1->2->3, alpha 0.5, depth 2: node2 = α (one 1-walk),
    // node3 = α + α² (one 1-walk + one 2-walk), node1 = 0
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(asMap(Katz.scores(path, alpha = 0.5, depth = 2)) ===
      Map(1L -> 0.0, 2L -> 0.5, 3L -> 0.75))
    // in-star: the hub absorbs every leaf's walk (3α); leaves score 0 —
    // the asymmetry PageRank's vote-splitting hides
    val inStar = Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    assert(asMap(Katz.scores(inStar, alpha = 0.5, depth = 3)) ===
      Map(1L -> 1.5, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0))
    // 2-cycle: each node gains α + α² + α³ of the other's walks
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(asMap(Katz.scores(cyc, alpha = 0.5, depth = 3)) ===
      Map(1L -> 0.875, 2L -> 0.875))
    // both fold modes agree here (sums of exactly-representable halves)
    assert(asMap(Katz.scores(cyc, 0.5, 3, deterministic = false)) ===
      asMap(Katz.scores(cyc, 0.5, 3)))
    intercept[IllegalArgumentException](Katz.scores(path, alpha = 1.5))
    intercept[IllegalArgumentException](Katz.scores(path, depth = 0))
  }

  test("katz: hub fold modes value-equal — the shared r13 PageRank buffer contract") {
    import graft.operators.Katz
    // Katz.scores' deterministic mode folds collect_list per DESTINATION
    // node — O(in-degree) structs in ONE aggregation buffer, the exact
    // shape PERF.md's r13 "Hub in-degree ramp" measured for PageRank (det
    // buffer linear in the hub, sum mode O(1) per group; gap 1.4×→2.1× at
    // 200k→2M in-degree, executor OOM at crawl-scale 10⁸⁺). Katz shares
    // that contract VERBATIM: deterministic is the oracle dial,
    // deterministic=false the production posture once max in-degree makes
    // a single-task buffer the bound. This pins the semantic half: on a
    // 2 000-in-degree hub whose walk weights are all sums of exactly-
    // representable halves, the two modes are VALUE-equal — switching at
    // scale changes the fold shape, never the numbers.
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val hub = ((1L to 2000L).map(i => (i + 10L, 1L)) :+ (1L, 5L))
      .toDF("src", "dst")
    val det = asMap(Katz.scores(hub, 0.5, 3))
    // hand values: node1 = 2000·α = 1000 (layer 1 only); node5 = α (from
    // node1's unit walk) + α·1000 (layer 2, node1's layer-1 mass) = 500.5
    assert(det(1L) === 1000.0)
    assert(det(5L) === 500.5)
    assert(asMap(Katz.scores(hub, 0.5, 3, deterministic = false)) === det)
  }

  test("doubleSweep: pinned tie-breaks, star/path hand values, seed component only") {
    import graft.operators.Bfs
    def row(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // path 1-2-3-4-5: seed 1, ecc 4, peripheral 5, bound 4 (exact here)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    assert(row(Bfs.doubleSweep(path)) === ((1L, 4L, 5L, 4L)))
    // star around 1: ecc 1, peripheral = MIN leaf (tie pinned), bound 2
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    assert(row(Bfs.doubleSweep(star)) === ((1L, 1L, 2L, 2L)))
    // direction is ignored (undirected semantics)
    val rev = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L)).toDF("src", "dst")
    assert(row(Bfs.doubleSweep(rev)) === ((1L, 4L, 5L, 4L)))
    // only the seed's component is measured — documented semantics
    val disc = Seq((1L, 2L), (10L, 11L), (11L, 12L)).toDF("src", "dst")
    assert(row(Bfs.doubleSweep(disc)) === ((1L, 1L, 2L, 1L)))
    intercept[IllegalArgumentException](
      Bfs.doubleSweep(Seq((7L, 7L)).toDF("src", "dst")))
    // LOUD TRUNCATION: a maxDepth the sweep can reach fails instead of
    // returning a silently capped (understated) bound — path 1..5 has
    // ecc 4 from either end, so maxDepth=4 is ambiguous and refused
    val tr = intercept[IllegalArgumentException](
      Bfs.doubleSweep(path, maxDepth = 4))
    assert(tr.getMessage.contains("truncated"), tr.getMessage)
    // one above the true eccentricity is provably exhausted and succeeds
    assert(row(Bfs.doubleSweep(path, maxDepth = 5)) === ((1L, 4L, 5L, 4L)))
  }

  test("coreness: graded shells via nesting, degeneracy stats, loud maxK") {
    import graft.operators.KCore
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 {1,2,3,4} + triangle {4,5,6} + pendant (6,7): shells 3/2/1 by hand
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("src", "dst")
    val (out, (degeneracy, roundsPerK)) = KCore.corenessWithStats(edges)
    assert(asMap(out) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 2L, 6L -> 2L, 7L -> 1L))
    assert(degeneracy === 3 && roundsPerK.length === 3,
      s"degeneracy $degeneracy, rounds $roundsPerK")
    // a bare path is all shell 1; a pure cycle all shell 2
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(asMap(KCore.coreness(path)).values.toSet === Set(1L))
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(asMap(KCore.coreness(cyc)).values.toSet === Set(2L))
    // maxK exhausted before the graph: loud, never a truncated grading
    intercept[IllegalArgumentException](KCore.coreness(edges, maxK = 2))
  }

  test("truss maintain: output-invariant vs full recompute under inserts, deletes, re-entry") {
    import graft.operators.Truss
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // yesterday: K4 {1,2,3,4} + pendant (4,5) — the 4-truss is the K4
    val oldEdges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L))
    val oldTruss = Truss.edges(oldEdges.toDF("src", "dst"), k = 4)
    assert(asMap(oldTruss).keySet.size === 6)
    // INSERT-ONLY delta: a fresh K4 {5,6,7,8} joins the truss; certify
    // must be a one-round no-op check (truss monotone under insert), and
    // the pendant (4,5) must still peel (no triangle reaches it)
    val newK4 = Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L),
      (7L, 8L))
    val ins = (oldEdges ++ newK4).toDF("src", "dst")
    val (mIns, (certIns, _)) = Truss.maintainWithRounds(ins,
      oldTruss.select("u", "v"), k = 4)
    assert(asMap(mIns) === asMap(Truss.edges(ins, k = 4)))
    assert(certIns <= 1, s"insert-only certify must be a no-op check, ran $certIns")
    // DELETION cascade: (1,2) removed — every K4 edge drops to support 1
    // and the whole old truss unravels; a standalone K4 {5,6,7,8} stands
    val del = (Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)) ++ newK4).toDF("src", "dst")
    val mDel = Truss.maintain(del, oldTruss.select("u", "v"), k = 4)
    assert(asMap(mDel) === asMap(Truss.edges(del, k = 4)))
    assert(asMap(mDel).keySet === newK4.toSet)
    // RE-ENTRY: (1,2) deleted but node 5 wires to all of {1,2,3,4} —
    // certification evicts the whole old truss (K4 minus an edge peels to
    // empty at k=4), then grow must bring the evictees back through the
    // new triangles (K5 minus one edge: all 9 edges sit in >= 2 triangles)
    val re = Seq((1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 4L),
      (2L, 5L), (3L, 4L), (3L, 5L), (4L, 5L)).toDF("src", "dst")
    val mRe = Truss.maintain(re, oldTruss.select("u", "v"), k = 4)
    assert(asMap(mRe) === asMap(Truss.edges(re, k = 4)))
    assert(asMap(mRe).keySet.size === 9)
    assert(asMap(mRe)((3L, 4L)) === 3L && asMap(mRe)((1L, 3L)) === 2L)
    // EMPTY old truss degrades to exactly edges(); stale-superset old
    // truss (edges that no longer exist) is certified down, never trusted
    assert(asMap(Truss.maintain(ins,
        Seq.empty[(Long, Long)].toDF("u", "v"), k = 4)) ===
      asMap(Truss.edges(ins, k = 4)))
    assert(asMap(Truss.maintain(ins,
        (oldEdges ++ Seq((1L, 99L), (2L, 99L))).toDF("u", "v"), k = 4)) ===
      asMap(Truss.edges(ins, k = 4)))
    // DELTA-RESTRICTED grow: declaring the changed edges must not change
    // any answer — insert-only first, then the deletion+rewire case whose
    // evictees seed the affected closure
    assert(asMap(Truss.maintain(ins, oldTruss.select("u", "v"), k = 4,
        delta = Some(newK4.toDF("src", "dst")))) ===
      asMap(Truss.edges(ins, k = 4)))
    val reDelta = Seq((1L, 2L), (1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L))
      .toDF("src", "dst")
    assert(asMap(Truss.maintain(re, oldTruss.select("u", "v"), k = 4,
        delta = Some(reDelta))) === asMap(Truss.edges(re, k = 4)))
    // a far sub-truss component (a lone triangle, support 1 < k-2) the
    // delta never touches keeps yesterday's OUT status through the
    // closure — the answer still equals the full recompute
    val chainHist = oldEdges ++ Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val chainTruss = Truss.edges(chainHist.toDF("src", "dst"), k = 4)
    val withChain = (chainHist ++ newK4).toDF("src", "dst")
    assert(asMap(Truss.maintain(withChain, chainTruss.select("u", "v"),
        k = 4, delta = Some(newK4.toDF("src", "dst")))) ===
      asMap(Truss.edges(withChain, k = 4)))
    // an empty delta on an unchanged graph: pure certification, no grow
    val (mNoop, (_, growNoop)) = Truss.maintainWithRounds(ins,
      Truss.edges(ins, k = 4).select("u", "v"), k = 4,
      delta = Some(Seq.empty[(Long, Long)].toDF("src", "dst")))
    assert(asMap(mNoop) === asMap(Truss.edges(ins, k = 4)))
    assert(growNoop <= 1, s"empty delta must not grow, ran $growNoop rounds")
  }

  test("lpa: bridged triangles separate into two communities CC would merge") {
    import graft.operators.LabelProp
    // triangles {1,2,3} and {10,11,12} bridged by 3-10: ONE connected
    // component, TWO majority basins — labels 1 and 3 after 4 sweeps
    // (hand-traced round by round)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val out = LabelProp.communities(edges, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("lpa: non-numeric STRING ids keep their type, through the operator and graph_lpa") {
    import graft.operators.LabelProp
    // the bridged triangles with string ids: labels "a" and "c" after 4
    // sweeps, as the LONG case gives 1 and 3 (ties take the smallest label)
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"),
      ("x", "z"), ("c", "x")).toDF("src", "dst")
    val want = Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "c", "y" -> "c", "z" -> "c")
    val out = LabelProp.communities(edges, rounds = 4)
    assert(out.schema("label").dataType === org.apache.spark.sql.types.StringType)
    assert(out.collect().map(r => r.getString(0) -> r.getString(1)).toMap === want)
    edges.createOrReplaceTempView("lpa_str_e")
    val viaSql = spark.sql("SELECT * FROM graph_lpa('lpa_str_e', 4)")
    assert(viaSql.schema("label").dataType === org.apache.spark.sql.types.StringType)
    assert(viaSql.collect().map(r => r.getString(0) -> r.getString(1)).toMap === want)
  }

  test("lpa: fixed-round contract — a bare edge 2-cycles; ties take the smallest label") {
    import graft.operators.LabelProp
    val pair = Seq((1L, 2L)).toDF("src", "dst")
    // synchronous sweeps swap the two self-labels each round — the
    // documented determinism price; rounds is a pinned contract, not a
    // convergence promise
    assert(LabelProp.communities(pair, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(1L -> 2L, 2L -> 1L))
    assert(LabelProp.communities(pair, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(1L -> 1L, 2L -> 2L))
    // rounds = 0: every node keeps its seed
    assert(LabelProp.communities(pair, rounds = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(1L -> 1L, 2L -> 2L))
    // equal-count tie: hub between 5 and 7 must take 5
    val star = Seq((1L, 5L), (1L, 7L)).toDF("src", "dst")
    val starLabels = LabelProp.communities(star, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starLabels(1L) === 5L)
    intercept[IllegalArgumentException](LabelProp.communities(pair, -1))
  }

  test("scc: rings collapse, one-way bridges do not, DAG nodes are singletons") {
    import graft.operators.Scc
    def canon(df: DataFrame) = Loops.checkpoint(df.filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct(), eager = true)
    def asMap(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def solve(edges: DataFrame, bound: Long = Long.MaxValue) = {
      val (out, rounds) = Scc.componentsCanonWithRounds(canon(edges), 100, bound)
      (asMap(out), rounds)
    }
    // every raw fixture through the public entry (its self-loop filter and
    // distinct, then the default bound) must give the same rows and round
    // count as its canonical edges peeled all-distributed (bound 0) and all
    // on the driver (unbounded)
    def both(edges: DataFrame) = {
      val (out, rounds) = Scc.componentsWithRounds(edges)
      val public = (asMap(out), rounds)
      assert(solve(edges, 0L) === public)
      assert(solve(edges) === public)
      public
    }
    // ring {1,2} --one-way--> ring {5,6}; tail 6 -> 9 (DAG); ring {3,4,7}
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 5L), (5L, 6L), (6L, 5L),
      (6L, 9L), (3L, 4L), (4L, 7L), (7L, 3L)).toDF("src", "dst")
    val (m, rounds) = both(edges)
    assert(m === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L,
      3L -> 3L, 4L -> 3L, 7L -> 3L))
    assert(rounds === 3, s"shallow SCC DAG should peel in 3, took $rounds")
    // 17 live rows in round 1, 6 ({5,6,9} and their 3 edges) in round 2:
    // a bound of 6 starts distributed and finishes on the driver, with
    // fewer jobs than all-distributed and more than all-local
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsAt(bound: Long) = {
      val e = canon(edges)
      org.apache.spark.sql.graftshim.ListenerBusAccess.drain(spark.sparkContext)
      jobs.set(0)
      val (out, r) = Scc.componentsCanonWithRounds(e, 100, bound)
      assert((asMap(out), r) === (m, rounds))
      org.apache.spark.sql.graftshim.ListenerBusAccess.drain(spark.sparkContext)
      jobs.get
    }
    // a bound of 8 admits round 1's 8 nodes but not its 9 edges: round 1
    // stays distributed and the driver finishes from round 2
    assert(solve(edges, 8L) === (m, rounds))
    spark.sparkContext.addSparkListener(listener)
    try {
      val (all, mixed, none) = (jobsAt(0L), jobsAt(6L), jobsAt(Long.MaxValue))
      assert(all > mixed && mixed > none, s"jobs at bound 0/6/inf: $all/$mixed/$none")
    } finally spark.sparkContext.removeSparkListener(listener)
    // pure DAG: every node its own SCC
    val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(both(dag)._1 === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // duplicates/self-loops tolerated; min member labels even when the
    // smallest id sits mid-ring (8 -> 2 -> 6 -> 8 labels as 2)
    val ring = Seq((8L, 2L), (2L, 6L), (6L, 8L), (6L, 8L), (2L, 2L))
      .toDF("src", "dst")
    assert(both(ring)._1 === Map(2L -> 2L, 6L -> 2L, 8L -> 2L))
    intercept[IllegalArgumentException](Scc.components(ring, maxRounds = 0))
    // INT ids with a negative one: the driver widens them to long exactly,
    // so -4 stays the least member of its ring
    val ints = Seq((3, -4), (-4, 3), (3, 5)).toDF("src", "dst")
    assert(both(ints)._1 === Map(-4L -> -4L, 3L -> -4L, 5L -> 5L))
    // 1 -> 2 needs two peel rounds: both paths fail the same way at 1
    val pair = canon(Seq((1L, 2L)).toDF("src", "dst"))
    val messages = Seq(0L, Long.MaxValue).map(b =>
      intercept[IllegalArgumentException](
        Scc.componentsCanonWithRounds(pair, 1, b)).getMessage)
    assert(messages.distinct === Seq(
      "requirement failed: SCC did not finish in 1 peel rounds — raise maxRounds"))
  }

  test("scc maintain: output-invariant vs full recompute under inserts, deletes, merges") {
    import graft.operators.Scc
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every maintenance runs through the public entry (default bound),
    // all-distributed (bound 0) and all on the driver (unbounded): the same
    // rows and the same round counts
    def maint(edges: DataFrame, old: DataFrame,
        delta: Option[DataFrame] = None) = {
      val canonE = Loops.checkpoint(edges.filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct(), eager = true)
      val (out, rounds) = Scc.maintainWithRounds(edges, old, 100, delta)
      val public = (asMap(out), rounds)
      for (bound <- Seq(0L, Long.MaxValue)) {
        val (out, rounds) =
          Scc.maintainCanonWithRounds(canonE, old, 100, delta, bound)
        assert((asMap(out), rounds) === public, s"at bound $bound")
      }
      public
    }
    // yesterday: ring {1,2,3} --one-way 3->10--> ring {10,11,12}
    val oldEdges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L),
      (11L, 12L), (12L, 10L), (3L, 10L))
    val oldScc = Scc.components(oldEdges.toDF("src", "dst"))
    assert(asMap(oldScc) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // INSERT-ONLY: 12->2 closes the loop — the two rings merge into ONE
    // SCC; certification must be FREE (no deletions => no dirty classes)
    // and the merge happens entirely in the contracted solve
    val ins = (oldEdges ++ Seq((12L, 2L))).toDF("src", "dst")
    val (mIns, (certIns, _)) = maint(ins, oldScc,
      Some(Seq((12L, 2L)).toDF("src", "dst")))
    assert(mIns === asMap(Scc.components(ins)))
    assert(mIns.values.toSet === Set(1L))
    assert(certIns === 0, s"insert-only certify must be free, ran $certIns")
    // DELETION: 2->3 removed — ring {1,2,3} shatters into singletons
    // (the dirty-class re-solve), ring {10,11,12} is untouched
    val del = Seq((1L, 2L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L),
      (3L, 10L)).toDF("src", "dst")
    val mDel = maint(del, oldScc, Some(Seq((2L, 3L)).toDF("src", "dst")))._1
    assert(mDel === asMap(Scc.components(del)))
    assert(mDel(1L) === 1L && mDel(2L) === 2L && mDel(10L) === 10L)
    // DELETE + REWIRE in one delta: 2->3 out, 2->1 in — {1,2} stays
    // mutual, 3 drops to a singleton feeding the far ring
    val re = Seq((1L, 2L), (2L, 1L), (3L, 1L), (10L, 11L), (11L, 12L),
      (12L, 10L), (3L, 10L)).toDF("src", "dst")
    val mRe = maint(re, oldScc,
      Some(Seq((2L, 3L), (2L, 1L)).toDF("src", "dst")))._1
    assert(mRe === asMap(Scc.components(re)))
    assert(mRe(2L) === 1L && mRe(3L) === 3L)
    // NEW NODES arriving in the delta form their own ring via singleton
    // groups + the contracted solve
    val grown = (oldEdges ++ Seq((30L, 31L), (31L, 30L), (12L, 30L)))
      .toDF("src", "dst")
    val mGrown = maint(grown, oldScc,
      Some(Seq((30L, 31L), (31L, 30L), (12L, 30L)).toDF("src", "dst")))._1
    assert(mGrown === asMap(Scc.components(grown)))
    assert(mGrown(30L) === 30L && mGrown(31L) === 30L)
    // WITHOUT delta the labels are never trusted: empty degrades to
    // exactly components(); garbage (everything one class) is re-solved
    assert(maint(ins, Seq.empty[(Long, Long)].toDF("id", "scc"))._1 ===
      asMap(Scc.components(ins)))
    val garbage = Seq(1L, 2L, 3L, 10L, 11L, 12L).map(_ -> 1L)
      .toDF("id", "scc")
    assert(maint(del, garbage)._1 === asMap(Scc.components(del)))
    assert(asMap(Scc.maintain(del, garbage)) === asMap(Scc.components(del)))
    // an empty delta on an unchanged graph: certification free, and the
    // answer is yesterday's labeling verbatim
    val (mNoop, (certNoop, _)) = maint(oldEdges.toDF("src", "dst"), oldScc,
      Some(Seq.empty[(Long, Long)].toDF("src", "dst")))
    assert(mNoop === asMap(oldScc))
    assert(certNoop === 0)
  }

  test("modularity: exact per-community terms, one IEEE division, loud guards") {
    import graft.operators.GraphStats
    // two triangles bridged by (3,4): the natural 2-community partition
    // scores Q_c = (4*7*3 - 7*7)/(4*49) = 35/196 per side (hand value)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val twoComm = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 4L).toDF("node", "label")
    val out = GraphStats.modularity(edges, twoComm).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out === Map(
      1L -> ((3L, 3L, 7L, 35.0 / 196.0)),
      4L -> ((3L, 3L, 7L, 35.0 / 196.0))))
    // the all-in-one partition scores exactly 0 (the null model itself);
    // duplicate/reversed/self-loop edges collapse before counting
    val noisy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (4L, 5L),
      (5L, 6L), (4L, 6L), (3L, 4L), (3L, 3L)).toDF("src", "dst")
    val one = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(_ -> 1L).toDF("node", "label")
    val row = GraphStats.modularity(noisy, one).collect()
    assert(row.length === 1 && row(0).getLong(2) === 7L &&
      row(0).getLong(3) === 14L && row(0).getDouble(4) === 0.0)
    // guards: empty graphs and partial labelings fail loudly
    intercept[IllegalArgumentException](GraphStats.modularity(
      Seq((1L, 1L)).toDF("src", "dst"), one))
    intercept[IllegalArgumentException](GraphStats.modularity(
      edges, twoComm.filter(col("node") =!= 6L)))
  }

  test("local clustering: exact coefficients, degree-1 nodes excluded") {
    import graft.operators.Triangles
    // triangle {1,2,3} + pendant 3-4: node 3 has deg 3, one closed pair of
    // three -> 1/3; nodes 1,2 have deg 2, their single pair closed -> 1.0;
    // node 4 has deg 1 -> excluded (undefined, not 0)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = Triangles.localClustering(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out === Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)), 3L -> ((3L, 1L, 1.0 / 3.0))))
    // a triangle-free star: hub clustering is exactly 0, leaves excluded
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L)).toDF("src", "dst")
    val hub = Triangles.localClustering(star).collect()
    assert(hub.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSeq === Seq((9L, 3L, 0L, 0.0)))
  }

  test("linkPredict: open wedges only, exact counts, adjacency excluded") {
    import graft.operators.LinkPredict
    // triangle {1,2,3} + pendant 3-4: the only OPEN wedges are (1,4) and
    // (2,4) through pivot 3 — cn=1, deg 2 vs 1 -> jaccard 1/2. Every
    // adjacent pair shares a neighbor but must NOT appear (anti-join).
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = LinkPredict.jaccardCandidates(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out === Map(
      (1L, 4L) -> ((1L, 2L, 1L, 0.5)), (2L, 4L) -> ((1L, 2L, 1L, 0.5))))
    // 4-cycle 1-2-3-4-1: both diagonals share BOTH neighbors -> jaccard 1.0
    // (a perfect candidate); duplicates/direction/self-loops tolerated
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 1L), (3L, 3L))
      .toDF("src", "dst")
    val diag = LinkPredict.jaccardCandidates(cyc).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(5)))).toMap
    assert(diag === Map((1L, 3L) -> ((2L, 1.0)), (2L, 4L) -> ((2L, 1.0))))
    // a clique has no open wedge: empty output, not zero-score rows
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(LinkPredict.jaccardCandidates(k3).count() === 0L)
  }

  test("linkPredict: the degree bound is enforced — planted hub refuses, cap truncates") {
    import graft.operators.LinkPredict
    // star K1,6: hub 0 has degree 6
    val star = (1L to 6L).map(i => (0L, i)).toDF("src", "dst")
    // default mode REFUSES: the wedge contract fails loudly, naming the hub
    val e = intercept[Exception](
      LinkPredict.jaccardCandidates(star, maxDegree = 5).collect())
    assert(e.getMessage.contains("maxDegree"), e.getMessage)
    // cap mode returns the documented subset: hub adjacency truncated to its
    // 5 smallest neighbor ids -> candidates are exactly the C(5,2) leaf
    // pairs among 1..5, each an open wedge through the hub (leaf deg 1)
    val capped = LinkPredict.jaccardCandidates(star, maxDegree = 5,
        capDegrees = true).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(capped.size === 10, capped.keys.toSeq.sorted.mkString(","))
    assert(capped.keySet ===
      (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)).toSet)
    assert(capped.values.forall(_ == ((1L, 1L, 1L, 1.0))), capped.toString)
    // a graph within the bound is untouched by the guard
    assert(LinkPredict.jaccardCandidates(star, maxDegree = 6).count() === 15L)
    // preflight mode is the HARD abort: the degree check runs EAGERLY at
    // call time (an IllegalArgumentException from require, not a task
    // failure mid-shuffle) and names the hub before any wedge stage exists
    val pre = intercept[IllegalArgumentException](
      LinkPredict.jaccardCandidates(star, maxDegree = 5, preflight = true))
    assert(pre.getMessage.contains("preflight"), pre.getMessage)
    assert(pre.getMessage.contains("node 0"), pre.getMessage)
    // a passing preflight changes no values vs the lazy default
    assert(LinkPredict.jaccardCandidates(star, maxDegree = 6,
      preflight = true).count() === 15L)
  }

  test("temporalReach: time-respecting paths only, earliest arrival, non-strict order") {
    import graft.operators.TemporalReach
    // 1-(t5)->2-(t3)->3 is NOT time-respecting (3 < 5); 1-(t1)->4-(t2)->3 is.
    // 2-(t7)->5 rides the t5 arrival; 5-(t7)->7 tests the NON-strict gate
    // (arrival 7 <= ts 7); 3-(t0)->6 is statically reachable but its edge
    // fired BEFORE 3's arrival (2) -> 6 must be absent.
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 3L), (1L, 4L, 1L), (4L, 3L, 2L),
      (2L, 5L, 7L), (5L, 7L, 7L), (3L, 6L, 0L), (1L, 2L, 5L))
      .toDF("src", "dst", "ts")
    val seeds = Seq(1L).toDF("node")
    val out = TemporalReach.earliestArrival(edges, seeds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> -1L, 2L -> 5L, 4L -> 1L, 3L -> 2L,
      5L -> 7L, 7L -> 7L))
    // multi-source: the later seed opens the early edge it can still catch
    val multi = TemporalReach.earliestArrival(edges,
      Seq(1L, 3L).toDF("node")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi(3L) === -1L && multi(6L) === 0L,
      "seeding 3 at -1 must open the t0 edge to 6")
    // maxRounds=0 never proves the fixpoint: the default contract raises
    // loudly; the explicit opt-out returns sources only
    val capped = intercept[IllegalArgumentException](
      TemporalReach.earliestArrival(edges, seeds, maxRounds = 0).collect())
    assert(capped.getMessage.contains("did not converge"), capped.getMessage)
    assert(TemporalReach.earliestArrival(edges, seeds, maxRounds = 0,
        allowPartial = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> -1L))
    // negative timestamps rejected up front — and with INT-typed ids the
    // diagnostic must name the edge, not die building the message
    intercept[IllegalArgumentException](TemporalReach.earliestArrival(
      Seq((1L, 2L, -3L)).toDF("src", "dst", "ts"), seeds).collect())
    val et = intercept[IllegalArgumentException](TemporalReach.earliestArrival(
      Seq((4, 5, -3L)).toDF("src", "dst", "ts"), seeds).collect())
    assert(et.getMessage.contains("4 -> 5"), et.getMessage)
  }

  test("truss: K4 survives at k=4, pendant triangle peels, cascade empties the strip") {
    import graft.operators.Truss
    // K4 on {1,2,3,4}: every edge in exactly 2 triangles -> the whole
    // 4-truss; a pendant triangle {4,5,6} has support-1 edges -> peeled.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val pendant = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    val out = Truss.edges((k4 ++ pendant).toDF("src", "dst"), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === k4.map(_ -> 2L).toMap)
    // cascade: a triangle strip (1,2),(1,3),(2,3),(2,4),(3,4) — only (2,3)
    // has support 2, but peeling the support-1 edges strips ITS triangles
    // too, so the 4-truss cascades to empty (needs >1 round)
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val (empty, rounds) = Truss.edgesWithRounds(strip, k = 4)
    assert(empty.count() === 0L && rounds >= 2)
    // k=3: a lone triangle IS a 3-truss (support 1); dups/direction/self
    // loops tolerated
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 3L))
      .toDF("src", "dst")
    assert(Truss.edges(tri, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap ===
      Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
    intercept[IllegalArgumentException](Truss.edges(strip, k = 2))
    intercept[IllegalArgumentException](Truss.edges(strip, 4, maxRounds = 1))
  }

  test("betweenness: path / star / split-path / bridge fixtures, exact values") {
    import graft.operators.Betweenness
    def bc(edges: Seq[(Long, Long)]): Map[Long, Double] = {
      val e = edges.toDF("src", "dst")
      val nodes = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
      Betweenness.fromPivots(e, nodes).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    // path P5: interior nodes broker [0, 3, 4, 3, 0]
    assert(bc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))) ===
      Map(1L -> 0.0, 2L -> 3.0, 3L -> 4.0, 4L -> 3.0, 5L -> 0.0))
    // star K1,4: the hub sits on every leaf pair -> C(4,2) = 6
    assert(bc((1L to 4L).map((0L, _))) ===
      Map(0L -> 6.0, 1L -> 0.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0))
    // cycle C4: each opposite pair has TWO shortest paths — σ splits the
    // dependency 0.5/0.5 (the multiple-shortest-paths branch)
    assert(bc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) ===
      Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.5, 4L -> 0.5))
    // two triangles joined by a bridge: both bridge endpoints broker the
    // 6 crossing pairs; triangle corners broker nothing
    val bridge = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L))
    assert(bc(bridge) === Map(1L -> 0.0, 2L -> 0.0, 3L -> 6.0,
      4L -> 6.0, 5L -> 0.0, 6L -> 0.0))
    // duplicates / direction / self-loops collapse away
    assert(bc(Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 2L))) ===
      Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0))
    // loud convergence: a path deeper than maxDepth raises, never truncates
    val deep = intercept[IllegalArgumentException](
      graft.operators.Betweenness.fromPivots(
        Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst"),
        Seq(1L, 2L, 3L, 4L).toDF("node"), maxDepth = 2))
    assert(deep.getMessage.contains("maxDepth"), deep.getMessage)
  }

  test("louvain: two triangles + bridge converge to the ideal partition; parity breaks swaps") {
    import graft.operators.Louvain
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // triangles {1,2,3} and {4,5,6} joined by bridge (3,4): the unique
    // modularity-optimal partition is the two triangles. Hand-derived
    // under the parity schedule (odd movers on odd sweeps): sweep1 1→2,
    // 3→1, 5→6; sweep2 4→6; sweep3 3→2; sweep4 fixpoint — labels 2 and 6
    val bridge = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val four = asMap(Louvain.communities(bridge, sweeps = 4))
    assert(four === Map(1L -> 2L, 2L -> 2L, 3L -> 2L,
      4L -> 6L, 5L -> 6L, 6L -> 6L))
    // converged: two more half-sweeps change nothing
    assert(asMap(Louvain.communities(bridge, sweeps = 6)) === four)
    // the partition's exact modularity is the hand value 70/196
    import graft.operators.GraphStats
    val q = GraphStats.modularity(bridge,
        Louvain.communities(bridge, 4).toDF("node", "label"))
      .agg(sum(col("modularity"))).head.getDouble(0)
    assert(math.abs(q - 70.0 / 196.0) < 1e-15, q.toString)
    // sweeps=0 -> singletons; duplicates/direction/self-loops tolerated
    assert(asMap(Louvain.communities(bridge, 0)) ===
      (1L to 6L).map(i => i -> i).toMap)
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (1L, 3L))
      .toDF("src", "dst")
    assert(asMap(Louvain.communities(messy, 4)).values.toSet.size === 1)
    intercept[IllegalArgumentException](
      Louvain.communities(Seq((7L, 7L)).toDF("src", "dst"), 2))
    intercept[IllegalArgumentException](Louvain.communities(bridge, -1))
  }

  test("weighted louvain: weights steer the moves; self-loops count in degrees; guards") {
    import graft.operators.Louvain
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path 2-1-4 with one heavy edge: on sweep 1 the odd node 1 moves to
    // its HEAVY neighbor's community (both neighbors are even, so no
    // same-parity swap can shadow the choice); the light neighbor then
    // has no strictly-improving move and stays singleton. Reversing the
    // weighting must reverse the binding — weight is the decider.
    val heavy12 = Seq((1L, 2L, 10L), (1L, 4L, 1L)).toDF("src", "dst", "w")
    val heavy14 = Seq((1L, 2L, 1L), (1L, 4L, 10L)).toDF("src", "dst", "w")
    val m12 = asMap(Louvain.communitiesWeighted(heavy12, 2))
    val m14 = asMap(Louvain.communitiesWeighted(heavy14, 2))
    assert(m12(1L) === m12(2L), s"heavy (1,2) did not bind: $m12")
    assert(m14(1L) === m14(4L), s"heavy (1,4) did not bind: $m14")
    assert(m12 !== m14, "weights did not steer the moves")
    // parallel + bidirectional edges merge by weight sum (2x(1,2) w=5
    // each == one w=10), self-loops tolerated and counted in degrees
    val merged = asMap(Louvain.communitiesWeighted(
      Seq((1L, 2L, 5L), (2L, 1L, 5L), (1L, 3L, 1L), (2L, 2L, 7L))
        .toDF("src", "dst", "w"), 2))
    assert(merged(1L) === merged(2L))
    // a self-loop-only graph still has positive m (no spurious require)
    assert(asMap(Louvain.communitiesWeighted(
      Seq((4L, 4L, 3L)).toDF("src", "dst", "w"), 2)) === Map(4L -> 4L))
    intercept[IllegalArgumentException](
      Louvain.communitiesWeighted(
        Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w"), 2))
  }

  test("warm-start louvain: seed contract and the refresh-budget economics (q226)") {
    import graft.operators.{GraphStats, Louvain}
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tri2 = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    // no seed == cold start, exactly
    assert(asMap(Louvain.communitiesFrom(tri2, None, 3)) ===
      asMap(Louvain.communities(tri2, 3)))
    // a PARTIAL seed: missing nodes join as singletons and still
    // converge; a converged seed is a fixpoint (no strict improvement)
    val seed = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "label")
    val m = asMap(Louvain.communitiesFrom(tri2, Some(seed), 4))
    assert(m(1L) === m(2L) && m(2L) === m(3L))
    assert(m(10L) === m(11L) && m(11L) === m(12L))
    // a STALE seed referencing vanished nodes is tolerated (labels are
    // just community names, never dereferenced)
    val stale = Seq((1L, 999L), (2L, 999L), (3L, 999L), (777L, 5L))
      .toDF("node", "label")
    val ms = asMap(Louvain.communitiesFrom(tri2, Some(stale), 2))
    assert(ms(1L) === 999L && ms(2L) === 999L && ms(3L) === 999L)
    assert(!ms.contains(777L), "a vanished node must not resurface")
    // the refresh economics ON THE REAL GRAPH: at the registered 2-sweep
    // budget, warm (seeded from yesterday's converged partition) beats
    // cold under the exact evaluator — `tools/ProbeWarm.scala` at
    // `0ab6ae2` measured 1.3-1.9x
    val dir = "/root/testdata/sf0.001"
    val today = Shared.affinityTopEdges(spark, dir).localCheckpoint(true)
    val old = Louvain.communities(Shared.affinityTopEdges(spark, dir,
      before = Some("2024-01-16")), 6)
    def q(l: org.apache.spark.sql.DataFrame): Double =
      GraphStats.modularity(today, l.select("node", "label"))
        .agg(sum(col("modularity"))).head.getDouble(0)
    val warm = q(Louvain.communitiesFrom(today, Some(old), 2))
    val cold = q(Louvain.communitiesFrom(today, None, 2))
    assert(warm >= cold,
      s"warm refresh lost to cold at the registered budget: $warm < $cold")
  }

  test("two-level louvain: aggregation raises Q and merges communities on the real graph") {
    import graft.operators.{GraphStats, Louvain}
    val dir = "/root/testdata/sf0.001"
    val edges = Shared.affinityTopEdges(spark, dir).localCheckpoint(true)
    def q(l: org.apache.spark.sql.DataFrame): Double =
      GraphStats.modularity(edges, l.select("node", "label"))
        .agg(sum(col("modularity"))).head.getDouble(0)
    val l1 = Louvain.communities(edges, 6).localCheckpoint(true)
    val l2 = GraphQueries.louvainTwoLevel(spark, dir).localCheckpoint(true)
    // the level-2 guarantee: every accepted move on the self-loop-degree
    // aggregate strictly raises original-graph Q (measured 0.18 -> 0.22)
    assert(q(l2) >= q(l1), s"two-level lowered Q: ${q(l2)} < ${q(l1)}")
    val n1 = l1.select("label").distinct().count()
    val n2 = l2.select("label").distinct().count()
    assert(n2 < n1, s"level 2 merged nothing ($n1 -> $n2) — the row is " +
      "a no-op on this graph")
    // coarsening only: level-2 communities are unions of level-1 ones
    // (two nodes sharing a level-1 label always share the final label)
    val pairs = l1.select(col("node"), col("label").as("l1"))
      .join(l2.select(col("node"), col("label").as("l2")), Seq("node"))
      .select("l1", "l2").distinct()
    assert(pairs.groupBy("l1").count().filter(col("count") > 1).isEmpty,
      "a level-1 community was split by level 2")
  }

  test("louvain: Q beats LPA's on the real affinity graph — the evaluator gates the detector") {
    import graft.operators.{GraphStats, LabelProp, Louvain}
    // the q213-vs-q182 quality gate ON THE REAL GRAPH (sf0.001 testdata):
    // the modularity-OPTIMIZING detector must score at least the
    // objective-free majority detector under the exact q205 evaluator
    val dir = "/root/testdata/sf0.001"
    val edges = Shared.affinityTopEdges(spark, dir).localCheckpoint(true)
    def score(labels: org.apache.spark.sql.DataFrame): Double =
      GraphStats.modularity(edges, labels)
        .agg(sum(col("modularity"))).head.getDouble(0)
    val qLouvain = score(
      Louvain.communities(edges, sweeps = 6).select("node", "label"))
    val qLpa = score(
      LabelProp.communities(edges, rounds = 4).select("node", "label"))
    assert(qLouvain >= qLpa,
      s"louvain Q $qLouvain < LPA Q $qLpa on the affinity graph")
    // and the optimizer's partition is denser than chance outright
    assert(qLouvain > 0.0, s"louvain Q $qLouvain not positive")
  }

  test("louvain refine: splits disconnected communities, never lowers Q, connected output") {
    import graft.operators.{GraphStats, Louvain}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // two triangles under ONE hand label — an internally disconnected
    // community; refine must split it at the component boundary
    val tri2 = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val glued = Seq(1L, 2L, 3L, 10L, 11L, 12L).toDF("node")
      .withColumn("label", lit(1L))
    val r = rows(Louvain.refine(tri2, glued))
    assert(r.toSet === Set((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 1L),
      (10L, 1L, 10L), (11L, 1L, 10L), (12L, 1L, 10L)))
    // the Traag et al. guarantee, on the exact evaluator: the split
    // strictly raises Q (edge term unchanged, (Σd)² penalty drops)
    def q(labels: org.apache.spark.sql.DataFrame): Double =
      GraphStats.modularity(tri2,
          labels.select(col("node"), col("label")))
        .agg(sum(col("modularity"))).head.getDouble(0)
    val refined = Louvain.refine(tri2, glued)
      .select(col("node"), col("refined").as("label"))
    assert(q(refined) > q(glued),
      s"split did not raise Q: ${q(refined)} <= ${q(glued)}")
    // a labeled node with no intra-community edge keeps a singleton;
    // cross-community edges are ignored by the closure
    val split = Seq((1L, 2L)).toDF("src", "dst")
    val lone = Seq((1L, 7L), (2L, 8L)).toDF("node", "label")
    assert(rows(Louvain.refine(split, lone)).toSet ===
      Set((1L, 7L, 1L), (2L, 8L, 2L)))
    intercept[IllegalArgumentException](Louvain.refine(tri2, glued, 0))
  }

  test("louvain refine on the real graph: connectivity postcondition, Q >= louvain, live splits") {
    import graft.operators.{GraphStats, Louvain}
    val dir = "/root/testdata/sf0.001"
    val edges = Shared.affinityTopEdges(spark, dir).localCheckpoint(true)
    val labels = Louvain.communities(edges, sweeps = 6)
      .select("node", "label").localCheckpoint(true)
    val out = GraphQueries.louvainRefined(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the row is LIVE: one-level Louvain really leaves disconnected
    // communities on this graph (8 splits measured at sf0.001)
    val byLabel = out.groupBy(_._2).map { case (_, g) =>
      g.map(_._3).distinct.size }
    assert(byLabel.exists(_ > 1), "no community split — the row is a no-op")
    // connectivity postcondition: within each refined community, the
    // intra-edge union-find has exactly one root
    val und = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ref = out.map(t => t._1 -> t._3).toMap
    val parent = scala.collection.mutable.Map(ref.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    und.foreach { case (u, v) =>
      if (ref.contains(u) && ref.contains(v) && ref(u) == ref(v))
        parent(find(u)) = find(v) }
    val comps = ref.keys.groupBy(ref).map { case (_, ns) =>
      ns.map(find).toSet.size }
    assert(comps.forall(_ == 1), "a refined community is not connected")
    // and refinement never lowered the exact-evaluator score
    def q(l: org.apache.spark.sql.DataFrame): Double =
      GraphStats.modularity(edges, l)
        .agg(sum(col("modularity"))).head.getDouble(0)
    val qRef = q(GraphQueries.louvainRefined(spark, dir)
      .select(col("node"), col("refined").as("label")))
    assert(qRef >= q(labels), "refinement lowered Q")
  }

  test("kcore churn row: real evictions AND re-entries on the real graph (q219 premise)") {
    import graft.operators.KCore
    // q219's in-query requires pin a mixed EDGE delta; this pins the
    // stronger premise — the churn actually moves CORE membership both
    // ways on the real sf0.001 data (old-core evictions and new entries
    // both non-empty), so the registered row keeps exercising deletion
    // cascades and re-admission, not just delta bookkeeping
    val dir = "/root/testdata/sf0.001"
    val today = Shared.affinityTopEdges(spark, dir)
    val yesterday = Shared.affinityTopEdges(spark, dir,
      before = Some("2024-01-16"))
    def members(e: org.apache.spark.sql.DataFrame): Set[Long] =
      KCore.core(e, k = 4).select("node").collect().map(_.getLong(0)).toSet
    val oldCore = members(yesterday)
    val newCore = members(today)
    assert((oldCore -- newCore).nonEmpty, "no old-core evictions — the " +
      "churn row no longer exercises deletion cascades")
    assert((newCore -- oldCore).nonEmpty, "no core re-entries/admissions")
    // and the registered query's maintained result equals the fixpoint
    val got = GraphMaintenanceQueries.kcoreChurn(spark, dir)
      .select("node").collect().map(_.getLong(0)).toSet
    assert(got === newCore)
  }

  test("truss/scc churn rows: membership moves both ways on the real graph (q221/q222 premise)") {
    import graft.operators.{Scc, Truss}
    val dir = "/root/testdata/sf0.001"
    // truss: old-truss edges evicted AND new edges admitted, and the
    // maintained result is the full-recompute fixpoint
    def trussSet(e: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Truss.edges(e, k = 4).select("u", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t8y = Shared.affinityTopEdges(spark, dir, n = 8,
      before = Some("2024-01-16"))
    val t8 = Shared.affinityTopEdges(spark, dir, n = 8)
    val oldT = trussSet(t8y)
    val newT = trussSet(t8)
    assert((oldT -- newT).nonEmpty, "no truss-edge evictions")
    assert((newT -- oldT).nonEmpty, "no truss-edge admissions")
    assert(GraphMaintenanceQueries.trussChurn(spark, dir).select("u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === newT)
    // scc: yesterday's labeling genuinely differs from today's (classes
    // split or merged), and the maintained result is the fixpoint
    def sccMap(e: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Scc.components(e.filter(col("src") =!= col("dst"))
          .select("src", "dst").distinct(), maxRounds = 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oldS = sccMap(Shared.affinityTopEdges(spark, dir,
      before = Some("2024-01-16")))
    val newS = sccMap(Shared.affinityTopEdges(spark, dir))
    assert(oldS !== newS, "SCC labeling unchanged — the churn row is " +
      "degenerate on this cutoff")
    assert(GraphMaintenanceQueries.sccChurn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === newS)
  }

  test("corenessMaintain: insert-only, deletion cascade, empty/garbage old state") {
    import graft.operators.KCore
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 {1,2,3,4} + triangle {4,5,6} + pendant (6,7): shells 3/2/1
    val full = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L))
    val fullDf = full.toDF("src", "dst")
    val expect = asMap(KCore.coreness(fullDf))
    // insert-only: yesterday misses (3,4) and (5,6); both shells must
    // upgrade to the full-graph grading (1,2,3,4 to 3; 5 to 2)
    val oldEdges = full.filterNot(e => e == ((3L, 4L)) || e == ((5L, 6L)))
      .toDF("src", "dst")
    val oldC = KCore.coreness(oldEdges)
    val delta = Seq((3L, 4L), (5L, 6L)).toDF("src", "dst")
    assert(asMap(KCore.corenessMaintain(fullDf, oldC,
      delta = Some(delta))) === expect)
    // deletion cascade: today DROPS (1,2) — the K4 shell collapses to 2;
    // yesterday = full graph, delta = the removed edge
    val shrunk = full.filterNot(_ == ((1L, 2L))).toDF("src", "dst")
    assert(asMap(KCore.corenessMaintain(shrunk, KCore.coreness(fullDf),
      delta = Some(Seq((1L, 2L)).toDF("src", "dst")))) ===
      asMap(KCore.coreness(shrunk)))
    // empty old state degrades to exactly coreness (no delta declared)
    val empty = spark.range(0)
      .select(col("id").as("node"), col("id").as("coreness"))
    assert(asMap(KCore.corenessMaintain(fullDf, empty)) === expect)
    // garbage old labels without a delta are never trusted
    val garbage = Seq((1L, 9L), (7L, 9L)).toDF("node", "coreness")
    assert(asMap(KCore.corenessMaintain(fullDf, garbage)) === expect)
    // empty delta on an unchanged graph: pure certification at every level
    val (outSame, (_, stats)) = KCore.corenessMaintainWithStats(
      fullDf, KCore.coreness(fullDf),
      delta = Some(Seq.empty[(Long, Long)].toDF("src", "dst")))
    assert(asMap(outSame) === expect)
    assert(stats.forall(_._1 <= 1), stats.toString)
  }

  test("betweenness: sampled pivots rank-recall floor vs exact (Brandes-Pich)") {
    import graft.operators.Betweenness
    // deterministic 48-node graph: ring + chords — enough structure that
    // betweenness is non-uniform, small enough for the exact run
    val n = 48L
    val edges = ((0L until n).map(i => (i, (i + 1) % n)) ++
      (0L until n by 6).map(i => (i, (i + n / 2) % n))).toDF("src", "dst")
    val nodes = (0L until n).toDF("node")
    val exact = Betweenness.fromPivots(edges, nodes).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(-_._2)
    // every 2nd node as pivot (the q214 MEASURED pivot density — mod-3
    // pivots reached only 0.70 on the real affinity graph): the estimator
    // keeps the RANKING — top-10-by-exact must overlap the sampled top-10
    // at >= 0.8, the ANN-family recall bar (sampled != exact, but the
    // ranks an analyst consumes survive)
    val sampled = Betweenness.fromPivots(edges,
        nodes.filter(col("node") % 2 === 0)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(-_._2)
    val topExact = exact.take(10).map(_._1).toSet
    val topSampled = sampled.take(10).map(_._1).toSet
    val recall = topExact.intersect(topSampled).size / 10.0
    assert(recall >= 0.8, s"sampled top-10 recall $recall vs exact " +
      s"(exact=${topExact.toSeq.sorted}, sampled=${topSampled.toSeq.sorted})")
    // a node never on any shortest path stays exactly 0 in both modes
    assert(exact.toMap.values.exists(_ == 0.0) ===
      sampled.toMap.values.exists(_ == 0.0))
  }

  // ------------------------------------------------------- Loops storage

  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(ck: DataFrame): Int =
    ck.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id

  test("Loops.matCount/matIsEmpty: narrow views of checkpoints only") {
    val a = Loops.checkpoint(Seq(1L, 2L, 3L).toDF("id"), eager = true)
    assert(Loops.matCount(a) === 3L)
    assert(Loops.matCount(a.filter(col("id") > 1).select("id")) === 2L)
    assert(Loops.matCount(a.unionByName(a)) === 6L)
    assert(!Loops.matIsEmpty(a.where(col("id") === 3L)))
    val e = intercept[IllegalArgumentException](Loops.matCount(a.join(a, "id")))
    assert(e.getMessage.contains("only on materialized frames") &&
      e.getMessage.contains("Join"), e.getMessage)
    intercept[IllegalArgumentException](Loops.matIsEmpty(a.distinct()))
  }

  test("Loops.free: releases the checkpoint under a view, rejects other plans") {
    val a = Loops.checkpoint(Seq(1L, 2L).toDF("id"), eager = true)
    val e = intercept[IllegalArgumentException](Loops.free(a.join(a, "id")))
    assert(e.getMessage.contains("Loops.free"), e.getMessage)
    assert(persistedIds().contains(rddId(a)))
    Loops.free(a.filter(col("id") > 1).select("id"))
    assert(!persistedIds().contains(rddId(a)))
  }

  test("Loops.scope: a checkpoint made outside any scope is left alone") {
    val outside = Loops.checkpoint(spark.range(10).toDF("id"), eager = true)
    val insideId = Loops.scope {
      val inside = Loops.checkpoint(outside.filter(col("id") > 4), eager = true)
      assert(persistedIds().contains(rddId(inside)))
      rddId(inside)
    }
    assert(!persistedIds().contains(insideId))
    assert(persistedIds().contains(rddId(outside)))
    assert(outside.count() === 10L)
  }

  /** Test data of the registered queries (SF 0.001). */
  private lazy val sf0001 = sys.env.getOrElse("SPARK_GRAFT_TESTDATA",
    Paths.get(sys.props("user.home"), "testdata").toString) + "/sf0.001"

  private def resultRows(query: String): Seq[String] =
    Queries.all(query)(spark, sf0001).collect().map(_.toString).toSeq.sorted

  test("Loops.scope: q188 and q195 on two threads match a sequential run, release everything") {
    val names = Seq("q188_scc", "q195_truss")
    val sequential = names.map { n =>
      val before = persistedIds()
      val rows = Loops.scope(resultRows(n))
      assert((persistedIds() -- before).isEmpty, s"$n left checkpoints behind")
      rows
    }
    assert(sequential.forall(_.nonEmpty))
    val before = persistedIds()
    val pool = Executors.newFixedThreadPool(2)
    val concurrent =
      try names.map(n => pool.submit(() => Loops.scope(resultRows(n))))
        .map(_.get(10, TimeUnit.MINUTES))
      finally pool.shutdown()
    names.zip(concurrent).zip(sequential).foreach { case ((n, got), want) =>
      assert(got === want, s"$n differs when run concurrently")
    }
    assert((persistedIds() -- before).isEmpty,
      "the concurrent scopes left checkpoints behind")
  }
}
