package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.RawSheet
import graft.queries.{ChoirQueries, DedupQueries, EventQueries, Queries, RelationalQueries, SketchQueries, TextQueries}

/** Physical-plan pins for the scale-critical queries: these assertions are
  * the "would this survive 100×?" contract — broadcast joins on dims (fact
  * side never shuffles for a lookup), filters and projections reaching the
  * parquet scan, map-side partial aggregation, single data shuffles for
  * window+agg pairs, and no synthetic-row-id windows anywhere in the marts.
  * A regression that flips a broadcast to a sort-merge join or adds a
  * shuffle fails here, not in a 100 TB run.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Data shuffles only: hash/range repartitions, not broadcast exchanges. */
  private def shuffles(p: String): Int =
    p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition"))

  test("q101 top-10 plans as TakeOrderedAndProject; customer broadcast is the planner's CHOICE") {
    // r12: no forced broadcast hint on customer (it grows with scale — a
    // forced hint is an OOM at 100×, not a plan). At bench SFs the planner's
    // size estimate must still CHOOSE a broadcast; at full scale the same
    // code degrades to SMJ on custkey, which is the correct 100 TB strategy.
    val p = plan(RelationalQueries.shippingPriority(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not be a global sort")
    assert(p.contains("BroadcastHashJoin"),
      "planner must pick a broadcast for the filtered customer side at this SF")
    assert(!RelationalQueries.shippingPriority(spark, dir).queryExecution.analyzed.toString
      .contains("UnresolvedHint"), "sanity")
    // both date predicates reach the scans
    assert(p.contains("l_shipdate"), p.take(500))
    assert(p.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("lineitem") ||
        l.contains("PushedFilters") && l.contains("l_shipdate")),
      "l_shipdate filter must push toward the lineitem scan")
  }

  test("q102 six-table join: every dimension side broadcasts BY SIZE, no sort-merge join") {
    // only region→nation carries a hint (bounded by schema); customer and
    // supplier broadcasts are size-based — present at this SF, SMJ at 100×.
    val p = plan(RelationalQueries.localSupplierVolume(spark, dir))
    assert(!p.contains("SortMergeJoin"),
      "a dimension flipping to SMJ would shuffle the fact side at 100 TB")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "customer/supplier/nation-region sides must all broadcast at this SF")
  }

  test("q104 trade volume: dims join without SMJ, nation predicates stay post-join") {
    // faa16f3 shipped q104 without a pin; this is it. supplier/customer are
    // size-based broadcasts (no hints), nation roles hinted (25 rows by
    // schema). The cross-nation inequality is a post-join filter on two
    // broadcast-joined attributes — nothing forces a fact-side shuffle
    // before the rollup.
    val p = plan(RelationalQueries.tradeVolume(spark, dir))
    assert(!p.contains("SortMergeJoin"),
      "a dim flipping to SMJ would shuffle lineitem/orders to join at this SF")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "supplier/customer/nation×2 must all broadcast at this SF:\n" + p)
    assert(p.contains("NOT (supp_nation"),
      "cross-nation filter must survive as a predicate:\n" + p.take(800))
    // the only data shuffles: orders⋈lineitem (both sides), rollup, sort
    assert(shuffles(p) <= 5, p)
  }

  test("q106 market share: dims broadcast by size, conditional sum rides ONE rollup") {
    // the Q8 shape's teeth: nation/customer/supplier joins must not SMJ at
    // this SF (only lineitem⋈orders — the fact-fact join — may), and the
    // share numerator/denominator are ONE grouped aggregate, not two passes.
    val p = plan(RelationalQueries.marketShare(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) === 2,
      "numerator and denominator must share one partial+final rollup:\n" + p)
  }

  test("q107 large orders: HAVING prunes the per-order rollup BEFORE the customer join") {
    val p = plan(RelationalQueries.largeOrders(spark, dir))
    // the quantity filter must sit on the aggregate side, not after the join
    val lines = p.linesIterator.toVector
    val joinIdx = lines.indexWhere(l => l.contains("Join"))
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("145"))
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      "threshold filter must be BELOW the join (applied to the rollup):\n" + p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "per-order quantity rollup must be partial-aggregated:\n" + p)
  }

  test("q108 existence probe is a LEFT SEMI join — never inner join + distinct") {
    // the Q4 shape's teeth: the lateness bound rides the semi-join as a
    // residual condition; an inner join would multiply orders by their
    // late-line count and need a distinct to undo it (an extra shuffle AND
    // wrong intermediate cardinality at 100 TB).
    val p = plan(RelationalQueries.lateOrderPriorities(spark, dir))
    assert(p.contains("LeftSemi"), "existence probe must plan as a semi-join:\n" + p)
    assert(!p.contains("HashAggregate(keys=[o_orderkey"),
      "no distinct-on-orderkey pass may exist:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate")),
      "quarter bound must push to the orders scan:\n" + p)
  }

  test("q111 histogram: outer join preserves zero-order customers, priority filter pushes") {
    val p = plan(RelationalQueries.orderCountHistogram(spark, dir))
    assert(p.contains("LeftOuter"),
      "zero-order customers must survive (the Q13 point):\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("5-LOW")),
      "the priority exclusion must reach the orders scan, not the join:\n" + p)
    // custkey rollup, count-domain rollup, presentation sort — nothing more
    assert(shuffles(p) <= 3, p)
  }

  test("q112 top-20 plans as TakeOrderedAndProject; returnflag and quarter push to the scans") {
    val p = plan(RelationalQueries.returnedItems(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("l_returnflag")),
      "returnflag must push to the lineitem scan:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate")),
      "quarter bound must push to the orders scan:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "dims must broadcast by size at this SF:\n" + p)
  }

  test("q114 join-back-to-aggregate: brand filter pushes to part, no all-pairs stage") {
    // the Q17 teeth: the per-part average must be computed AFTER the brand
    // filter shrank the fact side (part filter pushed to its scan), and the
    // rollup joins back by key — never a cartesian re-pairing.
    val p = plan(RelationalQueries.smallQuantityRevenue(spark, dir))
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("p_brand")),
      "brand filter must push to the part scan:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "join-back must stay an equi-join:\n" + p)
  }

  test("q115 disjunctive brackets: per-side OR-envelopes push to BOTH scans") {
    // (A1∧B1)∨(A2∧B2) must not evaluate above the join only: Catalyst's
    // PushExtraPredicateThroughJoin derives (A1∨A2) for the part side and
    // (B1∨B2) for the lineitem side — the pushdown that makes a disjunctive
    // bracket query scan-selective at 100 TB instead of joining every line.
    val p = plan(RelationalQueries.bracketRevenue(spark, dir))
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("p_brand")),
      "part-side OR-envelope must reach the part scan:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("l_quantity")),
      "lineitem-side OR-envelope must reach the lineitem scan:\n" + p)
  }

  test("q116 dormant customers: anti-join on the RECENT slice, cutoff pushed, 1-row avg broadcast") {
    val p = plan(RelationalQueries.dormantCustomers(spark, dir))
    assert(p.contains("LeftAnti"), "no-recent-order must plan as an anti-join:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate")),
      "the cutoff must push to the orders scan — the anti-join probes the " +
        "recent slice, not full history:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the scalar average must broadcast, never shuffle customers for it:\n" + p)
  }

  test("q117 exact heavy grams: one rollup shuffle + presentation sort, no join") {
    val p = plan(SketchQueries.heavyGrams(spark, dir))
    assert(!p.contains("Join"), "frequency mining must not plan a join:\n" + p)
    assert(shuffles(p) === 2, "gram rollup + presentation sort only:\n" + p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "the rollup must partial-aggregate map-side:\n" + p)
  }

  test("q118 sketched heavy grams: the CMS probe prunes BEFORE the rollup exchange") {
    val p = plan(SketchQueries.heavyGramsSketched(spark, dir))
    assert(p.contains("cms_estimate"),
      "the codegen'd CMS probe must appear in the physical plan:\n" + p)
    assert(!p.contains("Join"), "the prescreen is a scan-local filter, not a join:\n" + p)
    assert(shuffles(p) === 2, "same shuffle budget as the exact form:\n" + p)
    // the probe must sit below the exchange: the Filter line carrying
    // cms_estimate appears AFTER (deeper than) the first Exchange line in
    // the plan's top-down print
    val lines = p.linesIterator.toVector
    val exch = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val probe = lines.indexWhere(_.contains("cms_estimate"))
    assert(exch >= 0 && probe > exch,
      "the CMS filter must be below the rollup exchange (scan side):\n" + p)
  }

  test("q122 value runs: windows, run rollup and interval stitch all reuse the user partitioning") {
    // the change-flag window partitions by user; the (user, run_id) rollup
    // and the valid_to lead window are both satisfied by that same
    // clustering (subset-key co-location), so the whole history builder is
    // ONE data shuffle + the presentation sort — no per-stage re-exchange.
    val p = plan(EventQueries.eventTypeHistory(spark, dir))
    assert(!p.contains("Join"), "runs-collapse must not plan a join:\n" + p)
    assert(shuffles(p) <= 2,
      "user shuffle + presentation sort only — a third exchange means the " +
        "rollup or the stitch re-partitioned:\n" + p)
  }

  test("q128 forecast revenue: every predicate pushes to the scan — pure scan→rollup, no join") {
    // the row-group-pruning benchmark: date band, discount band and quantity
    // cap are all single-column comparisons, so the scan line must carry them
    // ALL as PushedFilters and read only the 4 referenced columns. At 100 TB
    // this is the difference between decoding 1/7 of the row groups and
    // decoding everything.
    val df = RelationalQueries.forecastRevenue(spark, dir)
    assert(!plan(df).contains("Join"), plan(df))
    assert(shuffles(plan(df)) === 1, "one single-partition agg exchange only:\n" + plan(df))
    // the scan's metadata string is built lazily at the ACTIVE truncation
    // length — widen it on a fresh plan, not the one rendered above
    val prevLen = spark.conf.get("spark.sql.maxMetadataStringLength")
    val scanLine =
      try {
        spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
        RelationalQueries.forecastRevenue(spark, dir).queryExecution.executedPlan
          .toString.linesIterator
          .find(_.contains("FileScan")).getOrElse(fail("no FileScan"))
      } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevLen)
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity"))
      assert(scanLine.contains(f), s"predicate $f not pushed: $scanLine")
    assert(!scanLine.contains("l_orderkey"), "projection not pruned: " + scanLine)
  }

  test("q129 top supplier: the quarter rollup is computed ONCE — the scalar max reads a ReusedExchange") {
    // Q15 without a materialized view: the per-supplier revenue rollup feeds
    // both the max aggregate and the equality probe. The explicit
    // isnotnull(l_suppkey) keeps both consumers' exchange subtrees
    // canonically identical, so at runtime the fact scan + rollup evaluate
    // once. A drift that re-derives the rollup per side doubles the fact
    // scans at 100 TB.
    val df = RelationalQueries.topSupplier(spark, dir)
    df.queryExecution.toRdd.count()
    val full = plan(df)
    val p = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.take(i)
    }
    assert(p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem")) === 1,
      "lineitem must be scanned exactly once:\n" + p)
    assert(p.contains("ReusedExchange"),
      "the max side must reuse the rollup exchange:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q130 product profit: every dim broadcasts, one rollup, LIKE pushed to the part scan") {
    val p = plan(RelationalQueries.productProfit(spark, dir))
    assert(!p.contains("SortMergeJoin"),
      "part/supplier/orders/nation must all broadcast at this SF:\n" + p)
    assert("BroadcastHashJoin".r.findAllIn(p).size === 4, p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("StringContains(p_name")),
      "the product-family LIKE must push to the part scan:\n" + p)
    assert(shuffles(p) === 2, "rollup + presentation sort only:\n" + p)
  }

  test("q131 waiting suppliers: ONE fact scan — per-order stats are windows, not a rollup self-join") {
    // Q21's EXISTS/NOT-EXISTS pair collapses to windows over the
    // per-(order, supplier) lateness rollup. The groupBy-then-rejoin
    // formulation plans the rollup subtree twice (two full lineitem scans);
    // this pin holds the single-scan form.
    val p = plan(RelationalQueries.waitingSuppliers(spark, dir))
    assert(p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem")) === 1,
      "lineitem must be scanned exactly once:\n" + p)
    assert(p.contains("Window"), "per-order stats must be windows:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "orders/supplier join by broadcast at this SF; no fact self-join:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(o_orderstatus,F)")),
      "the finished-order filter must push to the orders scan:\n" + p)
  }

  test("q132 cheapest supplier: the offer rollup is computed ONCE, per-part min is a window") {
    val p = plan(RelationalQueries.cheapestRegionalSupplier(spark, dir))
    assert(p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem")) === 1,
      "lineitem must be scanned exactly once:\n" + p)
    assert(p.contains("Window"), "the correlated MIN must be a window over the rollup:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(p_size,15)")),
      "the size-class filter must push to the part scan:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(r_name,EUROPE)")),
      "the region filter must push to the region scan:\n" + p)
  }

  test("q133 supplier mix: flagged suppliers leave via a BROADCAST anti-join below the rollup") {
    val p = plan(RelationalQueries.supplierMix(spark, dir))
    assert(p.contains("LeftAnti"), "NOT IN must plan as an anti-join:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the anti probe and the part join must broadcast at this SF:\n" + p)
    // the anti-join must sit BELOW the distinct rollup so excluded suppliers
    // never ride the exchange
    val lines = p.linesIterator.toVector
    val aggIdx = lines.indexWhere(_.contains("HashAggregate"))
    val antiIdx = lines.indexWhere(_.contains("LeftAnti"))
    assert(aggIdx >= 0 && antiIdx > aggIdx,
      "anti-join must be below (deeper than) the rollup:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("Not(EqualTo(p_brand")),
      "the brand exclusion must push to the part scan:\n" + p)
  }

  test("q134 dominant suppliers: ONE fact scan, share threshold via window, dim probe is LEFT SEMI") {
    val p = plan(RelationalQueries.dominantSuppliers(spark, dir))
    assert(p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem")) === 1,
      "lineitem must be scanned exactly once:\n" + p)
    assert(p.contains("Window"), "the per-part total must be a window over the rollup:\n" + p)
    assert(p.contains("LeftSemi"), "the supplier probe must be a semi-join:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("StringContains(p_name")),
      "the product-family LIKE must push to the part scan:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(l_shipdate")),
      "the year band must push to the lineitem scan:\n" + p)
  }

  test("q135 important stock: rollup computed ONCE, anchor broadcasts back, region prune pushed") {
    // Q11's scalar HAVING: the per-part value rollup feeds the filter probe
    // and the 1-row total/count anchor; at runtime both consumers must share
    // one exchange (the q129 pattern) — a drift doubles the region-pruned
    // fact scans.
    val df = RelationalQueries.importantStock(spark, dir)
    df.queryExecution.toRdd.count()
    val full = plan(df)
    val p = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.take(i)
    }
    assert(p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem")) === 1,
      "lineitem must be scanned exactly once:\n" + p)
    assert(p.contains("ReusedExchange"),
      "the anchor must reuse the rollup exchange:\n" + p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(r_name,EUROPE)")),
      "the region filter must push to the region scan:\n" + p)
  }

  test("q02 joins dims by broadcast only — the fact side never shuffles to join") {
    val p = plan(RelationalQueries.joinAggNation(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // groupBy + presentation sort are the only data shuffles
    assert(shuffles(p) === 2, p)
  }

  test("q03 pushes both predicates and the 4-column projection into the scan") {
    val p = plan(RelationalQueries.filterPushdown(spark, dir))
    val scanLine = p.linesIterator.find(_.contains("FileScan")).get
    assert(scanLine.contains("l_orderkey") && scanLine.contains("l_shipdate"))
    assert(!scanLine.contains("l_extendedprice"), "projection not pruned: " + scanLine)
    assert(p.contains("PushedFilters") &&
      p.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("GreaterThan")))
  }

  test("q01 aggregates with a map-side partial before the shuffle") {
    val p = plan(RelationalQueries.aggPricing(spark, dir))
    assert(p.linesIterator.count(_.contains("HashAggregate")) === 2, p)
    assert(shuffles(p) === 2, p) // agg + presentation sort
  }

  test("q07 as-of join runs on ONE data shuffle (union + running-last)") {
    val p = plan(ChoirQueries.asofJoin(spark, dir))
    assert(!p.contains("Join"), "as-of must not be a physical join: " + p)
    assert(shuffles(p) === 2, p) // window shuffle + presentation sort
  }

  test("q09 streak shares one shuffle between window and aggregation") {
    val p = plan(ChoirQueries.trailingStreak(spark, dir))
    assert(shuffles(p) === 2, p) // user_id shuffle + presentation sort
  }

  test("q20 minhash candidate generation has no all-pairs stage") {
    val p = plan(DedupQueries.minhashPairs(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bucketed tables join without a shuffle on either side") {
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("bucketed").toString)
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
    store.overwriteBucketed("b_lineitem", li, 8, Seq("l_orderkey"), Seq("l_orderkey"))
    store.overwriteBucketed("b_orders", ord, 8, Seq("o_orderkey"), Seq("o_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = store.readBucketed("b_lineitem")
        .join(store.readBucketed("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = plan(joined)
      val joinIdx = p.linesIterator.indexWhere(_.contains("SortMergeJoin"))
      assert(joinIdx >= 0, p)
      // co-located: no hash-partitioning exchange below the join
      val belowJoin = p.linesIterator.drop(joinIdx).mkString("\n")
      assert(!belowJoin.contains("Exchange hashpartitioning"), p)
      // sanity: result matches the unbucketed join
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed overwrite: swap is repeatable, failure leaves the old generation readable") {
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("bucketswap").toString)
    val gen1 = Tables.load(spark, dir, "nation").limit(10)
    val gen2 = Tables.load(spark, dir, "nation").limit(20)
    store.overwriteBucketed("b_nation", gen1, 4, Seq("n_nationkey"))
    assert(store.readBucketed("b_nation").count() === 10)
    // second overwrite goes through the drop + rename swap path
    store.overwriteBucketed("b_nation", gen2, 4, Seq("n_nationkey"))
    assert(store.readBucketed("b_nation").count() === 20)
    // a FAILED write must leave the previous generation untouched
    val boom = gen1.select(col("n_nationkey"),
      when(col("n_nationkey") >= 0, raise_error(lit("boom"))).as("x"))
    intercept[Exception] { store.overwriteBucketed("b_nation", boom, 4, Seq("n_nationkey")) }
    assert(store.readBucketed("b_nation").count() === 20,
      "old generation must survive a failed overwrite")
  }

  test("q168 keeper pick is a partial-aggregable max(struct) — no window, no object agg") {
    val p = plan(DedupQueries.dedupKeepBest(spark, dir))
    assert(!p.contains("Window"),
      s"argmax must fold through the aggregate, not rank through a window:\n$p")
    assert(!p.contains("ObjectHashAggregate") && !p.contains("collect_list"),
      s"keeper pick must stay in the codegen hash-aggregate class:\n$p")
    assert(p.contains("partial_max") || p.contains("partial_count"),
      s"map-side partial aggregation expected:\n$p")
  }

  test("dropBucketed releases the catalog entry AND the generation files") {
    val rootDir = java.nio.file.Files.createTempDirectory("bucketdrop").toString
    val store = new graft.io.TableStore(spark, rootDir)
    store.overwriteBucketed("b_drop",
      Tables.load(spark, dir, "nation").limit(10), 4, Seq("n_nationkey"))
    assert(store.readBucketed("b_drop").count() === 10)
    store.dropBucketed("b_drop")
    assert(!spark.sessionState.catalog.listTables("default")
      .exists(_.table.endsWith("_b_drop")), "catalog entry must be gone")
    val gens = Option(new java.io.File(rootDir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("b_drop__gen_"))
    assert(gens.isEmpty, s"generation files must be gone: ${gens.mkString(",")}")
    store.dropBucketed("b_drop") // idempotent no-op
    // the name is reusable after a drop
    store.overwriteBucketed("b_drop",
      Tables.load(spark, dir, "nation").limit(20), 4, Seq("n_nationkey"))
    assert(store.readBucketed("b_drop").count() === 20)
    store.dropBucketed("b_drop")
  }

  test("bucketed overwrite: an interrupted swap (retired entry left behind) self-heals") {
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("bucketcrash").toString)
    val gen1 = Tables.load(spark, dir, "nation").limit(10)
    val gen2 = Tables.load(spark, dir, "nation").limit(20)
    store.overwriteBucketed("b_crash", gen1, 4, Seq("n_nationkey"))
    // simulate a crash BETWEEN the two renames: live entry renamed away
    val ident = spark.sessionState.catalog.listTables("default")
      .map(_.table).find(t => t.endsWith("_b_crash") && !t.contains("__")).get
    spark.sql(s"ALTER TABLE `$ident` RENAME TO `${ident}__retired`")
    // next overwrite must first RESTORE the retired generation, then replace it
    store.overwriteBucketed("b_crash", gen2, 4, Seq("n_nationkey"))
    assert(store.readBucketed("b_crash").count() === 20)
    // and no stray retired entry remains
    assert(!spark.sessionState.catalog.listTables("default")
      .exists(_.table == s"${ident}__retired"))
  }

  test("bucketed overwrite: generations orphaned by a JVM restart are swept") {
    val rootDir = java.nio.file.Files.createTempDirectory("bucketleak").toString
    val store = new graft.io.TableStore(spark, rootDir)
    val gen1 = Tables.load(spark, dir, "nation").limit(10)
    val gen2 = Tables.load(spark, dir, "nation").limit(20)
    def genDirs: Array[String] = new java.io.File(rootDir).listFiles()
      .map(_.getName).filter(_.startsWith("b_leak__gen_")).sorted
    store.overwriteBucketed("b_leak", gen1, 4, Seq("n_nationkey"))
    assert(genDirs.length === 1)
    // simulate a JVM restart: the in-memory catalog entry vanishes, the
    // generation directory stays behind with nothing pointing at it
    val ident = spark.sessionState.catalog.listTables("default")
      .map(_.table).find(t => t.endsWith("_b_leak") && !t.contains("__")).get
    spark.sql(s"DROP TABLE `$ident`") // external drop: files survive
    assert(genDirs.length === 1, "restart leaves the old generation on disk")
    store.overwriteBucketed("b_leak", gen2, 4, Seq("n_nationkey"))
    assert(store.readBucketed("b_leak").count() === 20)
    assert(genDirs.length === 1, s"orphaned generation not swept: ${genDirs.mkString(",")}")
    // and a LIVE generation is never swept by a subsequent overwrite
    store.overwriteBucketed("b_leak", gen1, 4, Seq("n_nationkey"))
    assert(store.readBucketed("b_leak").count() === 10)
    assert(genDirs.length === 1)
  }

  test("bucketed overwrite: a crashed staging write's files are deleted, not just its entry") {
    val rootDir = java.nio.file.Files.createTempDirectory("bucketstag").toString
    val store = new graft.io.TableStore(spark, rootDir)
    val gen1 = Tables.load(spark, dir, "nation").limit(10)
    val gen2 = Tables.load(spark, dir, "nation").limit(20)
    store.overwriteBucketed("b_stag", gen1, 4, Seq("n_nationkey"))
    // simulate a crash after the staging write but before the swap: the
    // live entry becomes a dangling __staging entry (first-ever write shape)
    val ident = spark.sessionState.catalog.listTables("default")
      .map(_.table).find(t => t.endsWith("_b_stag") && !t.contains("__")).get
    spark.sql(s"ALTER TABLE `$ident` RENAME TO `${ident}__staging`")
    store.overwriteBucketed("b_stag", gen2, 4, Seq("n_nationkey"))
    assert(store.readBucketed("b_stag").count() === 20)
    val gens = new java.io.File(rootDir).listFiles()
      .map(_.getName).filter(_.startsWith("b_stag__gen_"))
    assert(gens.length === 1, s"dead staging generation not deleted: ${gens.mkString(",")}")
  }

  test("partitioned tables: a partition-column filter prunes directories before I/O") {
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("partitioned").toString)
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    store.overwritePartitioned("p_lineitem", li, Seq("ship_month"))
    val months = li.select("ship_month").distinct().count()
    assert(months > 3, "test needs several partitions to prove pruning")
    val one = store.read("p_lineitem").filter(col("ship_month") === "2001-03")
    val scan = one.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse(fail("no FileScan"))
    // the filter must appear as a PartitionFilters entry, NOT a data filter:
    // pruning happens at planning, before any row is read
    assert(scan.contains("PartitionFilters") && scan.matches(".*PartitionFilters: \\[.*ship_month.*\\].*"), scan)
    assert(!scan.matches(".*PushedFilters: \\[[^\\]]*ship_month.*"), scan)
    // and the pruned scan reads only the selected partition's rows
    val expected = li.filter(col("ship_month") === "2001-03").count()
    assert(one.count() === expected)
    assert(expected > 0, "chosen month must exist in the data")
  }

  test("q41 curation: one scan, one content-hash exchange, no join") {
    val p = plan(Queries.all("q41_curation")(spark, dir))
    assert(!p.contains("Join"), "canonical dedup must be a window, not a join: " + p)
    assert(shuffles(p) === 2, p) // __fp window exchange + presentation sort
    assert(p.linesIterator.count(_.contains("FileScan")) === 1, "one scan computes all features: " + p)
  }

  test("z-ordered layout: parquet min/max stats prune what the reader DECODES") {
    // The intra-partition layout lever: directory partitioning prunes at day
    // granularity, but inside a partition only file/row-group min-max stats
    // decide how much a selective predicate decodes. The Morton interleave
    // gives BOTH columns locality. Measured by the scan's
    // numOutputRows — the rows the reader actually decoded after stats
    // pruning, not what the Filter later kept.
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scanned(df: DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.getOrElse(fail("no FileSourceScanExec in plan"))
    }
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("layouts").toString)
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("ship_day",
        datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long"))
    val total = li.count()
    val Seq(dayLo, dayHi, pkLo, pkHi) = li.agg(
      min("ship_day"), max("ship_day"), min("l_partkey"), max("l_partkey"))
      .collect()(0).toSeq.map(_.toString.toDouble)
    // two independent ~10%-selective single-column bands
    val dayBand = col("ship_day") >= (dayLo + (dayHi - dayLo) * 0.4).toLong &&
      col("ship_day") < (dayLo + (dayHi - dayLo) * 0.5).toLong
    val pkBand = col("l_partkey") >= (pkLo + (pkHi - pkLo) * 0.4).toLong &&
      col("l_partkey") < (pkLo + (pkHi - pkLo) * 0.5).toLong
    store.overwriteZOrdered("lay_zo", li, Seq("ship_day", "l_partkey"), files = 16)
    val zo = store.read("lay_zo")
    // the layout only reorders — no row lost, filters agree with the source
    assert(zo.filter(dayBand).count() === li.filter(dayBand).count())
    assert(zo.filter(pkBand).count() === li.filter(pkBand).count())
    // z-order: BOTH single-column bands decode a fraction (measured ~26-31%
    // at 16 files; 0.6 leaves margin for sampling variance in the range
    // partitioner)
    val zoDay = scanned(zo.filter(dayBand).select("l_quantity"))
    val zoPk = scanned(zo.filter(pkBand).select("l_quantity"))
    assert(zoDay <= total * 0.6, s"z-order day band decoded $zoDay/$total")
    assert(zoPk <= total * 0.6, s"z-order partkey band decoded $zoPk/$total")
  }

  test("partitioned fact × filtered dim: dynamic partition pruning is planned") {
    // The dim's FILTER is on o_orderpriority — an orders column with no
    // functional relation to the join key — so the optimizer cannot
    // statically rewrite it onto the partition column: pruning must happen
    // at RUNTIME via a dynamicpruning subquery on the scan. At 100 TB this
    // is the difference between scanning every date partition and scanning
    // the ones the dim selects, decided after the dim side is evaluated.
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("dpp").toString)
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    store.overwritePartitioned("p_lineitem", li, Seq("ship_month"))
    def urgentMonths = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
      .distinct()
    val joined = store.read("p_lineitem")
      .join(urgentMonths, Seq("ship_month"))
      .groupBy("ship_month").count()
    // the rendered FileScan line truncates PartitionFilters at
    // spark.sql.maxMetadataStringLength (100 chars) — long attribute ids in
    // a shared suite JVM push "dynamicpruning" past the cut, so widen the
    // render for the assertion instead of substring-matching a truncation
    val prevLen = spark.conf.get("spark.sql.maxMetadataStringLength")
    val scanLine =
      try {
        spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
        joined.queryExecution.executedPlan.toString.linesIterator
          .find(l => l.contains("FileScan") && l.contains("p_lineitem"))
          .getOrElse(fail("no partitioned scan in plan"))
      } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevLen)
    assert(scanLine.contains("dynamicpruning"),
      "partitioned scan must carry a runtime pruning subquery: " + scanLine)
    // and no statically-inferred month predicate did the pruning instead
    assert(!scanLine.matches(".*PartitionFilters: \\[[^\\]]*(substring|=)[^\\]]*dynamicpruning.*"),
      "pruning must be runtime-only, not a static rewrite: " + scanLine)
    // and the result matches the unpartitioned computation
    val expected = li.join(urgentMonths, Seq("ship_month"))
      .groupBy("ship_month").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected && got.nonEmpty)
  }

  test("q50: the corpus is fingerprinted ONCE — native kernel, self-join reuses the exchange") {
    // r12 shape: the (id, fp) projection sits below an id-keyed repartition,
    // so the band self-join's two sides are identical up to that exchange and
    // ReuseExchange evaluates the scan + native simhash32md5 kernel once. A
    // regression that re-derives the fingerprint per side doubles the corpus
    // scans (and in r11's interpreted form read 8.8× in the driver bench).
    val df = DedupQueries.simhashNearDup(spark, dir)
    df.queryExecution.toRdd.count() // AQE finalizes exchange reuse at runtime
    val full = plan(df)
    val p = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.take(i) // assert on the FINAL adaptive plan only
    }
    val fpCount = "simhash32md5".r.findAllIn(p).size
    assert(fpCount === 1,
      s"expected the fingerprint kernel evaluated exactly once, got $fpCount:\n$p")
    assert(p.contains("ReusedExchange"),
      "the self-join sides must share the fingerprint exchange:\n" + p)
    // and the kernel is codegen'd: no CodegenFallback interpreted votes
    assert(!p.contains("aggregate(lambdafunction"),
      "interpreted vote aggregates are back in the q50 plan:\n" + p)
  }

  test("q51 split assignment is scan-local: no join, no aggregate, pruned scan") {
    val p = plan(TextQueries.splitAssignQ(spark, dir))
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    // presentation sort is the only exchange — the split itself is free
    assert(shuffles(p) === 1, p)
    val scanLine = p.linesIterator.find(_.contains("FileScan")).get
    assert(!scanLine.contains("lang"), "projection not pruned: " + scanLine)
  }

  test("q53 repetition runs on ONE data shuffle — both aggs reuse the doc partitioning") {
    // repartition(doc_id) up front; groupBy(doc_id, gram) and groupBy(doc_id)
    // are both satisfied by hash-partitioning on doc_id, so neither adds an
    // exchange. A regression to the aggregate-first shape doubles the
    // shuffled bytes (exploded gram rows, twice) and fails here.
    val p = plan(TextQueries.repetitionStats(spark, dir))
    assert(shuffles(p) === 2, p) // repartition + presentation sort
    assert(!p.contains("Join"), p)
  }

  test("q54 PII scrub shuffles only for the presentation sort") {
    val p = plan(TextQueries.piiScrub(spark, dir))
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    assert(shuffles(p) === 1, p)
  }

  test("q72 span scrub: the occurrence frame is scanned and hashed ONCE (exchange reuse)") {
    // r12 shape: span-hash occurrences materialize at one span-keyed
    // exchange; the doc-frequency/keeper rollup and the hits join both hang
    // off it (hash(h1,h2) satisfies every downstream clustering), so the
    // corpus is scanned exactly twice — once for occurrences, once for the
    // final text rebuild — instead of r11's four scan+hash passes. The
    // explicit isnotnull(id) on the occurrence frame is what keeps the two
    // consumers canonically identical; if either side drifts, the
    // ReusedExchange disappears and this pin fails before a 100 TB run pays
    // double scans.
    val df = DedupQueries.spanScrub(spark, dir)
    df.queryExecution.toRdd.count()
    val full = plan(df)
    val p = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.take(i)
    }
    assert(p.contains("ReusedExchange"),
      "occurrence consumers must share one exchange:\n" + p)
    assert("FileScan".r.findAllIn(p).size === 2,
      "expected exactly 2 scans (occurrences + text rebuild):\n" + p)
  }

  test("q52 decontamination: eval side broadcast — the train corpus never shuffles to join") {
    // the production-scale contract: eval suites are fixed-size, training
    // data grows; the distinct-collapsed eval shingles broadcast and the
    // training side flows scan → shingle → join with NO exchange before the
    // join — on BOTH train passes (the boilerplate-DF count and the match).
    // Data shuffles, all on the SMALL side or on collapsed aggregates:
    // eval-side distinct ×2 (semi build + anti probe), the boilerplate DF
    // count (map-side partials — one row per task per matched shingle hits
    // the exchange), the per-doc count, and the final sort.
    // The BUILD SIDE is the teeth of this pin: every join's RIGHT operand is
    // the eval/boiler frame, so BuildRight = small side broadcast; a flip to
    // BuildLeft would broadcast the TRAINING corpus — the exact 100 TB
    // failure mode.
    val p = plan(TextQueries.decontaminate(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BuildRight") && !p.contains("BuildLeft"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(shuffles(p) === 5, p)
  }

  test("q55 sequence packing: one group shuffle, no join — the greedy fold is scan-local") {
    val p = plan(TextQueries.sequencePack(spark, dir))
    assert(shuffles(p) === 2, p) // group collect + presentation sort
    assert(!p.contains("Join"), p)
  }

  test("q70 source filter: one rollup shuffle, rollup broadcast back to docs") {
    // the per-source rollup is one row per domain — the corpus side must
    // NEVER shuffle to meet it: the only exchanges are the rollup's own
    // partial-agg exchange (keyed by source) and the presentation sort; the
    // join back is a broadcast with the ROLLUP as build side (BuildRight).
    val p = plan(Queries.all("q70_source_quality")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BuildRight") && !p.contains("BuildLeft"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(shuffles(p) === 2, p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
  }

  test("q56 stratified sample is scan-local with a pruned scan") {
    val p = plan(TextQueries.stratifiedSampleQ(spark, dir))
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    assert(shuffles(p) === 1, p) // presentation sort only
    val scanLine = p.linesIterator.find(_.contains("FileScan")).get
    assert(!scanLine.contains("source"), "projection not pruned: " + scanLine)
  }

  test("NO registered query plans an all-pairs stage (CartesianProduct / BNLJ)") {
    // The round-3 verdict's done-criterion, pinned for every registered query:
    // exact kNN and exact pair scans are block-partitioned cogroups, never a
    // driver-collect broadcast or a nested-loop join. Exempt: q14/q23/q24
    // join a broadcast ONE-ROW global-max frame and q74 a broadcast ONE-ROW
    // corpus-token-total frame — physically BNLJs, but a 1×n stream past a
    // single row, the intended pattern for a global anchor/total. q80 cross-
    // joins two ONE-ROW aggregates per recall row (n_exact × n_hit — a 1×1
    // BNLJ by construction, the same global-total pattern).
    // q81 composes UnigramLm.score and inherits q74's ONE-ROW token-total
    // probe; q83 crosses its two ONE-ROW corpus totals (N_raw × N_target)
    // and broadcasts the single row to the docs — the q74/q80 global-total
    // pattern again.
    // q116 joins a broadcast ONE-ROW positive-balance average (the Q22
    // scalar subquery) — the same 1×n global-anchor stream as q14. q123's
    // pair grid is a broadcast |segments|² self-join over KB-sized SKETCH
    // rows (the fact table was already collapsed to one row per segment) —
    // the non-equi seg_a < seg_b condition plans as a BNLJ by construction.
    // q135 joins a broadcast ONE-ROW total/count anchor (the Q11 scalar
    // HAVING) — the q116 pattern with an inequality, a 1×n stream.
    // q139 crosses its ONE-ROW (N, Σdl) corpus-stats aggregate into the
    // term-matched candidates — the q74 global-total probe again (caught by
    // this sweep only in r13: the r12 sweep last ran minutes before q139's
    // registration landed).
    // q148 is q80's shape verbatim for the perceptual kernels: each report
    // row crosses two ONE-ROW aggregates (n_exact × n_hit), a 1×1 BNLJ by
    // construction — the global-total pattern, never a data-sized pairing.
    // q169 crosses its ONE-ROW (n_sources, total) aggregate into the doc
    // scan to form the mixture weight — the q74/q139 global-total probe.
    // q179 crosses its ONE-ROW corpus count into the ranked scan for the
    // closed-form ntile arithmetic — the same global-anchor pattern.
    // q193 crosses its ONE-ROW (n_a × n_b) snapshot-totals aggregate into
    // the token-count join for the cross-multiplied drift terms — the
    // q74/q139/q169 global-total probe.
    val exempt = Set("q14_lookback_rate", "q23_alert_streaks", "q24_alert_rate",
      "q74_unigram_lm", "q80_recall_report", "q81_perplexity_buckets",
      "q83_dsir_weights", "q85_tfidf_keywords", "q116_dormant_customers",
      "q123_audience_overlap", "q135_important_stock", "q139_bm25_search",
      "q148_perceptual_recall", "q169_mixture_resample",
      "q179_curriculum_order", "q193_corpus_drift")
    for ((name, qe) <- sweepQE if !exempt(name)) {
      val p = qe.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name has a CartesianProduct:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name has a BNLJ:\n$p")
    }
  }

  /** ONE construction pass shared by the registry-wide sweeps (r18): the
    * eager maintenance queries RUN their fixpoints at construction, so
    * constructing all 226 queries costs ~6 min — the two sweeps used to
    * pay it independently and were the wall bound of the whole suite. The
    * assertions read different views (executedPlan string vs sparkPlan
    * tree) of the same QueryExecution, so sharing changes nothing they
    * test. */
  private lazy val sweepQE
      : Seq[(String, org.apache.spark.sql.execution.QueryExecution)] =
    Queries.all.toSeq.map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution
    }

  test("q85/q98/q139 top-k folds are the BOUNDED heap aggregate, partial-merged map-side") {
    // the r12 verdict's scale-killer: slice(sort_array(collect_list)) holds
    // the WHOLE group in one aggregation buffer — O(matching docs) for a
    // high-df BM25 term, O(postings) for a stopword. The bounded
    // collect_top_k must appear with a partial (map-side) stage in each.
    for (name <- Seq("q85_tfidf_keywords", "q98_inverted_index", "q139_bm25_search",
      "q143_weighted_sample")) {
      val p = plan(Queries.all(name)(spark, dir))
      assert(p.contains("partial_collect_top_k"),
        s"$name lost the bounded partial top-k:\n$p")
    }
    // q143's E-S key is scan-local: no join, one stratum rollup + the
    // presentation sort
    val p143 = plan(Queries.all("q143_weighted_sample")(spark, dir))
    assert(!p143.contains("Join"), p143)
    assert(shuffles(p143) === 2, p143)
    // q98 additionally drops its rank window AND its unbounded collect
    // entirely: one term-keyed ObjectHashAggregate carries df + head
    val p98 = plan(Queries.all("q98_inverted_index")(spark, dir))
    assert(!p98.contains("collect_list"), p98)
    assert(!p98.contains("Window"), p98)
    assert(shuffles(p98) === 2, p98) // term rollup + presentation sort only
  }

  test("q83 DSIR: two corpus passes, broadcast bucket dim, no bucket-keyed shuffle") {
    // the r13 rewrite: the bucket-count dim materializes ONCE at
    // construction (bounded, 16^digits rows — its explode pass runs as the
    // eager checkpoint job, OUTSIDE this plan) and broadcasts back over the
    // re-exploded features, so the registered plan carries exactly ONE
    // corpus explode pass (uni + bi = 2 Generates) and no bucket-keyed
    // exchange — an earlier shape ran 3+ lazy explode pipelines and two
    // bucket shuffles
    val p = plan(Queries.all("q83_dsir_weights")(spark, dir))
    assert(p.linesIterator.count(_.contains("Generate explode")) === 2,
      s"expected exactly one corpus explode pass (2 Generates) in the scoring plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(__bk"), p)
  }

  test("q73/q75 heuristic screen and chunking are scan-local — no join, no agg, one sort") {
    for (name <- Seq("q73_c4_filter", "q75_doc_chunk")) {
      val p = plan(Queries.all(name)(spark, dir))
      assert(!p.contains("Join"), s"$name plans a join:\n$p")
      assert(!p.contains("HashAggregate"), s"$name plans an aggregation:\n$p")
      assert(shuffles(p) === 1, s"$name should shuffle only for the presentation sort:\n$p")
    }
  }

  test("q74 unigram LM: one vocab aggregate, token-keyed join, no corpus broadcast") {
    // the only BroadcastExchange rows allowed are the ONE-ROW total probe
    // and (when AQE elects it) the vocabulary build side — never the token
    // occurrence stream itself; the vocab aggregate must partial-aggregate
    val p = plan(Queries.all("q74_unigram_lm")(spark, dir))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4, p) // vocab + doc rollup, partial+final each
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q77 quality cutoff: rank-free — window rides the tiny rollup, cutoffs broadcast back") {
    // the per-doc rank is never computed: the only window input is the
    // (source, score) rollup aggregate, and the corpus meets the cutoff
    // table through a broadcast join (BuildRight), never a sort-merge
    val p = plan(Queries.all("q77_quality_cutoff")(spark, dir))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p)
    assert(!p.contains("row_number") && !p.contains("percent_rank"), p)
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = Queries.all("q77_quality_cutoff")(spark, dir).queryExecution.sparkPlan
    sp.foreach {
      case w: WindowExec =>
        assert(w.child.exists {
          case a: BaseAggregateExec =>
            a.groupingExpressions.exists(_.references.exists(_.name == "quality_score"))
          case _ => false
        }, s"q77 window must consume the distinct-score rollup, not the corpus:\n$sp")
      case _ =>
    }
  }

  test("NO registered query plans an unbounded single-partition window") {
    // Attribution of the bench's `WindowExec: No Partition Defined` warnings
    // (round-9 task): FoldablePropagation folds shuffleRank's constant
    // stratum (`lit("all")`, Budget.scala) out of the offsets window's
    // partition spec, so q65's exclusive-prefix window runs single-partition.
    // That window's input is the bucket-totals AGGREGATE — ≤ strata·16^bucketChars
    // (=256) rows at ANY corpus size — so a single partition is optimal there,
    // not a regression. This guard makes that the ONLY legal shape: every
    // empty-partition WindowExec in every registered query must sit above an
    // aggregate grouped by the __budget_bucket prefix; anything else (a
    // corpus-sized global window) fails here, not in a 100 TB run.
    // Exempt: the documented sheet-scale choir globals (dup numbering over a
    // bounded header sheet, the song frame, `DimSong.frame`).
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val choirExempt = Set("q06_dup_numbering", "q29_choir_mart_attendance",
      "q30_choir_mart_song", "q31_choir_mart_chorister_song")
    for ((name, qe) <- sweepQE if !choirExempt(name)) {
      val sp = qe.sparkPlan
      sp.foreach {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          val bounded = w.child.exists {
            case a: BaseAggregateExec =>
              a.groupingExpressions.exists(_.references.exists(_.name == "__budget_bucket"))
            case _ => false
          }
          assert(bounded,
            s"$name has a single-partition window NOT over the bounded bucket-totals table:\n$sp")
        case _ =>
      }
    }
  }

  test("q21/q27/q42/q43 exact kernels: cogroup shape, no corpus broadcast, no join at all") {
    // The registered exact kNN / pair scans (self AND asymmetric forms) must
    // be the block-partitioned cogroup: no BroadcastExchange (the broadcast
    // kernel's signature), no physical join of any kind (the O(n²)-row
    // formulations' signature).
    for (name <- Seq("q21_ann_brute", "q27_embedding_neardup",
        "q42_ann_join", "q43_neardup_join")) {
      val p = plan(Queries.all(name)(spark, dir))
      assert(p.contains("CoGroup"), s"$name lost the block-cogroup shape:\n$p")
      assert(!p.contains("BroadcastExchange"), s"$name broadcasts the corpus:\n$p")
      assert(!p.contains("Join"), s"$name plans a physical join:\n$p")
    }
  }

  test("mart_attendance: one broadcast chorister lookup, no row-id windows, no per-pair window") {
    val raw = RawSheet.fromRows(spark,
      Seq("Tag", "Joined", "tgid", "Who", "16.06.24"),
      Seq(Seq("Alto", "16.06.24", "", "Anna", "2")))
    val now = current_timestamp()
    val mart = graft.etl.Marts.martAttendance(
      graft.etl.DimChorister.build(raw, now),
      graft.etl.DimChorister.buildAssignments(raw),
      graft.etl.FactAttendance.build(raw, now))
    val p = plan(mart)
    // the synthetic-row-id pattern must never come back
    assert(!p.contains("monotonically_increasing_id"), p)
    // the per-chorister lookup (dim attributes + assignments) is broadcast
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) === 1, p)
    // the as-of pick reads the lookup's array: the only windows left are
    // the curated frames' windows under the facts, none over
    // (chorister_id, rehearsal_date) and none global
    assert(!p.contains("windowspecdefinition()"), p)
    assert(!p.contains("WindowGroupLimit"), p)
    for (m <- Seq(graft.etl.Marts.martChoristerSong(
        graft.etl.DimChorister.build(raw, now), graft.etl.DimChorister.buildAssignments(raw),
        graft.etl.DimSong.build(raw, now), graft.etl.FactAttendance.build(raw, now),
        graft.etl.FactSongTime.build(raw, now)))) {
      val q = m.queryExecution.sparkPlan
      assert(!q.exists {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.partitionSpec.map(_.references.map(_.name).mkString).toSet ==
            Set("chorister_id", "rehearsal_date")
        case _ => false
      }, q)
    }
  }

  test("curated tables: each write plans exactly one exchange") {
    val raw = graft.etl.ChoirFixture.raw(spark)
    val now = current_timestamp()
    for ((name, build) <- Main.CuratedTables) {
      val p = plan(build(raw, now))
      assert(p.linesIterator.count(_.contains("Exchange")) === 1, s"$name:\n$p")
    }
  }


}
