package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Cohorts, Mixture, OrderedAnalytics, TimeSeries}

/** Edge-case specs for the generic ordered-analytics operators (ADVICE round-2
  * regression items included). */
class OperatorsSpec extends SparkSpec {

  import spark.implicits._

  test("trailingStreak: streak-0 keys are reported, not dropped") {
    val df = Seq(
      ("a", 1, "miss"), ("a", 2, "miss"), ("a", 3, "hit"), // newest row breaks -> 0
      ("b", 1, "hit"), ("b", 2, "miss"), ("b", 3, "miss"), // -> 2
      ("c", 1, "miss"), ("c", 2, "miss")                   // never breaks -> 2
    ).toDF("k", "ord", "ev")
    val out = OrderedAnalytics
      .trailingStreak(df, Seq("k"), "ord", col("ev") === "hit")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a" -> 0L, "b" -> 2L, "c" -> 2L))
  }

  test("funnel: greedy-earliest order matching, same-instant never advances, non-entrants surface") {
    val ev = Seq(
      // 1: clean conversion
      (1L, 10L, "signup"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      // 2: clicks/purchase only BEFORE signup → stalls at step 1
      (2L, 5L, "click"), (2L, 10L, "signup"), (2L, 8L, "click"), (2L, 9L, "purchase"),
      // 3: click at the signup instant → strict > never advances
      (3L, 10L, "signup"), (3L, 10L, "click"), (3L, 20L, "purchase"),
      // 4: no signup at all → zero steps, still a row
      (4L, 5L, "purchase"),
      // 5: purchase before the matched click → stalls at step 2
      (5L, 10L, "signup"), (5L, 15L, "click"), (5L, 12L, "purchase"),
      // 6: greedy-earliest is optimal — the FIRST click (11) lets the
      // purchase (20) complete; anchoring on the later click (25) wouldn't
      (6L, 10L, "signup"), (6L, 11L, "click"), (6L, 25L, "click"), (6L, 20L, "purchase")
    ).toDF("user_id", "ts_ns", "event_type")
    val out = OrderedAnalytics.funnel(ev, Seq("user_id"), "ts_ns", "event_type",
      Seq("signup", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getLong(4), r.getBoolean(5)))).toMap
    assert(out(1L) === ((Some(10L), Some(20L), Some(30L), 3L, true)))
    assert(out(2L) === ((Some(10L), None, None, 1L, false)))
    assert(out(3L) === ((Some(10L), None, None, 1L, false)))
    assert(out(4L) === ((None, None, None, 0L, false)))
    assert(out(5L) === ((Some(10L), Some(15L), None, 2L, false)))
    assert(out(6L) === ((Some(10L), Some(11L), Some(20L), 3L, true)))
    intercept[IllegalArgumentException] {
      OrderedAnalytics.funnel(ev, Seq("user_id"), "ts_ns", "event_type",
        Seq("click", "click"))
    }
  }

  test("trailingStreak: empty input yields empty output") {
    val df = Seq.empty[(String, Int, String)].toDF("k", "ord", "ev")
    assert(OrderedAnalytics.trailingStreak(df, Seq("k"), "ord", col("ev") === "hit").count() === 0)
  }

  test("sessionize: gap splits sessions, boundary gap does not") {
    val df = Seq(
      ("u", 0L), ("u", 500L), ("u", 1500L), // gap 1000 == gapMillis -> same session
      ("u", 2501L),                          // gap 1001 > gap -> new session
      ("v", 10L)
    ).toDF("k", "ts")
    val out = OrderedAnalytics.sessionize(df, Seq("k"), "ts", "ts", gapMillis = 1000L)
      .select("k", "ts", "session_id")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      ("u", 0L) -> 1L, ("u", 500L) -> 1L, ("u", 1500L) -> 1L,
      ("u", 2501L) -> 2L, ("v", 10L) -> 1L))
  }

  test("asOfJoin: inclusive bound, latest right wins, no-match yields null") {
    val left = Seq(("u", 10L, "p1"), ("u", 20L, "p2"), ("w", 5L, "p3"))
      .toDF("k", "ord", "tag")
    val right = Seq(("u", 5L, 1.0), ("u", 10L, 2.0), ("u", 15L, 3.0))
      .toDF("k", "ord", "v")
    val out = AsOfJoin.lastValueAsOf(left, right, Seq("k"), "ord", Seq("v"))
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    // p1 at ord 10: right ord 10 (inclusive) -> 2.0; p2 at 20 -> 15 -> 3.0; p3: none
    assert(out === Map("p1" -> Some(2.0), "p2" -> Some(3.0), "p3" -> None))
  }

  test("retention: cohorts by first day, distinct-day activity, exact ratios") {
    val ev = Seq(
      // u1: cohort day 0, active offsets {0, 1, 3}
      (1L, 0L), (1L, 1L), (1L, 3L),
      // u2: cohort day 0, duplicate same-day events collapse -> offsets {0, 3}
      (2L, 0L), (2L, 3L), (2L, 3L),
      // u3: cohort day 1, offsets {0, 1}
      (3L, 1L), (3L, 2L)
    ).toDF("user_id", "day")
    val out = Cohorts.retention(ev, Seq("user_id"), col("day"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out === Map(
      (0L, 0L) -> ((2L, 2L, 1.0)),
      (0L, 1L) -> ((1L, 2L, 0.5)),
      (0L, 3L) -> ((2L, 2L, 1.0)),
      (1L, 0L) -> ((1L, 1L, 1.0)),
      (1L, 1L) -> ((1L, 1L, 1.0))))
  }

  test("trailingRange: inclusive frame bounds, ordinate-tie peers, key isolation") {
    val df = Seq(
      ("a", 0L, 1.0), ("a", 10L, 2.0), ("a", 11L, 3.0), ("a", 25L, 4.0),
      ("b", 5L, 7.0), ("b", 5L, 8.0), // exact-tie peers share the frame
      ("c", 5L, 9.0)
    ).toDF("k", "ord", "v")
    val out = Cohorts.trailingRange(df, Seq("k"), "ord", width = 10L, Seq(
      "n" -> count(lit(1)), "mx" -> max(col("v"))))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)) ->
        ((r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out === Map(
      ("a", 0L, 1.0) -> ((1L, 1.0)),
      ("a", 10L, 2.0) -> ((2L, 2.0)),  // [0,10] inclusive both ends
      ("a", 11L, 3.0) -> ((2L, 3.0)),  // [1,11] drops ord 0
      ("a", 25L, 4.0) -> ((1L, 4.0)),  // [15,25]
      ("b", 5L, 7.0) -> ((2L, 8.0)),   // tie peers see each other
      ("b", 5L, 8.0) -> ((2L, 8.0)),
      ("c", 5L, 9.0) -> ((1L, 9.0))))  // other keys never leak in
  }

  test("event pivot: declared values zero-fill days missing a type") {
    import org.apache.spark.sql.functions.{count => fcount}
    val ev = Seq((0L, "click"), (0L, "click"), (1L, "view"))
      .toDF("day", "event_type")
    val out = ev.groupBy("day")
      .pivot("event_type", Seq("click", "view", "error"))
      .agg(fcount(lit(1))).na.fill(0L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out === Map(0L -> ((2L, 0L, 0L)), 1L -> ((0L, 1L, 0L))))
  }

  test("mixture weights: exact counts, smoothing upweights small strata, simplex sums to 1") {
    val docs = Seq(
      (1L, "a", "w w w w w w w w w"), // 9 tokens
      (2L, "b", "w w w w"),           // 4
      (3L, "b", ""),                  // blank: 0 tokens, still a doc
      (4L, "c", "w")                  // 1
    ).toDF("doc_id", "source", "text")
    val tok = graft.functions.Text.tokenCount(col("text"))
    val out = Mixture.samplingWeights(docs, "source", tok, alpha = 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(out("a")._1 === 1L && out("a")._2 === 9L)
    assert(out("b")._1 === 2L && out("b")._2 === 4L)
    assert(out("c")._1 === 1L && out("c")._2 === 1L)
    assert(out("a")._3 === 9.0 / 14.0) // p is the exact single division
    val wsum = out.values.map(_._4).sum
    assert(math.abs(wsum - 1.0) < 1e-12, s"simplex sum $wsum")
    // alpha < 1: small strata oversampled, dominant strata undersampled
    assert(out("c")._5 > 1.0 && out("a")._5 < 1.0)
    // alpha = 1 degenerates to proportional sampling (factor ~ 1)
    Mixture.samplingWeights(docs, "source", tok, alpha = 1.0)
      .collect().foreach { r =>
        assert(math.abs(r.getDouble(5) - 1.0) < 1e-12, s"alpha=1 factor ${r.getDouble(5)}")
      }
    // unsupported alpha fails loudly rather than forking engines
    val e = intercept[IllegalArgumentException] {
      Mixture.samplingWeights(docs, "source", tok, alpha = 0.3)
    }
    assert(e.getMessage.contains("correctly rounded"))
  }

  test("mixture weights: null stratum is a group, zero-token stratum gets NULL sample_factor") {
    // a zero-token stratum has p = 0: 0/0 differs by engine (NaN vs NULL vs
    // error), so sample_factor surfaces as an explicit NULL everywhere; the
    // NULL stratum folds first (array_sort null-first = ORDER BY NULLS FIRST
    // in the oracle mirror) and keeps its own row
    val docs = Seq(
      (1L, Option("a"), "w w w"),
      (2L, None, "w"),
      (3L, Option("z"), "") // stratum of only blank docs
    ).toDF("doc_id", "source", "text")
    val tok = graft.functions.Text.tokenCount(col("text"))
    val rows = Mixture.samplingWeights(docs, "source", tok, alpha = 0.5)
      .orderBy("stratum").collect()
    assert(rows.length === 3)
    assert(rows(0).isNullAt(0), "null stratum must sort first and survive")
    val z = rows.find(r => !r.isNullAt(0) && r.getString(0) == "z").get
    assert(z.getLong(2) === 0L && z.getDouble(3) === 0.0 && z.getDouble(4) === 0.0)
    assert(z.isNullAt(5), s"zero-token sample_factor must be NULL, got ${z.get(5)}")
    // the weights of the token-bearing strata still form the simplex
    val wsum = rows.filter(!_.isNullAt(0)).map(_.getDouble(4)).sum +
      rows.filter(_.isNullAt(0)).map(_.getDouble(4)).sum
    assert(math.abs(wsum - 1.0) < 1e-12, s"simplex sum $wsum")
  }

  test("forwardFill: gaps filled from last observation, leading rows observed, key isolation") {
    val df = Seq(
      // u: days 1,2,5 observed -> 3,4 filled with day-2's value
      (1L, 1L, 10L), (1L, 2L, 20L), (1L, 5L, 50L),
      // v: single observation -> no gaps
      (2L, 7L, 70L)
    ).toDF("k", "ord", "v")
    val out = TimeSeries.forwardFill(df, Seq("k"), "ord", Seq("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out === Map(
      (1L, 1L) -> ((10L, true)),
      (1L, 2L) -> ((20L, true)),
      (1L, 3L) -> ((20L, false)),
      (1L, 4L) -> ((20L, false)),
      (1L, 5L) -> ((50L, true)),
      (2L, 7L) -> ((70L, true))))
  }

  test("forwardFill: null observed values stay null on their row but do not break the carry") {
    val df = Seq[(Long, Long, Option[Long])](
      (1L, 1L, Some(5L)), (1L, 2L, None), (1L, 4L, Some(9L))
    ).toDF("k", "ord", "v")
    val out = TimeSeries.forwardFill(df, Seq("k"), "ord", Seq("v"))
      .collect()
      .map(r => r.getLong(1) -> ((Option(r.get(2)), r.getBoolean(3))))
      .toMap
    // day 2 is observed but null-valued -> ffill carries day 1's value;
    // day 3 is a gap -> also carries day 1's value
    assert(out === Map(
      1L -> ((Some(5L), true)),
      2L -> ((Some(5L), true)),
      3L -> ((Some(5L), false)),
      4L -> ((Some(9L), true))))
  }

  test("forwardFill invariants on real events: span density, observed preservation") {
    val daily = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_events"))
    val filled = TimeSeries.forwardFill(daily, Seq("user_id"), "day", Seq("n_events"))
    // one row per (key, day) across each key's exact span
    val spans = daily.groupBy("user_id")
      .agg((max("day") - min("day") + 1).as("span"))
      .agg(sum("span")).head().getLong(0)
    assert(filled.count() === spans, "output must be exactly span-dense per key")
    assert(filled.groupBy("user_id", "day").count().filter(col("count") > 1).count() === 0L)
    // observed rows are the input rows, values untouched
    val obs = filled.filter(col("observed"))
      .select("user_id", "day", "n_events")
    assert(obs.count() === daily.count())
    assert(obs.exceptAll(daily).count() === 0L, "observed rows must carry input values")
    // filled values never null (leading rows always observed)
    assert(filled.filter(col("n_events").isNull).count() === 0L)
  }

  test("retention invariants on real events: offset-0 completeness, bounded ratios") {
    val ret = Cohorts.retention(
      Tables.load(spark, "/root/testdata/sf0.001", "events"),
      Seq("user_id"), datediff(to_date(col("ts")), lit("1970-01-01")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(ret.nonEmpty)
    // every cohort's day-0 row exists with full retention (first day IS activity)
    ret.keys.map(_._1).foreach { c =>
      val (n, size, r) = ret((c, 0L))
      assert(n === size && r === 1.0, s"cohort $c day-0 must be complete")
    }
    ret.foreach { case ((c, off), (n, size, r)) =>
      assert(off >= 0 && n >= 1 && n <= size, s"($c,$off)")
      assert(r > 0.0 && r <= 1.0 && r === n.toDouble / size, s"($c,$off) ratio")
    }
  }

  test("HLL rollup: union-of-daily estimates equal the direct range sketch, any partitioning") {
    import graft.operators.DistinctRollup
    // register-max union is order/partitioning-independent: the weekly
    // estimate from per-day sketches must BIT-EQUAL the estimate of one
    // sketch built straight over the week's events, under different
    // partitionings of the input.
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val daily = DistinctRollup.dailySketches(ev, "ts", "user_id")
    val fromDaily = DistinctRollup
      .rollupUniques(daily, floor(col("day") / 7).cast("long"), "week")
      .select("week", "approx_uniques")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = ev
      .repartition(7) // different layout than the daily build saw
      .groupBy(floor(datediff(to_date(col("ts")), lit("1970-01-01")) / 7)
        .cast("long").as("week"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("u"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromDaily === direct)
    assert(fromDaily.nonEmpty)
  }

  test("HLL rollup: estimates track exact uniques within the sketch's error envelope") {
    import graft.operators.DistinctRollup
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val daily = DistinctRollup.dailySketches(ev, "ts", "user_id")
    val approx = DistinctRollup
      .rollupUniques(daily, floor(col("day") / 7).cast("long"), "week")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = ev
      .groupBy(floor(datediff(to_date(col("ts")), lit("1970-01-01")) / 7)
        .cast("long").as("week"))
      .agg(countDistinct(col("user_id")).as("u"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    for ((w, e) <- exact) {
      val a = approx(w).toDouble
      assert(math.abs(a - e) <= math.max(2.0, 0.05 * e),
        s"week $w: approx $a vs exact $e beyond the 5% envelope")
    }
  }

  test("HLL rollup: n_events re-aggregates exactly alongside the sketches") {
    import graft.operators.DistinctRollup
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val daily = DistinctRollup.dailySketches(ev, "ts", "user_id")
    val total = DistinctRollup.rollupUniques(daily, lit(0L), "all")
      .select("n_events").head.getLong(0)
    assert(total === ev.count())
  }

  test("valueRuns: null-safe change detection, half-open tiling intervals, tiebreak order") {
    import graft.operators.OrderedAnalytics
    val df = Seq(
      // user 1: A A B B(null-tie) — with a same-instant tie broken by id
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"),
      (1L, 30L, 4L, "B"), (1L, 30L, 3L, "B"), // ids force (3,4) order at t=30
      (1L, 40L, 5L, null.asInstanceOf[String]),
      (1L, 50L, 6L, null.asInstanceOf[String]), // null run does NOT split
      (1L, 60L, 7L, "A"), // value recurs → NEW run, not merged with run 1
      // user 2: single run, isolation from user 1
      (2L, 10L, 8L, "A")
    ).toDF("user_id", "ts", "id", "v")
    val got = OrderedAnalytics
      .valueRuns(df, Seq("user_id"), "ts", "id", "v")
      .orderBy("user_id", "run_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(5)))
      .toSeq
    assert(got === Seq(
      (1L, 1L, "A", 10L, Some(30L), 2L),
      (1L, 2L, "B", 30L, Some(40L), 2L),
      (1L, 3L, null, 40L, Some(60L), 2L),
      (1L, 4L, "A", 60L, None, 1L),
      (2L, 1L, "A", 10L, None, 1L)))
    // the intervals tile: every key's valid_to equals the next valid_from
  }

  test("valueRuns invariants on real events: counts conserve, intervals tile, runs alternate") {
    import graft.operators.OrderedAnalytics
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val runs = OrderedAnalytics
      .valueRuns(ev.select("user_id", "ts_ns", "event_id", "event_type"),
        Seq("user_id"), "ts_ns", "event_id", "event_type")
    assert(runs.agg(sum("n_rows")).head.getLong(0) === ev.count())
    // half-open intervals tile each user: non-final valid_to == next valid_from
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("run_id")
    val broken = runs
      .withColumn("__next_from", lead(col("valid_from"), 1).over(w))
      .filter(!(col("valid_to") <=> col("__next_from")))
      .count()
    assert(broken === 0L)
    // consecutive runs always differ in value (else they'd be one run)
    val merged = runs
      .withColumn("__next_v", lead(col("event_type"), 1).over(w))
      .filter(col("__next_v").isNotNull && col("event_type") <=> col("__next_v"))
      .count()
    assert(merged === 0L)
  }

  test("theta overlap: exact-mode matrix equals the COUNT(DISTINCT) self-join on real events") {
    import graft.operators.Overlap
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_type", "user_id")
    val got = Overlap.overlapMatrix(
      Overlap.segmentSketches(ev, "event_type", "user_id"))
      .select("seg_a", "seg_b", "uniques_a", "uniques_b", "n_common", "n_either")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val s = ev.distinct()
    val counts = s.groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = s.toDF("ta", "user_id"); val b = s.toDF("tb", "user_id")
    val common = a.join(b, Seq("user_id")).filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    for (((sa, sb), (ua, ub, nc, ne)) <- got) {
      assert(ua === counts(sa) && ub === counts(sb),
        s"($sa,$sb): sketch uniques vs exact")
      assert(nc === common.getOrElse((sa, sb), 0L), s"($sa,$sb): intersection")
      assert(ne === ua + ub - nc, s"($sa,$sb): union must be inclusion-exclusion exact")
    }
  }

  test("theta sketches: union rollup re-aggregates; A\\B completes the algebra; partitioning-proof") {
    import graft.functions.ThetaSketch
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    // per-day sketches → union-agg rollup == one direct sketch over all rows
    val daily = ev
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
      .agg(ThetaSketch.thetaSketchAgg(col("user_id")).as("sk"))
    val rolled = daily
      .agg(ThetaSketch.thetaEstimate(theta_union_agg(col("sk"))).as("n"))
      .head.getLong(0)
    val direct = ev.repartition(13)
      .agg(ThetaSketch.thetaEstimate(
        ThetaSketch.thetaSketchAgg(col("user_id"))).as("n"))
      .head.getLong(0)
    val exact = ev.select("user_id").distinct().count()
    assert(rolled === exact, "exact-mode rollup must be the true count")
    assert(direct === exact, "estimate must be partitioning-independent in exact mode")
    // A \ B on planted sets: {1..10} \ {6..15} = {1..5}
    val skA = Seq.range(1L, 11L).toDF("k")
      .agg(ThetaSketch.thetaSketchAgg(col("k")).as("s")).head.getAs[Array[Byte]]("s")
    val skB = Seq.range(6L, 16L).toDF("k")
      .agg(ThetaSketch.thetaSketchAgg(col("k")).as("s")).head.getAs[Array[Byte]]("s")
    val diff = spark.range(1).select(ThetaSketch.thetaEstimate(
      ThetaSketch.thetaDiff(lit(skA), lit(skB))).as("n")).head.getLong(0)
    assert(diff === 5L)
  }

  test("asOfJoin: rejects value columns colliding with left") {
    val l = Seq(("u", 1L, 9.9)).toDF("k", "ord", "v")
    val r = Seq(("u", 1L, 1.0)).toDF("k", "ord", "v")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.lastValueAsOf(l, r, Seq("k"), "ord", Seq("v"))
    }
    assert(e.getMessage.contains("collide"))
  }

  test("interpolate: hand-computed lerp across single and multi-day gaps, edges observed") {
    import graft.operators.TimeSeries
    val df = Seq(
      ("a", 0L, 1.0), ("a", 3L, 4.0), ("a", 4L, 0.0), // gap 1,2 lerp; adjacent obs
      ("b", 10L, 5.0),                                // single observation
      ("c", 0L, 2.0), ("c", 2L, 1.0)                  // downward slope
    ).toDF("k", "ord", "v")
    val got = TimeSeries.interpolate(df, Seq("k"), "ord", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toSet
    assert(got === Set(
      ("a", 0L, 1.0, true), ("a", 1L, 2.0, false), ("a", 2L, 3.0, false),
      ("a", 3L, 4.0, true), ("a", 4L, 0.0, true),
      ("b", 10L, 5.0, true),
      ("c", 0L, 2.0, true), ("c", 1L, 1.5, false), ("c", 2L, 1.0, true)))
    // same scaffold as forwardFill: row counts agree on real events
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"),
        (col("ts_ns") / lit(86400000000000L)).cast("long").as("day"),
        col("value"))
      .groupBy("user_id", "day").agg(avg("value").as("v"))
    val lerp = TimeSeries.interpolate(ev, Seq("user_id"), "day", "v")
    val ffill = TimeSeries.forwardFill(ev, Seq("user_id"), "day", Seq("v"))
    assert(lerp.count() === ffill.count())
    assert(lerp.filter(col("v").isNull).count() === 0,
      "every gap sits between two observations — no null interpolants")
  }

  test("editDistancePairs: exact vs brute force on typos, indels, shorts and empties") {
    import graft.operators.EditDistance
    // a corpus exercising every path: substitutions/insertions/deletions at
    // head, middle and tail; near-misses one past the threshold; duplicate
    // content (ed = 0); short strings and an empty (the shared-bucket path)
    val strs = Seq(
      "the quick brown fox", "the quack brown fox", "he quick brown fox",
      "the quick brown foxx", "the quick brwn fx", "a completely other one",
      "spark rewrites plans", "spark rewrite plan", "spark rewrites plans",
      "ab", "ba", "b", "", "abcd", "xyzw")
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    for (k <- Seq(1, 2)) {
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val expected = (for {
        i <- strs.indices; j <- strs.indices if i < j
        d = lev(strs(i), strs(j)) if d <= k
      } yield (i.toLong, j.toLong, d.toLong)).toSet
      val got = EditDistance.editDistancePairs(df, "id", "s", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected, s"k=$k mismatch")
    }
    // randomized cross-check: 150 strings over a 3-letter alphabet (dense
    // near-pair space) against the O(n²) oracle
    val rng = new scala.util.Random(7)
    val rand = (0 until 150).map(i =>
      (i.toLong + 1000, (0 until (3 + rng.nextInt(8))).map(_ => ('a' + rng.nextInt(3)).toChar).mkString))
    val rdf = rand.toDF("id", "s")
    def lev2(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val exp2 = (for {
      x <- rand; y <- rand if x._1 < y._1
      d = lev2(x._2, y._2) if d <= 2
    } yield (x._1, y._1, d.toLong)).toSet
    val got2 = EditDistance.editDistancePairs(rdf, "id", "s", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 === exp2,
      s"randomized: missing=${(exp2 -- got2).take(5)} extra=${(got2 -- exp2).take(5)}")
  }

  test("AnnIndex: full-probe query through the persisted layout IS exact top-k") {
    import graft.operators.{Ann, AnnIndex}
    val dir = "/root/testdata/sf0.001"
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("annidx").toString)
    val emb = Tables.load(spark, dir, "embeddings")
    val n = AnnIndex.build(store, "e", emb, "vec_id", "embedding", nClusters = 8)
    assert(n === emb.count(), "every vector must be posted")
    def keyOf(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = keyOf(Ann.blockTopK(emb, "vec_id", "embedding", k = 3))
    val full = keyOf(AnnIndex.query(store, "e", emb, "vec_id", "embedding",
      k = 3, nProbe = 8))
    assert(full === exact, "nProbe = nClusters must reproduce exact top-3")
    // partial probe: a recall dial, never junk — results are a subset of
    // candidates scored exactly, and recall stays useful at half the cells
    val part = keyOf(AnnIndex.query(store, "e", emb, "vec_id", "embedding",
      k = 3, nProbe = 4))
    val recall = (exact intersect part).size.toDouble / exact.size
    info(f"nProbe=4/8 recall: $recall%.3f")
    assert(recall >= 0.6, f"half-probe recall $recall%.3f collapsed")
  }

  test("AnnIndex: unprobed inverted lists are pruned at planning; upsert touches only its cells") {
    import graft.operators.{Ann, AnnIndex}
    val dir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("annidx2").toString
    val store = new graft.io.TableStore(spark, root)
    val emb = Tables.load(spark, dir, "embeddings")
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    AnnIndex.build(store, "e", even, "vec_id", "embedding", nClusters = 8)
    // the probed-cell isin must surface as a PartitionFilter on the postings
    // scan — planning-time pruning, not a data filter
    val one = AnnIndex.query(store, "e", emb.limit(1), "vec_id", "embedding",
      k = 3, nProbe = 1)
    val scanLine = one.queryExecution.executedPlan.toString.linesIterator
      .find(l => l.contains("FileScan") && l.contains("postings"))
      .getOrElse(fail("no postings scan in plan"))
    assert(scanLine.matches(".*PartitionFilters: \\[[^\\]]*centroid_id.*"),
      "probed cells must prune partitions: " + scanLine)
    // upsert a 1-vector batch: new files land ONLY under its single cell
    def filesPerCell: Map[String, Set[String]] =
      new java.io.File(s"$root/e__postings").listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val firstOddId = odd.agg(min("vec_id")).collect()(0).getLong(0)
    val before = filesPerCell
    AnnIndex.upsert(store, "e", odd.filter(col("vec_id") === firstOddId),
      "vec_id", "embedding")
    val mid = filesPerCell
    assert(before.count { case (cell, fs) => mid.getOrElse(cell, Set()) != fs } <= 1,
      "a 1-vector append must touch at most one existing cell directory")
    before.keys.foreach(c => assert(mid(c).intersect(before(c)) == before(c),
      s"append must never rewrite existing files in $c"))
    // then the rest of the batch, for the union-equality check below
    AnnIndex.upsert(store, "e", odd.filter(col("vec_id") =!= firstOddId),
      "vec_id", "embedding")
    // and the maintained index answers like a fresh exact scan over the union
    def keyOf(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = keyOf(Ann.blockTopK(emb, "vec_id", "embedding", k = 3))
    val served = keyOf(AnnIndex.query(store, "e", emb, "vec_id", "embedding",
      k = 3, nProbe = 8))
    assert(served === exact,
      "full-probe query after upsert must equal exact top-3 over the union")
  }

  test("AnnIndex: re-upserted id keeps the LATEST vector; within-batch dup rejected") {
    import spark.implicits._
    import graft.operators.{Ann, AnnIndex}
    val dir = "/root/testdata/sf0.001"
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("annidx3").toString)
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    AnnIndex.build(store, "e", emb, "vec_id", "embedding", nClusters = 8)
    // update HALF the corpus to reversed vectors (likely different cells):
    // the served index must behave as if those rows were always reversed
    val updates = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    AnnIndex.upsert(store, "e", updates, "vec_id", "embedding")
    val latestState = emb.filter(col("vec_id") % 2 === 1).unionByName(updates)
    def keyOf(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val served = keyOf(AnnIndex.query(store, "e", latestState,
      "vec_id", "embedding", k = 3, nProbe = 8))
    val exact = keyOf(Ann.blockTopK(latestState, "vec_id", "embedding", k = 3))
    assert(served === exact,
      "full-probe query must equal exact top-3 over the LATEST corpus state")
    // and a batch that names one id twice is rejected loudly (right-dim
    // vectors — dim-mismatched rows would be dropped before the check)
    val v = emb.head.getSeq[Float](1)
    val twice = Seq((1L, v), (1L, v.reverse)).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      AnnIndex.upsert(store, "e", twice, "vec_id", "embedding"))
    assert(e.getMessage.contains("more than once"), e.getMessage)
  }

  test("AnnIndex: compact keeps latest-only postings, reclaims storage, resets the clock") {
    import graft.operators.{Ann, AnnIndex}
    val dir = "/root/testdata/sf0.001"
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("annidx4").toString)
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    val total = emb.count()
    AnnIndex.build(store, "e", emb, "vec_id", "embedding", nClusters = 8)
    val updates = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    AnnIndex.upsert(store, "e", updates, "vec_id", "embedding")
    val before = store.read("e__postings").count()
    assert(before > total, "pre-compact postings must hold both versions")
    val survivors = AnnIndex.compact(store, "e")
    assert(survivors === total, "compact must keep exactly one row per id")
    assert(store.read("e__postings").count() === total)
    // post-compact the index still serves the LATEST state — now through
    // the clock-0 fast path (no read-time rollup)
    val latestState = emb.filter(col("vec_id") % 2 === 1).unionByName(updates)
    def keyOf(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(keyOf(AnnIndex.query(store, "e", latestState, "vec_id", "embedding",
      k = 3, nProbe = 8)) ===
      keyOf(Ann.blockTopK(latestState, "vec_id", "embedding", k = 3)))
    // the clock reset re-arms keep-latest for post-compact upserts
    val reupdate = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    AnnIndex.upsert(store, "e", reupdate, "vec_id", "embedding")
    val allReversed = updates.unionByName(reupdate)
    assert(keyOf(AnnIndex.query(store, "e", allReversed, "vec_id", "embedding",
      k = 3, nProbe = 8)) ===
      keyOf(Ann.blockTopK(allReversed, "vec_id", "embedding", k = 3)))
  }

  test("AnnIndex: retrain rebuilds from the index's own latest state; codebook resizes") {
    import graft.operators.{Ann, AnnIndex}
    val dir = "/root/testdata/sf0.001"
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("annidx5").toString)
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    AnnIndex.build(store, "e", emb, "vec_id", "embedding", nClusters = 8)
    val updates = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    AnnIndex.upsert(store, "e", updates, "vec_id", "embedding")
    // retrain straight off the two-version postings (no compact needed:
    // the rollup resolves keep-latest itself) with a RESIZED codebook
    val survivors = AnnIndex.retrain(store, "e", nClusters = 16, iters = 3)
    assert(survivors === emb.count(), "retrain must keep one row per id")
    assert(store.read("e__centroids").count() === 16L,
      "retrain must install the resized codebook")
    // content is exactly the latest corpus state, served via full probe
    val latestState = emb.filter(col("vec_id") % 2 === 1).unionByName(updates)
    def keyOf(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(keyOf(AnnIndex.query(store, "e", latestState, "vec_id", "embedding",
      k = 3, nProbe = 16)) ===
      keyOf(Ann.blockTopK(latestState, "vec_id", "embedding", k = 3)))
    // the clock reset re-arms keep-latest after the rebuild
    val reupdate = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    AnnIndex.upsert(store, "e", reupdate, "vec_id", "embedding")
    val allReversed = updates.unionByName(reupdate)
    assert(keyOf(AnnIndex.query(store, "e", allReversed, "vec_id", "embedding",
      k = 3, nProbe = 16)) ===
      keyOf(Ann.blockTopK(allReversed, "vec_id", "embedding", k = 3)))
  }

  test("AnnIndex: sidecar clock survives sweeps; legacy parquet __meta migrates once") {
    import graft.operators.{Ann, AnnIndex}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("annidx6")
    val store = new graft.io.TableStore(spark, root.toString)
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    AnnIndex.build(store, "e", emb, "vec_id", "embedding", nClusters = 8)
    // build writes the gen-stamped sidecar, not a parquet table
    val clock = new java.io.File(root.toFile, "e__clock")
    assert(clock.isDirectory && clock.list().exists(_.matches("gen\\d+_seq\\d+")),
      s"expected sidecar clock files, got ${Option(clock.list()).map(_.toSeq)}")
    assert(!store.exists("e__meta"), "no parquet clock table must exist")
    // a LEGACY index (sidecar absent, one-row parquet __meta) migrates on
    // first read: serve a query, then the sidecar exists and __meta is moot
    clock.listFiles().foreach(_.delete()); assert(clock.delete())
    store.overwrite("e__meta", spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(0L)), 1),
      StructType(Seq(StructField("max_seq", LongType, nullable = false)))))
    def keyOf(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = keyOf(Ann.blockTopK(emb, "vec_id", "embedding", k = 3))
    assert(keyOf(AnnIndex.query(store, "e", emb, "vec_id", "embedding",
      k = 3, nProbe = 8)) === exact)
    assert(clock.isDirectory && clock.list().exists(_.matches("gen\\d+_seq\\d+")),
      "the migrated clock must land in the sidecar")
  }

  test("TableStore.compactFiles: narrow rewrite to the target count, content identical, guards hold") {
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("compactf").toString)
    // 16 tiny part files — the small-files accumulation shape
    store.overwrite("t", spark.range(10000).selectExpr("id", "id * 2 AS v")
      .repartition(16))
    def partFiles = new java.io.File(store.path("t")).listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(partFiles === 16)
    val n = store.compactFiles("t", targetBytes = 1L << 20)
    assert(n < 16 && partFiles === n, s"got $n files, dir has $partFiles")
    // content identical after the rewrite
    assert(store.read("t").selectExpr("sum(id)", "sum(v)", "count(*)")
      .collect()(0).toSeq === Seq(49995000L, 99990000L, 10000L))
    // already-compact: no-op, count reported
    assert(store.compactFiles("t", targetBytes = 1L << 20) === n)
    // keyed-bucketed and partitioned layouts are rejected loudly
    store.overwriteKeyed("kb", spark.range(100).selectExpr("id", "id AS v"),
      Seq("id"), numBuckets = 4)
    val e1 = intercept[IllegalArgumentException](store.compactFiles("kb"))
    assert(e1.getMessage.contains("keyed-bucketed"), e1.getMessage)
    store.overwritePartitioned("pt",
      spark.range(100).selectExpr("id", "CAST(id % 3 AS INT) AS p"), Seq("p"))
    val e2 = intercept[IllegalArgumentException](store.compactFiles("pt"))
    assert(e2.getMessage.contains("partition"), e2.getMessage)
  }

  test("weightedSample: equals the window-rank form; planted heavy weights dominate") {
    import spark.implicits._
    import graft.operators.Sampling
    // 3 strata x ~167 docs; ids < 5 carry a 10^6 weight (score ~ 0)
    val df = spark.range(500).selectExpr(
      "id AS doc_id", "CAST(id % 3 AS STRING) AS src",
      "CASE WHEN id < 5 THEN 1000000 ELSE 1 + id % 7 END AS w")
    val out = Sampling.weightedSample(df, "doc_id", "w", Seq("src"), 4)
      .orderBy("src", "rank").collect()
    // brute force: the same rounded key ranked by a window — must agree row-for-row
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("score"), col("id"))
    val brute = df.filter(col("w") > 0)
      .select(col("src"), col("doc_id").as("id"), col("w").cast("double").as("weight"))
      .withColumn("score", graft.operators.Sampling.esKey(col("id"), col("weight")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 4)
      .select("src", "rank", "id", "weight", "score")
      .orderBy("src", "rank").collect()
    assert(out.toSeq === brute.toSeq)
    // each stratum's top picks start with its planted heavy docs
    val bySrc = out.groupBy(_.getString(0))
    for ((src, rows) <- bySrc) {
      val heavyInSrc = (0L until 5L).filter(i => (i % 3).toString == src)
      val top = rows.sortBy(_.getLong(1)).map(_.getLong(2)).take(heavyInSrc.size)
      assert(top.toSet === heavyInSrc.toSet,
        s"stratum $src: heavy docs $heavyInSrc must lead, got ${top.toSeq}")
    }
    // zero/null weights are excluded, k > stratum returns the whole stratum
    val tiny = Seq((1L, "a", 5L), (2L, "a", 0L), (3L, "b", 2L))
      .toDF("doc_id", "src", "w")
    val t = Sampling.weightedSample(tiny, "doc_id", "w", Seq("src"), 10).collect()
    assert(t.map(_.getLong(2)).toSet === Set(1L, 3L))
    // global (strata-less) form: one sample across everything
    val g = Sampling.weightedSample(tiny, "doc_id", "w", Seq.empty, 1).collect()
    assert(g.length === 1)
  }

  test("updateComponents: bridges merge old components; equals a full recompute") {
    import graft.operators.Dedup
    // yesterday: {1,2} -> 1, {5,6} -> 5, singleton 9
    val existing = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (9L, 9L))
      .toDF("id", "comp")
    // today: new node 10 bridges comps 1 and 5 THROUGH itself; 11-12 are a
    // fresh pair; 13 is isolated
    val newPairs = Seq((2L, 10L), (10L, 6L), (11L, 12L)).toDF("id_a", "id_b")
    val newNodes = Seq(10L, 11L, 12L, 13L).toDF("id")
    val out = Dedup.updateComponents(existing, newPairs, newNodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 10L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 13L, 9L -> 9L))
    // a direct old-old bridge (no new node involved) merges too, and the
    // untouched singleton keeps its label
    val direct = Dedup.updateComponents(existing,
        Seq((6L, 2L)).toDF("id_a", "id_b"),
        spark.emptyDataFrame.select(lit(0L).as("id")).filter(lit(false)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(direct === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 9L))
    // equals the from-scratch recompute over the union graph
    val unionPairs = Seq((1L, 2L), (5L, 6L), (2L, 10L), (10L, 6L), (11L, 12L))
      .toDF("id_a", "id_b")
    val all = Seq(1L, 2L, 5L, 6L, 9L, 10L, 11L, 12L, 13L).toDF("id")
    val full = all
      .join(Dedup.connectedComponents(unionPairs), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === full)
  }

  test("cusumShift: level shift accumulates, spike washes out, keys independent") {
    import graft.operators.TimeSeries
    import spark.implicits._
    // planted level shift 1,1,1 -> 5,5,5: n=6, total=18, dev = 6x-18 =
    // [-12,-12,-12,12,12,12], P = [-12,-24,-36,-24,-12,0], running
    // min(0,minP) = -12,-24,-36,-36,-36,-36 -> cusum = [0,0,0,12,24,36];
    // alarm at s*4 > 18*6=108 i.e. s > 27 -> day 6 only
    val shift = Seq((1, 1L, 1L), (1, 2L, 1L), (1, 3L, 1L),
      (1, 4L, 5L), (1, 5L, 5L), (1, 6L, 5L)).toDF("k", "ord", "v")
    val out = TimeSeries.cusumShift(shift, Seq("k"), "ord", "v", 1, 4)
      .collect().map(r => r.getLong(1) -> ((r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(out === Map(1L -> ((0L, false)), 2L -> ((0L, false)),
      3L -> ((0L, false)), 4L -> ((12L, false)), 5L -> ((24L, false)),
      6L -> ((36L, true))))
    // an isolated spike decays instead of latching: cusum 0,12,8,4
    val spike = Seq((1, 1L, 1L), (1, 2L, 5L), (1, 3L, 1L), (1, 4L, 1L))
      .toDF("k", "ord", "v")
    assert(TimeSeries.cusumShift(spike, Seq("k"), "ord", "v", 1, 1)
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap ===
      Map(1L -> 0L, 2L -> 12L, 3L -> 8L, 4L -> 4L))
    // keys are independent series: a flat second key stays at 0
    val two = shift.unionByName(
      Seq((2, 1L, 3L), (2, 2L, 3L)).toDF("k", "ord", "v"))
    val k2 = TimeSeries.cusumShift(two, Seq("k"), "ord", "v", 1, 4)
      .filter($"k" === 2).collect().map(_.getLong(4))
    assert(k2.forall(_ === 0L))
    intercept[IllegalArgumentException](
      TimeSeries.cusumShift(shift, Seq.empty, "ord", "v", 1, 4))
    intercept[IllegalArgumentException](
      TimeSeries.cusumShift(shift, Seq("k"), "ord", "v", 1, 0))
  }

  test("ewmaDeviation: exact lag weights, two-sided alarm, partial window NULL") {
    import graft.operators.TimeSeries
    import spark.implicits._
    // lags=2, D=3: S_t = 2*x_{t-1} + x_{t-2}. Series 10,10,10,40,10:
    //   t3: S=30, ewma=10, dev=10*3-30=0          -> no alarm
    //   t4: S=30, dev=40*3-30=90, 90*4>30         -> spike alarms
    //   t5: S=2*40+10=90, dev=10*3-90=-60, 240>90 -> crash alarms too
    // t1/t2 have <2 predecessors -> NULL ewma/dev/alarm, not false
    val ser = Seq((1, 1L, 10L), (1, 2L, 10L), (1, 3L, 10L),
      (1, 4L, 40L), (1, 5L, 10L)).toDF("k", "ord", "v")
    val out = TimeSeries.ewmaDeviation(ser, Seq("k"), "ord", "v",
      lags = 2, alarmNum = 1, alarmDenom = 4).collect()
      .map(r => r.getLong(1) ->
        ((Option(r.get(3)), Option(r.get(4)), Option(r.get(5))))).toMap
    assert(out(1L) === ((None, None, None)))
    assert(out(2L) === ((None, None, None)))
    assert(out(3L) === ((Some(10.0), Some(0L), Some(false))))
    assert(out(4L) === ((Some(10.0), Some(90L), Some(true))))
    assert(out(5L) === ((Some(30.0), Some(-60L), Some(true))))
    // keys are independent: a second key restarts its own warm-up
    val two = ser.unionByName(Seq((2, 1L, 7L), (2, 2L, 7L), (2, 3L, 7L))
      .toDF("k", "ord", "v"))
    val k2 = TimeSeries.ewmaDeviation(two, Seq("k"), "ord", "v", 2, 1, 4)
      .filter($"k" === 2).collect()
      .map(r => r.getLong(1) -> Option(r.get(4))).toMap
    assert(k2 === Map(1L -> None, 2L -> None, 3L -> Some(0L)))
    intercept[IllegalArgumentException](
      TimeSeries.ewmaDeviation(ser, Seq("k"), "ord", "v", 0, 1, 4))
    intercept[IllegalArgumentException](
      TimeSeries.ewmaDeviation(ser, Seq("k"), "ord", "v", 33, 1, 4))
    intercept[IllegalArgumentException](
      TimeSeries.ewmaDeviation(ser, Seq("k"), "ord", "v", 2, 1, 0))
  }

  test("kmv jaccardEstimate: bottom-k union membership, disjoint 0, empty NULL") {
    import graft.operators.Kmv
    import spark.implicits._
    // A=[1,2,5,9], B=[2,3,5,11], k=4: M=[1,2,3,5], M∩A∩B={2,5} -> 0.5
    val df = Seq(
      (Seq(1L, 2L, 5L, 9L), Seq(2L, 3L, 5L, 11L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(1L, 2L), Seq.empty[Long]),
      (Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
    val out = df.select(Kmv.jaccardEstimate(col("a"), col("b"), 4).as("j"))
      .collect().map(r => Option(r.get(0)))
    assert(out.toSeq === Seq(Some(0.5), Some(0.0), Some(0.0), None))
  }

  test("autocorrelation: exact decimal terms, gap pairs, zero-variance NULL") {
    import graft.operators.TimeSeries
    import spark.implicits._
    // x=[1,2,3,4]: dev = 4x-10 = [-6,-2,2,6], den=80; lag-1 pairs
    // 12-4+12=20 -> acf 0.25. x=[1,3,1,3]: dev=[-4,4,-4,4], den=64,
    // num=-48 -> acf -0.75 (alternation). x=[5,5,5]: zero variance -> NULL
    val ser = Seq((1, 1L, 1L), (1, 2L, 2L), (1, 3L, 3L), (1, 4L, 4L),
      (2, 1L, 1L), (2, 2L, 3L), (2, 3L, 1L), (2, 4L, 3L),
      (3, 1L, 5L), (3, 2L, 5L), (3, 3L, 5L)).toDF("k", "ord", "v")
    val out = TimeSeries.autocorrelation(ser, Seq("k"), "ord", "v", lag = 1)
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getDecimal(3).longValueExact, r.getDecimal(4).longValueExact,
        Option(r.get(5))))).toMap
    assert(out(1) === ((4L, 3L, 20L, 80L, Some(0.25))))
    assert(out(2) === ((4L, 3L, -48L, 64L, Some(-0.75))))
    assert(out(3) === ((3L, 2L, 0L, 0L, None)))
    // gap semantics: a missing day BREAKS its pair instead of sliding —
    // days [1,2,4] at lag 1 pair only (1,2)
    val gap = Seq((9, 1L, 1L), (9, 2L, 2L), (9, 4L, 4L)).toDF("k", "ord", "v")
    val g = TimeSeries.autocorrelation(gap, Seq("k"), "ord", "v", 1)
      .collect()(0)
    assert(g.getLong(2) === 1L, "one lag-1 pair across the gap")
    // a key with no lag-k pair at all: NULL acf, zero pairs
    val far = TimeSeries.autocorrelation(gap, Seq("k"), "ord", "v", 10)
      .collect()(0)
    assert(far.getLong(2) === 0L && far.get(5) === null)
    intercept[IllegalArgumentException](
      TimeSeries.autocorrelation(ser, Seq.empty, "ord", "v", 1))
    intercept[IllegalArgumentException](
      TimeSeries.autocorrelation(ser, Seq("k"), "ord", "v", 0))
    // LOUD overflow/NULL guard: a NULL value makes the deviation product
    // NULL, which sum() would silently SKIP — the product-count check
    // fails the job with the named diagnostic instead (the same guard
    // catches a >38-digit DECIMAL overflow, which also reads as NULL)
    val bad = Seq((7, 1L, Some(1L)), (7, 2L, None), (7, 3L, Some(2L)))
      .toDF("k", "ord", "v")
    val e = intercept[Exception](
      TimeSeries.autocorrelation(bad, Seq("k"), "ord", "v", 1).collect())
    assert(e.getMessage.contains("autocorrelation"), e.getMessage)
  }

  test("seasonalDeviation: period-back baseline, gap-exact, NULL leading window, alarm branches") {
    import graft.operators.TimeSeries
    import spark.implicits._
    // period 2, alarm 1/4 (25%): days 1..4 values [100, 50, 130, 10] —
    // day3 vs day1: dev 30, |30|*4=120 > 100 -> alarm; day4 vs day2:
    // dev -40, 160 > 50 -> alarm; days 1,2 have no baseline -> NULLs
    val ser = Seq((1, 1L, 100L), (1, 2L, 50L), (1, 3L, 130L), (1, 4L, 10L))
      .toDF("k", "ord", "v")
    val out = TimeSeries.seasonalDeviation(ser, Seq("k"), "ord", "v",
        period = 2, alarmNum = 1, alarmDenom = 4)
      .collect()
      .map(r => r.getLong(1) ->
        ((Option(r.get(3)), Option(r.get(4)), Option(r.get(5))))).toMap
    assert(out(1L) === ((None, None, None)))
    assert(out(2L) === ((None, None, None)))
    assert(out(3L) === ((Some(100L), Some(30L), Some(true))))
    assert(out(4L) === ((Some(50L), Some(-40L), Some(true))))
    // a small move does NOT alarm: 110 vs 100 is 10%, 40 <= 100
    val calm = Seq((2, 1L, 100L), (2, 3L, 110L)).toDF("k", "ord", "v")
    val c = TimeSeries.seasonalDeviation(calm, Seq("k"), "ord", "v", 2, 1, 4)
      .filter(col("ord") === 3L).collect()(0)
    assert(c.getLong(3) === 100L && c.getLong(4) === 10L &&
      c.getBoolean(5) === false)
    // GAP-EXACT: day 5 exists but day 3 does not — a row-lag would slide
    // to day 1; the pinned RANGE frame must emit NULL instead
    val gap = Seq((3, 1L, 100L), (3, 2L, 50L), (3, 5L, 70L))
      .toDF("k", "ord", "v")
    val g = TimeSeries.seasonalDeviation(gap, Seq("k"), "ord", "v", 2, 1, 4)
      .filter(col("ord") === 5L).collect()(0)
    assert(g.get(3) === null && g.get(4) === null && g.get(5) === null)
    // but day 4 pairs with day 2 across the missing day 3
    val g4 = TimeSeries.seasonalDeviation(
        gap.unionByName(Seq((3, 4L, 60L)).toDF("k", "ord", "v")),
        Seq("k"), "ord", "v", 2, 1, 4)
      .filter(col("ord") === 4L).collect()(0)
    assert(g4.getLong(3) === 50L && g4.getLong(4) === 10L)
    intercept[IllegalArgumentException](
      TimeSeries.seasonalDeviation(ser, Seq.empty, "ord", "v", 2, 1, 4))
    intercept[IllegalArgumentException](
      TimeSeries.seasonalDeviation(ser, Seq("k"), "ord", "v", 0, 1, 4))
    intercept[IllegalArgumentException](
      TimeSeries.seasonalDeviation(ser, Seq("k"), "ord", "v", 2, -1, 4))
  }

  test("assortativity: star is -1, cycle variance-free NULL, exact stub sums") {
    import graft.operators.GraphStats
    import spark.implicits._
    // star K1,3: every stub pairs degree 3 with degree 1 -> r = -1 exactly
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val s = GraphStats.assortativity(star).collect()(0)
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3)) ===
      ((6L, 12L, 18L, 30L)))
    assert(s.getDouble(4) === -1.0)
    // a cycle has constant degree: zero variance -> NULL, not 0/0
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(GraphStats.assortativity(cyc).collect()(0).get(4) === null)
    // dup/reverse/self-loop edges collapse before counting
    val noisy = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 2L))
      .toDF("src", "dst")
    assert(GraphStats.assortativity(noisy).collect()(0).getDouble(4) === -1.0)
    intercept[IllegalArgumentException](GraphStats.assortativity(
      Seq((7L, 7L)).toDF("src", "dst")))
  }

  test("functionalDeps: key candidacy, FD direction, NULL never keys") {
    import graft.operators.Profile
    import spark.implicits._
    // k unique (key; determines v and g); v has a dup value mapping to ONE
    // k-pair each so v -> g holds but v -> k fails; g is constant-ish
    val df = Seq((1L, "a", "x"), (2L, "a", "x"), (3L, "b", "x"))
      .toDF("k", "v", "g")
    val out = Profile.functionalDeps(df, Seq("k", "v", "g")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(4)).toMap
    assert(out(("k", "*")) === true)       // unique key
    assert(out(("v", "*")) === false)
    assert(out(("k", "v")) === true)       // key determines everything
    assert(out(("k", "g")) === true)
    assert(out(("v", "k")) === false)      // 'a' maps to both 1 and 2
    assert(out(("v", "g")) === true)       // both v values see only 'x'
    assert(out(("g", "v")) === false)      // 'x' maps to 'a' and 'b'
    assert(out.size === 3 + 6)
    // a column with a NULL can never key the table (non-null distinct < rows)
    val withNull = Seq((Some(1L), "p"), (None, "q"), (Some(2L), "r"))
      .toDF("k", "v")
    val nk = Profile.functionalDeps(withNull, Seq("k", "v")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(4)).toMap
    assert(nk(("k", "*")) === false)
    assert(nk(("v", "*")) === true)
    intercept[IllegalArgumentException](Profile.functionalDeps(df, Seq("k")))
    intercept[IllegalArgumentException](
      Profile.functionalDeps(df, Seq("k", "k")))
    // NULL symmetry: both sides of the FD compare carry the same filter.
    // (a1,1),(a1,2),(a2,NULL): a1 maps to TWO b values, so a -> b must be
    // false — with an unfiltered determinant count the a2-only-NULL row
    // cancels the a1 double-mapping (2 = 2) and the FD reads true.
    val asym = Seq(("a1", Some(1L)), ("a1", Some(2L)), ("a2", None))
      .toDF("a", "b")
    val af = Profile.functionalDeps(asym, Seq("a", "b")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(af(("a", "b")) === ((1L, 2L, false)))  // only a1 survives the filter
    // the mirror case: an FD that genuinely holds among non-NULL pairs must
    // not be voted down by a determinant value whose dependents are all NULL
    assert(af(("b", "a")) === ((2L, 2L, true)))
  }

  test("categoricalDrift: zero-filled full-outer, exact cross products") {
    import graft.operators.Drift
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a = [x,x,y] (N=3), b = [x,z] (N=2):
    //   x: |2*2 - 1*3| = 1;  y: |1*2 - 0*3| = 2 (a-only);
    //   z: |0*2 - 1*3| = 3 (b-only, the NEW-token signal) -> drift 3/6 = 0.5
    val a = Seq("x", "x", "y").toDF("token")
    val b = Seq("x", "z").toDF("token")
    val out = Drift.categoricalDrift(a, b, "token").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(out === Map(
      "x" -> ((2L, 1L, 3L, 2L, 1L, 1.0 / 6.0)),
      "y" -> ((1L, 0L, 3L, 2L, 2L, 2.0 / 6.0)),
      "z" -> ((0L, 1L, 3L, 2L, 3L, 0.5))))
    // identical snapshots: every drift term is exactly 0
    assert(Drift.categoricalDrift(a, a, "token").collect()
      .forall(_.getLong(5) === 0L))
    // partitioning must not move anything (exact integers end-to-end)
    val rep = Drift.categoricalDrift(a.repartition(7), b.repartition(5), "token")
      .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(rep === Map("x" -> 1L, "y" -> 2L, "z" -> 3L))
    // an EMPTY snapshot fails loudly — all-NULL drift on an accidentally
    // empty refresh would read as "no signal", the exact release-gate miss
    val empty = Seq.empty[String].toDF("token")
    val eb = intercept[Exception](
      Drift.categoricalDrift(a, empty, "token").collect())
    assert(eb.getMessage.contains("empty"), eb.getMessage)
    val ea = intercept[Exception](
      Drift.categoricalDrift(empty, b, "token").collect())
    assert(ea.getMessage.contains("empty"), ea.getMessage)
  }

  test("tableDigest: layout-independent, change-sensitive, null-vs-empty distinct") {
    import graft.operators.TableDigest
    import spark.implicits._
    def dig(df: org.apache.spark.sql.DataFrame) = {
      val r = TableDigest.digest(df, Seq("k", "v")).collect().head
      (r.getLong(0), r.getString(1))
    }
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val (n, d) = dig(base)
    assert(n === 3L)
    // row order, partitioning, and parallelism must not move the digest
    assert(dig(base.orderBy(org.apache.spark.sql.functions.col("k").desc)) === ((3L, d)))
    assert(dig(base.repartition(7)) === ((3L, d)))
    // one changed value shifts it; a swapped pair of column values shifts it
    assert(dig(Seq((1L, "a"), (2L, "b"), (3L, "d")).toDF("k", "v"))._2 !== d)
    val ab = dig(Seq((1L, "x"), (2L, "y")).toDF("k", "v"))._2
    val ba = dig(Seq((1L, "y"), (2L, "x")).toDF("k", "v"))._2
    assert(ab !== ba, "transposed values across rows must not collide")
    // NULL and empty string are distinct values
    val withNull = dig(Seq((1L, null: String)).toDF("k", "v"))._2
    val withEmpty = dig(Seq((1L, "")).toDF("k", "v"))._2
    assert(withNull !== withEmpty)
    // empty table: 0 rows, digest "0"
    assert(dig(base.filter(org.apache.spark.sql.functions.lit(false))) === ((0L, "0")))
    intercept[IllegalArgumentException](TableDigest.digest(base, Seq.empty))
  }

  test("kmv: unsaturated sketch is exact; saturated estimates; merge = union k-set") {
    import graft.operators.Kmv
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // 3 distinct keys, k=4: sketch holds all 3 hashes -> estimate EXACTLY 3
    val small = Seq(("a", 10L), ("a", 11L), ("a", 12L), ("a", 10L))
      .toDF("g", "key")
    val sk = Kmv.sketch(small, Seq("g"), "key", 4)
    val est = sk.select(Kmv.estimate(col("kmv"), 4)).head.getDouble(0)
    assert(est === 3.0)
    // saturated: 500 distinct keys, k=16 -> estimate within 40% of truth
    // (bottom-k at k=16 is coarse; the point is the estimator path + the
    // deterministic k-set, not tight error at toy k)
    val big = (1L to 500L).map(("g", _)).toDF("g", "key")
    val bsk = Kmv.sketch(big, Seq("g"), "key", 16)
    val best = bsk.select(Kmv.estimate(col("kmv"), 16)).head.getDouble(0)
    assert(best > 300.0 && best < 700.0, s"estimate $best vs truth 500")
    // sketch is a SET property: duplication and partitioning don't move it
    val dup = Kmv.sketch(big.unionAll(big).repartition(13), Seq("g"), "key", 16)
    assert(dup.select(col("kmv")).head.getSeq[Long](0) ===
      bsk.select(col("kmv")).head.getSeq[Long](0))
    // merge of two disjoint groups = the k smallest of the union, and its
    // estimate tracks the union cardinality (750 here)
    val two = (1L to 500L).map(("a", _)) ++ (251L to 1000L).map(("b", _))
    val tsk = Kmv.sketch(two.toDF("g", "key"), Seq("g"), "key", 16)
    val merged = Kmv.mergeAll(tsk, 16)
    val union = Kmv.sketch((1L to 1000L).map(("all", _)).toDF("g", "key"),
      Seq("g"), "key", 16)
    assert(merged.select(col("kmv")).head.getSeq[Long](0) ===
      union.select(col("kmv")).head.getSeq[Long](0),
      "merged sketch must equal the sketch of the union")
    // hash is the documented portable LCG: pmod residue then one step
    val h = small.select(Kmv.hash(lit(10L))).head.getLong(0)
    assert(h === (1103515245L * 10L + 12345L) % 2147483648L)
    intercept[IllegalArgumentException](Kmv.sketch(small, Seq("g"), "key", 1))
    // trailing merge, window 2 over periods 1..3 (keys overlap across
    // days): end t = union of sketches {t-1, t}; hanging window at end 4
    val daily = Kmv.sketch(
      Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L), (3L, 13L))
        .toDF("d", "key"), Seq("d"), "key", 8)
    val tw = Kmv.mergeTrailing(daily, "d", window = 2, k = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).size)))
      .toMap
    assert(tw === Map(1L -> ((1L, 2)), 2L -> ((2L, 3)), 3L -> ((2L, 3)),
      4L -> ((1L, 1))))
    intercept[IllegalArgumentException](Kmv.mergeTrailing(daily, "d", 0, 8))
  }

  test("kmv production mixer (xxhash64): non-negative range, exact unsaturated, sane saturated") {
    import graft.operators.Kmv
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // every masked hash sits in [0, 2^62): the ascending order statistic is
    // the unsigned order, and the estimator's operands stay exact doubles
    val big = (1L to 2000L).map(("g", _)).toDF("g", "key")
    val sk = Kmv.sketch(big, Seq("g"), "key", 64, Kmv.hashXx)
    val hashes = sk.select(col("kmv")).head.getSeq[Long](0)
    assert(hashes.forall(h => h >= 0L && h < Kmv.XxModulus))
    assert(hashes === hashes.sorted)
    // saturated estimate with the REAL mixer: within the q200 band (0.35)
    val est = sk.select(Kmv.estimate(col("kmv"), 64, Kmv.XxModulus))
      .head.getDouble(0)
    assert(math.abs(est / 2000.0 - 1.0) <= 0.35, s"estimate $est vs 2000")
    // unsaturated xx sketch: exact, like the LCG path
    val sm = Kmv.sketch((1L to 5L).map(("g", _)).toDF("g", "key"),
      Seq("g"), "key", 64, Kmv.hashXx)
    assert(sm.select(Kmv.estimate(col("kmv"), 64, Kmv.XxModulus))
      .head.getDouble(0) === 5.0)
    // set property holds under the xx mixer too
    val dup = Kmv.sketch(big.unionAll(big).repartition(13), Seq("g"), "key",
      64, Kmv.hashXx)
    assert(dup.select(col("kmv")).head.getSeq[Long](0) === hashes)
  }
}
