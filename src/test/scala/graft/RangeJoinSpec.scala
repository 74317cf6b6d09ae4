package graft

import org.apache.spark.sql.functions._

import graft.operators.RangeJoin
import graft.queries.RelationalQueries

/** Range-join correctness: the bin equi-join decomposition must produce the
  * exact relation of the naive non-equi join (which Spark plans as a BNLJ —
  * the formulation the operator exists to avoid), across boundary values,
  * negative coordinates, and bin sizes that do / don't divide the data.
  */
class RangeJoinSpec extends SparkSpec {

  import spark.implicits._

  test("point-in-interval: inclusive bounds, nulls and inverted intervals match nothing") {
    val iv = Seq(
      (1L, 10L, 20L),
      (2L, -25L, -10L), // negative coordinates: floor-anchored bins, not truncated
      (3L, 30L, 30L),   // degenerate single-point interval
      (4L, 50L, 40L),   // inverted: matches nothing
      (5L, 60L, 70L)
    ).toDF("iv_id", "s", "e")
      .union(Seq((6L, null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long]))
        .toDF("iv_id", "s", "e"))
    val pts = Seq(10L, 20L, 21L, 9L, -10L, -25L, -26L, 30L, 45L, 65L)
      .toDF("p")
      .union(Seq(null.asInstanceOf[java.lang.Long]).toDF("p"))
    for (bin <- Seq(1L, 3L, 7L, 16L, 1000L)) {
      val got = RangeJoin.pointInInterval(iv, "s", "e", pts, "p", binSize = bin)
        .select("iv_id", "p").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = Set(
        (1L, 10L), (1L, 20L),       // both ends inclusive
        (2L, -10L), (2L, -25L),     // negative ends inclusive
        (3L, 30L),                  // degenerate
        (5L, 65L))
      assert(got === expected, s"binSize=$bin")
    }
  }

  test("point-in-interval equals the naive non-equi join on real data") {
    val dir = "/root/testdata/sf0.001"
    val iv = Tables.load(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(100)) === 0)
      .select(col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("s"))
      .withColumn("e", col("s") + pmod(col("o_orderkey"), lit(30)) + lit(1))
    val pts = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long").as("p"))
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic testdata, so
    // compare MULTISETS — multiplicity equality also proves each matching
    // (interval, point) row pair is emitted exactly once
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val naive = multiset(iv.join(pts, col("p").between(col("s"), col("e")))
      .select("o_orderkey", "l_orderkey", "l_linenumber").collect())
    assert(naive.nonEmpty, "test must exercise real matches")
    for (bin <- Seq(1L, 13L, 32L, 365L)) {
      val binned = multiset(
        RangeJoin.pointInInterval(iv, "s", "e", pts, "p", binSize = bin)
          .select("o_orderkey", "l_orderkey", "l_linenumber").collect())
      assert(binned === naive, s"binSize=$bin")
    }
  }

  test("point-in-interval: pathological interval fan-out fails fast, not silently") {
    val iv = Seq((1L, 0L, Long.MaxValue / 2)).toDF("iv_id", "s", "e")
    val pts = Seq(5L).toDF("p")
    val e = intercept[Exception] {
      RangeJoin.pointInInterval(iv, "s", "e", pts, "p",
        binSize = 10, maxBinsPerInterval = 1000).collect()
    }
    assert(e.getMessage.contains("range join") || e.getMessage.contains("RAISE_ERROR"),
      s"unexpected error: ${e.getMessage}")
  }

  test("fractional coordinate columns are rejected at plan time, not silently truncated") {
    val iv = Seq((1L, 5.0, 10.0)).toDF("iv_id", "s", "e")
    val pts = Seq(10.7).toDF("p")
    val e1 = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(iv, "s", "e", Seq(7L).toDF("p"), "p", binSize = 4)
    }
    assert(e1.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(Seq((1L, 5L, 10L)).toDF("iv_id", "s", "e"),
        "s", "e", pts, "p", binSize = 4)
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("corrupt sentinel bounds (anchor-span overflow) hit the designed error") {
    // start = Long.MinValue, end = 0: s <= e holds but the anchor difference
    // overflows long — the guard must raise the range-join message, not fail
    // somewhere inside sequence()
    val iv = Seq((1L, Long.MinValue, 0L)).toDF("iv_id", "s", "e")
    val pts = Seq(5L).toDF("p")
    val e = intercept[Exception] {
      RangeJoin.pointInInterval(iv, "s", "e", pts, "p", binSize = 32).collect()
    }
    assert(e.getMessage.contains("range join") || e.getMessage.contains("RAISE_ERROR"),
      s"unexpected error: ${e.getMessage}")
  }

  test("a reserved __bin column in either input is rejected, not clobbered") {
    val iv = Seq((1L, 5L, 10L)).toDF("iv_id", "s", "e")
    val pts = Seq((7L, 99L)).toDF("p", "__bin")
    val e = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(iv, "s", "e", pts, "p", binSize = 4)
    }
    assert(e.getMessage.contains("__bin"))
  }

  test("interval-overlap: exactly-once pairs, identical to the naive overlap join") {
    // pseudo-random intervals on both sides (deterministic LCG), lengths 0-19
    val a = (0 until 60).map { i =>
      val s = (i * 7919L + 13) % 300; (i.toLong, s, s + (i * 31) % 20)
    }.toDF("a_id", "a_s", "a_e")
    val b = (0 until 60).map { i =>
      val s = (i * 104729L + 51) % 300; (i.toLong, s, s + (i * 17) % 20)
    }.toDF("b_id", "b_s", "b_e")
    val naive = a.join(b, col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    for (bin <- Seq(1L, 8L, 64L)) {
      val got = RangeJoin.intervalOverlap(a, "a_s", "a_e", b, "b_s", "b_e", binSize = bin)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length === got.toSet.size, s"pair emitted twice at binSize=$bin")
      assert(got.toSet === naive, s"binSize=$bin")
    }
  }

  test("q38 range join plans an equi-join on the bin, no BNLJ anywhere") {
    val p = RelationalQueries.rangeJoin(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }
}
