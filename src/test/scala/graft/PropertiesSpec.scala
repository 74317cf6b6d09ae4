package graft

import org.apache.spark.sql.functions._

import graft.etl.{Exprs, FactAttendance, RawSheet}
import graft.operators.OrderedAnalytics

/** The SURVEY §5 property commitments, driven by seeded random fixtures:
  * unpivot row-count conservation, streak bounds, session-id contiguity, and
  * the d.m.yy round-trip across the two-digit-year pivot range.
  */
class PropertiesSpec extends SparkSpec {

  import spark.implicits._

  private val rnd = new scala.util.Random(4242)

  test("property: dense unpivot emits exactly #choristers x #dates rows") {
    for (_ <- 1 to 5) {
      val nDates = 1 + rnd.nextInt(6)
      val nChor = 1 + rnd.nextInt(8)
      val nSongs = rnd.nextInt(3)
      val dates = (0 until nDates).map(i =>
        java.time.LocalDate.of(2024, 1, 1).plusWeeks(i))
      val header = Seq("Tag", "Joined", "tgid", "Who") ++
        dates.map(d => f"${d.getDayOfMonth}%d.${d.getMonthValue}%d.${d.getYear % 100}%02d")
      val rows =
        (0 until nChor).map(i => Seq("Alto", "1.1.24", "", s"Chor $i") ++
          (0 until nDates).map(_ => if (rnd.nextBoolean()) "" else "1,5")) ++
        (0 until nSongs).map(i => Seq("Song", "", "", s"Song $i") ++
          (0 until nDates).map(_ => "10"))
      val raw = RawSheet.fromRows(spark, header, rows)
      val facts = FactAttendance.build(raw, current_timestamp())
      assert(facts.count() === nChor.toLong * nDates,
        s"nChor=$nChor nDates=$nDates nSongs=$nSongs")
    }
  }

  test("property: trailing streak is bounded by the key's row count and matches a scan oracle") {
    for (_ <- 1 to 5) {
      val rows = for {
        k <- 0 until (2 + rnd.nextInt(5))
        i <- 0 until (1 + rnd.nextInt(10))
      } yield (s"k$k", i.toLong, rnd.nextInt(3) == 0) // ~1/3 breaks
      val df = rows.toDF("k", "ord", "brk")
      val got = OrderedAnalytics.trailingStreak(df, Seq("k"), "ord", col("brk"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val oracle = rows.groupBy(_._1).map { case (k, rs) =>
        k -> rs.sortBy(-_._2).takeWhile(!_._3).size.toLong
      }
      assert(got === oracle)
      val counts = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      assert(got.forall { case (k, s) => s <= counts(k) })
    }
  }

  test("property: session ids are contiguous from 1 and non-decreasing in time") {
    for (_ <- 1 to 5) {
      val rows = for {
        k <- 0 until (1 + rnd.nextInt(4))
        i <- 0 until (1 + rnd.nextInt(15))
      } yield (s"u$k", i * (50L + rnd.nextInt(200)))
      val df = rows.toDF("k", "ts")
      val out = OrderedAnalytics.sessionize(df, Seq("k"), "ts", "ts", gapMillis = 100L)
        .select("k", "ts", "session_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      for ((k, g) <- out.groupBy(_._1)) {
        val byTime = g.sortBy(_._2).map(_._3)
        assert(byTime.head === 1L, k)
        assert(byTime.zip(byTime.tail).forall { case (a, b) => b == a || b == a + 1 }, k)
        assert(byTime.distinct.sorted === (1L to byTime.max), k)
      }
    }
  }

  test("wide sheet: 350 date columns unpivot correctly (reference ceiling is ~698)") {
    // The A:ZZ sheet bound allows ~698 date columns; the dense unpivot must
    // survive that many branches in one generated plan (a separate probe ran
    // the full 698 — 27,920 facts, no codegen failure). 350 keeps the suite
    // fast while still exercising a plan far beyond janino comfort defaults.
    val nDates = 350
    val start = java.time.LocalDate.of(2000, 1, 3)
    val dates = (0 until nDates).map(i => start.plusDays(i.toLong))
    val header = Seq("Tag", "Joined", "tgid", "Who") ++
      dates.map(d => f"${d.getDayOfMonth}%d.${d.getMonthValue}%d.${d.getYear % 100}%02d")
    val rows = (0 until 10).map(i =>
      Seq("Alto", "3.1.00", "", s"C$i") ++ (0 until nDates).map(j => if ((i + j) % 2 == 0) "" else "1,5"))
    val raw = RawSheet.fromRows(spark, header, rows)
    val facts = FactAttendance.build(raw, current_timestamp())
    assert(facts.count() === 10L * nDates)
    val agg = facts.agg(sum(col("missed_flag")), sum(col("hours_attended"))).collect()(0)
    assert(agg.getLong(0) === 10L * nDates / 2)
    assert(agg.getDouble(1) === 1.5 * (10L * nDates / 2))
  }

  test("property: d.m.yy round-trips for every date in the pivot range 1950-2049") {
    val days = (0 until 300).map(_ => rnd.nextInt(36525)) // days within 1950..2049
    val inputs = days.map { d =>
      val date = java.time.LocalDate.of(1950, 1, 1).plusDays(d)
      (f"${date.getDayOfMonth}%d.${date.getMonthValue}%d.${date.getYear % 100}%02d", date.toString)
    }
    val df = inputs.toDF("raw", "want")
    val bad = df.select(Exprs.normalizeDateToIso(col("raw")).as("got"), col("want"))
      .filter(col("got") =!= col("want"))
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString(", "))
  }

  test("property: distributed packing equals the sequential greedy reference walk") {
    // random sparse unique ids, random token counts and knobs; the Spark
    // result must equal a plain-Scala replay of the first-fit walk per
    // floor-division id bucket — the partitioning-independence claim
    for (_ <- 1 to 5) {
      val n = 5 + rnd.nextInt(60)
      val cap = 50L + rnd.nextInt(300)
      val groupSize = 1 + rnd.nextInt(20)
      val ids = rnd.shuffle((0 until n * 3).map(_.toLong).toVector).take(n)
      val rows = ids.map(id => id -> (1L + rnd.nextInt(200)))
      val got = graft.operators.Packing
        .packBins(rows.toDF("doc_id", "n_tok"), "doc_id", "n_tok", cap, groupSize)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val oracle = rows.groupBy { case (id, _) => Math.floorDiv(id, groupSize) }
        .flatMap { case (grp, members) =>
          var fill = 0L
          var bin = 0L
          members.sortBy(_._1).map { case (id, tok) =>
            if (fill > 0 && fill + tok > cap) { bin += 1; fill = tok }
            else fill += tok
            id -> (grp * groupSize + bin)
          }
        }
      assert(got === oracle, s"n=$n cap=$cap groupSize=$groupSize")
    }
  }

  test("property: repetition fractions equal a plain-Scala recount") {
    // small vocab forces real gram collisions; the Spark doubles must be
    // bit-equal to the same integer divisions computed sequentially
    val vocab = Vector("a", "b", "c", "d")
    for (_ <- 1 to 5) {
      val docs = (0 until (3 + rnd.nextInt(8))).map { i =>
        val toks = (0 until (2 + rnd.nextInt(30))).map(_ => vocab(rnd.nextInt(vocab.size)))
        i.toLong -> toks.mkString(" ")
      }
      val got = graft.operators.Repetition
        .ngramRepetition(docs.toDF("doc_id", "text"), "doc_id", "text", 2)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      val oracle = docs.map { case (id, text) =>
        val toks = text.split(" ").toSeq
        val grams =
          if (toks.size <= 2) Seq(toks.mkString(" "))
          else toks.sliding(2).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val nG = grams.size.toLong
        id -> ((nG,
          counts.values.max.toDouble / nG.toDouble,
          counts.values.filter(_ > 1).sum.toDouble / nG.toDouble))
      }.toMap
      assert(got === oracle)
    }
  }

  test("zorder key: per-coordinate monotone, bijective on the grid, locality beats random") {
    import graft.functions.ZOrder.interleave
    val bits = 6
    val rng = new scala.util.Random(20260814)
    // monotone in each coordinate with the other fixed — the property that
    // makes per-column min/max stats meaningful on a z-sorted file
    for (_ <- 1 to 200) {
      val fixed = rng.nextInt(1 << bits).toLong
      val a = rng.nextInt(1 << bits).toLong
      val b = rng.nextInt(1 << bits).toLong
      if (a < b) {
        assert(interleave(Array(a, fixed), bits) < interleave(Array(b, fixed), bits))
        assert(interleave(Array(fixed, a), bits) < interleave(Array(fixed, b), bits))
      }
    }
    // bijective: every grid cell gets a distinct key in [0, 4^bits)
    val all = for (a <- 0L until 64L; b <- 0L until 64L)
      yield interleave(Array(a, b), bits)
    assert(all.toSet.size === 64 * 64)
    assert(all.min === 0L && all.max === (1L << (2 * bits)) - 1)
    // locality: points adjacent in z-order are close in BOTH coordinates far
    // more often than a random order achieves — the reason neighboring file
    // chunks hold small bounding boxes
    def coords(z: Long): (Long, Long) = {
      var a = 0L; var b = 0L
      for (i <- 0 until bits) {
        a |= ((z >>> (2 * i)) & 1L) << i
        b |= ((z >>> (2 * i + 1)) & 1L) << i
      }
      (a, b)
    }
    val zsorted = all.sorted
    def adjacencyScore(order: Seq[Long]): Double =
      order.sliding(2).count { case Seq(x, y) =>
        val (ax, bx) = coords(x); val (ay, by) = coords(y)
        math.abs(ax - ay) <= 8 && math.abs(bx - by) <= 8
      }.toDouble / (order.length - 1)
    val zScore = adjacencyScore(zsorted)
    val rScore = adjacencyScore(rng.shuffle(all.toVector))
    assert(zScore > 0.9, f"z-order adjacency $zScore%.2f unexpectedly weak")
    assert(zScore > rScore * 2,
      f"z-order adjacency $zScore%.2f not clearly better than random $rScore%.2f")
  }
}
