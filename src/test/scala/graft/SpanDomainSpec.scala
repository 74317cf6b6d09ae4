package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{DomainFilter, SpanDedup}

/** Specs for exact repeated-span removal ([[SpanDedup]], q71/q72) and the
  * domain-level quality filter ([[DomainFilter]], q70). The DuckDB oracles
  * verify both on the real corpus end-to-end; these cover the removal
  * branches and policy invariants on controlled inputs. */
class SpanDomainSpec extends SparkSpec {

  import spark.implicits._

  // Ten tokens shared verbatim by docs 1 and 2 (two overlapping 8-windows),
  // doc 3 unique, doc 4 too short to span, doc 5 blank.
  private val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private def corpus = Seq(
    (1L, s"one two $shared tail1 tail2"),
    (2L, s"uno dos $shared cola1 cola2"),
    (3L, "completely unique prose that never repeats anywhere at all here"),
    (4L, "short doc"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("strictShingles: empty below n, positional n-grams at or above n") {
    val out = spark.range(1).toDF("x")
      .select(
        Text.strictShingles(lit("a b c"), 4).as("below"),
        Text.strictShingles(lit("a b c d"), 4).as("exact"),
        Text.strictShingles(lit("a b c d e"), 4).as("above"))
      .head()
    assert(out.getSeq[String](0) === Seq.empty)
    assert(out.getSeq[String](1) === Seq("a b c d"))
    assert(out.getSeq[String](2) === Seq("a b c d", "b c d e"))
  }

  test("spanReport: only cross-document spans of the shared run, correct counts") {
    val report = SpanDedup.spanReport(corpus, "doc_id", "text", n = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // the 10 shared tokens yield 3 eight-grams, each in exactly 2 docs once
    val toks = shared.split(" ")
    val expected = (0 to 2).map(i => (toks.slice(i, i + 8).mkString(" "), 2L, 2L)).toSet
    assert(report === expected)
  }

  test("scrubSpans: keeper doc intact, partner's shared run cut, rest untouched") {
    val out = SpanDedup.scrubSpans(corpus, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 holds every canonical occurrence (min doc_id) — nothing removed
    assert(out(1L) === ((14L, 0L, s"one two $shared tail1 tail2")))
    // doc 2 loses exactly the 10 shared tokens (3 overlapping windows merge)
    assert(out(2L) === ((14L, 10L, "uno dos cola1 cola2")))
    assert(out(3L)._2 === 0L)
    assert(out(4L) === ((2L, 0L, "short doc")))
    assert(out(5L) === ((0L, 0L, "")))
  }

  test("scrubSpans: within-doc repetition alone is not duplication") {
    val rep = "a b c d e f g h " * 3
    val df = Seq((1L, rep.trim), (2L, "unrelated text here entirely")).toDF("doc_id", "text")
    val out = SpanDedup.scrubSpans(df, "doc_id", "text", n = 8)
      .filter(col("doc_id") === 1L).head()
    assert(out.getLong(2) === 0L)
  }

  test("scrubSpans: same-doc extra occurrences of a duplicated span are cut too") {
    // span appears twice in doc 1 and once in doc 2: canonical is doc 1 pos 0;
    // doc 1's second occurrence and doc 2's occurrence both go
    val span = "p q r s t u v w"
    val df = Seq(
      (1L, s"$span x1 x2 x3 x4 x5 x6 x7 $span"),
      (2L, s"y1 y2 $span")
    ).toDF("doc_id", "text")
    val out = SpanDedup.scrubSpans(df, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((8L, s"$span x1 x2 x3 x4 x5 x6 x7")))
    assert(out(2L) === ((8L, "y1 y2")))
  }

  test("domain filter: exact integer shares and the keep decision both ways") {
    // srcA: 2 good of 2; srcB: 1 good of 4 (0.25 < 0.5 → dropped). "good"
    // needs quality >= 0.5: 50+ chars in band + stopwords + punctuation.
    val good = "the quick brown fox jumps over the lazy dog again and again. " +
      "it is a fine day in the meadow and the sun is up."
    val bad = "x"
    val df = Seq(
      (1L, "srcA", good), (2L, "srcA", good),
      (3L, "srcB", good), (4L, "srcB", bad), (5L, "srcB", bad), (6L, "srcB", bad)
    ).toDF("doc_id", "source", "text")
    val ann = DomainFilter.annotateBySource(df, "source", "text")
      .select("doc_id", "source", "n_docs", "n_good", "good_share", "source_kept")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(ann(1L) === (("srcA", 2L, 2L, 1.0, true)))
    assert(ann(4L) === (("srcB", 4L, 1L, 0.25, false)))
    val kept = DomainFilter.filterBySource(df, "source", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 2L))
    // filtering form restores the input schema
    assert(DomainFilter.filterBySource(df, "source", "text").columns.sorted
      === df.columns.sorted)
  }

  test("sourceQuality: per-source counts and good share; the threshold is inclusive") {
    val good = "the quick brown fox jumps over the lazy dog again and again. " +
      "it is a fine day in the meadow and the sun is up."
    val df = Seq((1L, "srcA", good), (2L, "srcA", "x"), (3L, "srcB", "x"))
      .toDF("doc_id", "source", "text")
    val q = df.filter(col("doc_id") === 1L).select(Text.qualityScore(col("text")))
      .head().getDouble(0)
    def rollup(threshold: Double) =
      DomainFilter.sourceQuality(df, "source", "text", threshold).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rollup(q) === Map("srcA" -> ((2L, 1L, 0.5)), "srcB" -> ((1L, 0L, 0.0))))
    assert(rollup(math.nextUp(q)) === Map("srcA" -> ((2L, 0L, 0.0)), "srcB" -> ((1L, 0L, 0.0))))
  }
}
