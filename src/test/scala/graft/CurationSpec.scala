package graft

import org.apache.spark.sql.functions._

import graft.functions.Curation
import graft.operators.{Decontamination, Repetition, UnigramLm}
import graft.queries.TextQueries

/** Corpus-curation operators: content-hash splitting, train/eval
  * decontamination, Gopher-style repetition stats, PII scrubbing
  * (q51–q54). */
class CurationSpec extends SparkSpec {

  import spark.implicits._

  // ---- content-hash split ---------------------------------------------------

  test("split: pure function of content — duplicates share a split, rerun is identical") {
    val docs = (1 to 300).map(i => (i.toLong, s"document number ${i % 100} body"))
      .toDF("doc_id", "text")
    val a = docs.select(col("doc_id"), col("text"),
      Curation.splitAssign(col("text")).as("split"))
    // byte-identical texts (i, i+100, i+200 share text) always agree
    val disagreeing = a.groupBy("text").agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count()
    assert(disagreeing === 0)
    // rerun is bit-identical
    val b = docs.select(col("doc_id"), Curation.splitAssign(col("text")).as("split"))
    assert(a.select("doc_id", "split").except(b).count() === 0)
  }

  test("split: cut points give roughly 5/5/90 and every split is populated") {
    val docs = (1 to 2000).map(i => (i.toLong, s"unique text $i with some words"))
      .toDF("doc_id", "text")
    val counts = docs.select(Curation.splitAssign(col("text")).as("split"))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet === Set("train", "val", "test"))
    // 13/256 ≈ 5.08% each; allow wide slack for 2000 samples
    assert(counts("test") > 50 && counts("test") < 160, counts)
    assert(counts("val") > 50 && counts("val") < 160, counts)
    assert(counts("train") > 1700, counts)
  }

  test("split: rejects inverted cut points") {
    intercept[IllegalArgumentException] {
      Curation.splitAssign(col("text"), testLt = "1a", valLt = "0d")
    }
  }

  // ---- decontamination ------------------------------------------------------

  test("decontamination flags exactly the train docs sharing an 8-gram with eval") {
    val train = Seq(
      // shares the full 10-token sentence with eval doc 100 → 3 shared 8-grams
      1L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
      // shares no 8-gram (one word changed mid-sentence)
      2L -> "alpha bravo charlie delta WHISKEY foxtrot golf hotel india juliet",
      // too short to carry an 8-gram
      3L -> "alpha bravo charlie",
      // completely disjoint
      4L -> "one two three four five six seven eight nine ten"
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      100L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    ).toDF("doc_id", "text")
    val got = Decontamination.sharedShingleCounts(train, eval_, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L))
  }

  test("decontamination: repeated shingles count once per train doc") {
    val train = Seq(
      1L -> ("the cat sat on the mat again and " * 2).trim // repeats its 8-grams
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      2L -> "the cat sat on the mat again and more trailing words here"
    ).toDF("doc_id", "text")
    val got = Decontamination.sharedShingleCounts(train, eval_, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // train text = 16 tokens, 9 raw shingles; distinct shared with eval: the
    // eval text's first shingle "the cat sat on the mat again and" plus any
    // other distinct overlap — compute independently
    val trainSh = ("the cat sat on the mat again and " * 2).trim
      .split(" ").sliding(8).map(_.mkString(" ")).toSet
    val evalSh = "the cat sat on the mat again and more trailing words here"
      .split(" ").sliding(8).map(_.mkString(" ")).toSet
    assert(got === Map(1L -> trainSh.intersect(evalSh).size.toLong))
  }

  test("bloom prescreen is output-invariant vs the exact decontamination screen") {
    // REAL corpus slice: both paths over the sf0.001 documents split must
    // produce identical rows — blooms have no false negatives, and the
    // false positives the prescreen admits die in the exact join.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"),
        Curation.splitAssign(col("text")).as("split"))
    val train = docs.filter(col("split") === "train")
    val eval_ = docs.filter(col("split") =!= "train")
    val exact = Decontamination
      .sharedShingleCounts(train, eval_, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloomed = Decontamination
      .sharedShingleCountsBloom(train, eval_, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloomed === exact)
    assert(exact.nonEmpty, "fixture corpus must carry planted cross-split dups")
  }

  test("bloom prescreen: empty eval side yields an empty report, right schema") {
    val train = Seq(
      1L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    ).toDF("doc_id", "text")
    val eval_ = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = Decontamination
      .sharedShingleCountsBloom(train, eval_, "doc_id", "text", 8)
    assert(got.columns.toSeq === Seq("doc_id", "n_shared"))
    assert(got.count() === 0L)
  }

  test("bloom prescreen actually prunes: disjoint train shingles never reach the join") {
    // every train shingle is absent from eval → the prescreen filter should
    // remove the rows scan-locally (probabilistically a few fpp survivors
    // are allowed; with 64 shingles against an 8M-bit bloom the expected
    // count is ~0). The pruned frame is observable via the plan's filter.
    val train = Seq(
      1L -> "one two three four five six seven eight nine ten eleven twelve"
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      2L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    ).toDF("doc_id", "text")
    val got = Decontamination
      .sharedShingleCountsBloom(train, eval_, "doc_id", "text", 8)
    assert(got.count() === 0L)
    assert(got.queryExecution.executedPlan.toString.contains("might_contain"),
      "the codegen'd bloom probe must appear in the physical plan")
  }

  // ---- heavy hitters --------------------------------------------------------

  test("heavy grams: hand-computed counts on a planted corpus") {
    val docs = Seq(
      1L -> "the quick brown fox jumps",       // trigrams: 3
      2L -> "the quick brown dog sits",        // shares 'the quick brown'
      3L -> "the quick brown fox runs",        // shares 2 with doc 1
      4L -> "too short",                       // <3 tokens: contributes nothing
      5L -> ""                                 // blank: contributes nothing
    ).toDF("doc_id", "text")
    val got = graft.operators.HeavyHitters
      .frequentGrams(docs, "text", n = 3, minCount = 2L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("the quick brown" -> 3L, "quick brown fox" -> 2L))
  }

  test("CMS prescreen is output-invariant vs the exact heavy-gram rollup (real corpus)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = graft.operators.HeavyHitters
      .frequentGrams(docs, "text", 3, 5L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketched = graft.operators.HeavyHitters
      .frequentGramsSketched(docs, "text", 3, 5L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketched === exact)
    assert(exact.size > 100, "fixture corpus must carry real heavy trigrams")
  }

  test("CMS estimates never undershoot the true count — the no-false-negative direction") {
    // the property the prescreen's exactness proof rests on, checked for
    // EVERY gram of the real corpus: estimate(g) >= count(g). This also
    // pins the build/probe byte-representation agreement (UTF8String bytes
    // on both sides) — a hash mismatch would undershoot somewhere.
    import graft.functions.{Sketches, Text}
    val grams = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(Text.strictShingles(col("text"), 3)).as("gram"))
      .filter(col("gram") =!= "")
    val sketch = grams
      .agg(Sketches.countMinAgg(col("gram"), 1e-4, 0.99).as("s"))
      .head.getAs[Array[Byte]]("s")
    val undershoots = grams.groupBy("gram").agg(count(lit(1)).as("n"))
      .filter(Sketches.cmsEstimate(sketch, col("gram")) < col("n"))
      .count()
    assert(undershoots === 0L)
  }

  test("CMS prescreen actually prunes a planted skew corpus before the exchange") {
    import graft.functions.{Sketches, Text}
    // one phrase repeated 60x among 300 once-only filler grams: a
    // threshold-30 prescreen must admit the heavy gram's occurrences and
    // shed essentially all filler SCAN-LOCALLY (eps 1e-4 over ~400 grams
    // makes collisions negligible).
    val heavy = Seq.fill(60)("alpha beta gamma").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val filler = (0 until 100).map(i =>
      (1000L + i, s"unique${i}a unique${i}b unique${i}c unique${i}d unique${i}e"))
    val docs = (heavy ++ filler).toDF("doc_id", "text")
    val grams = docs
      .select(explode(Text.strictShingles(col("text"), 3)).as("gram"))
      .filter(col("gram") =!= "")
    val sketch = grams
      .agg(Sketches.countMinAgg(col("gram"), 1e-4, 0.99).as("s"))
      .head.getAs[Array[Byte]]("s")
    val admitted = grams
      .filter(Sketches.cmsEstimate(sketch, col("gram")) >= 30L).count()
    assert(admitted >= 60L, "every occurrence of the true heavy gram must survive")
    assert(admitted <= 80L,
      s"prescreen should shed the once-only tail scan-locally (admitted $admitted of ${grams.count()})")
    // and the full operator returns exactly the planted heavy hitter
    val got = graft.operators.HeavyHitters
      .frequentGramsSketched(docs, "text", 3, 30L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("alpha beta gamma" -> 60L))
  }

  // ---- repetition stats -----------------------------------------------------

  test("repetition: hand-computed fractions on a planted repetitive doc") {
    val docs = Seq(
      // tokens: a b a b a b  → 2-grams: "a b","b a","a b","b a","a b"
      // counts: "a b"→3, "b a"→2; n=5, top=3/5, dup=5/5
      1L -> "a b a b a b",
      // all 2-grams distinct: w1 w2 w3 → "w1 w2","w2 w3"; top=1/2, dup=0
      2L -> "w1 w2 w3",
      // single token → excluded
      3L -> "solo"
    ).toDF("doc_id", "text")
    val got = Repetition.ngramRepetition(docs, "doc_id", "text", 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 5L, 3.0 / 5.0, 1.0),
      (2L, 2L, 1.0 / 2.0, 0.0)))
  }

  test("repetition: two-token doc yields the single whole-text gram") {
    val got = Repetition.ngramRepetition(
      Seq(1L -> "hello world").toDF("doc_id", "text"), "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 1L, 1.0, 0.0)))
  }

  test("decontamination pairs: each leak attributed to its eval doc") {
    val train = Seq(
      1L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
      2L -> "one two three four five six seven eight nine ten"
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      // eval 100 shares train 1's full sentence (3 shingles); eval 101
      // shares only the first 8 tokens (1 shingle); eval 102 disjoint
      100L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
      101L -> "alpha bravo charlie delta echo foxtrot golf hotel zulu yankee",
      102L -> "mike november oscar papa quebec romeo sierra tango uniform victor"
    ).toDF("doc_id", "text")
    val got = graft.operators.Decontamination
      .contaminationPairs(train, eval_, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map((1L, 100L) -> 3L, (1L, 101L) -> 1L))
  }

  test("decontamination: boilerplate shingles above the DF cap are not leakage") {
    // five train docs share one verbatim boilerplate sentence that also
    // appears in eval (license-header shape); train doc 6 shares a GENUINE
    // unique sentence with eval doc 101
    val boiler = "this content is provided under the standard license terms described here"
    val train = ((1 to 5).map(i => i.toLong -> s"$boiler unique tail number $i") :+
      (6L -> "the secret benchmark answer sequence is alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val eval_ = Seq(
      100L -> s"$boiler and some extra evaluation material",
      101L -> "the secret benchmark answer sequence is alpha beta gamma delta epsilon"
    ).toDF("doc_id", "text")
    // uncapped: boilerplate counts as contamination — all six docs flagged
    val all = Decontamination.sharedShingleCounts(train, eval_, "doc_id", "text", 8)
      .collect().map(_.getLong(0)).toSet
    assert(all === Set(1L, 2L, 3L, 4L, 5L, 6L))
    // capped at DF 3: the boilerplate shingles (train DF 5) are dropped
    // before the join; the genuine leak (DF 1) survives with its full count
    val capped = Decontamination
      .sharedShingleCounts(train, eval_, "doc_id", "text", 8, maxShingleDf = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped === Map(6L -> 4L))
    // the pair-level screen applies the same cap
    val cappedPairs = Decontamination
      .contaminationPairs(train, eval_, "doc_id", "text", 8, maxShingleDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs === Set((6L, 101L)))
  }

  test("decontamination: empty eval side yields no contamination, not an error") {
    val train = Seq(1L -> "a b c d e f g h i j").toDF("doc_id", "text")
    val eval_ = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Decontamination.sharedShingleCounts(train, eval_, "doc_id", "text", 8)
      .count() === 0L)
    assert(graft.operators.Decontamination
      .contaminationPairs(train, eval_, "doc_id", "text", 8).count() === 0L)
  }

  test("split and scrub tolerate null text") {
    val docs = Seq((1L, null: String), (2L, "real text here")).toDF("doc_id", "text")
    val r = docs.select(
      Curation.splitAssign(col("text")).as("split"),
      Curation.scrubPii(col("text")).as("scrubbed"),
      Curation.emailCount(col("text")).as("e"))
      .orderBy(col("split")).collect()
    assert(r.length === 2 && r.forall(_.getString(0) != null))
    // null text scrubs to empty, counts 0
    val nullRow = docs.filter(col("doc_id") === 1L).select(
      Curation.scrubPii(col("text")), Curation.emailCount(col("text"))).head()
    assert(nullRow.getString(0) === "" && nullRow.getLong(1) === 0L)
  }

  // ---- sequence packing -----------------------------------------------------

  test("packing: hand-computed greedy walk, oversize doc gets its own bin") {
    val docs = Seq(
      (0L, 100L), (1L, 100L), (2L, 100L), (3L, 60L), (4L, 300L), (5L, 10L)
    ).toDF("doc_id", "n_tok")
    val got = graft.operators.Packing
      .packBins(docs, "doc_id", "n_tok", capacity = 256, groupSize = 64)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // walk: 100, 200 | break → 100, 160 | break (300 oversize, alone) | break
    assert(got.toSeq === Seq(
      (0L, 100L, 0L), (1L, 100L, 0L), (2L, 100L, 1L),
      (3L, 60L, 1L), (4L, 300L, 2L), (5L, 10L, 3L)))
  }

  test("packing: every doc assigned once; bins respect capacity unless singleton") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), graft.functions.Text.tokenCount(col("text")).as("n_tok"))
    val packed = graft.operators.Packing
      .packBins(docs, "doc_id", "n_tok", capacity = 256, groupSize = 64)
    assert(packed.count() === docs.count())
    assert(packed.select("doc_id").distinct().count() === docs.count())
    val bad = packed.groupBy("bin_id")
      .agg(sum("n_tokens").as("fill"), count(lit(1)).as("n"))
      .filter(col("fill") > 256 && col("n") > 1)
      .count()
    assert(bad === 0L)
  }

  test("packing: duplicate ids overfilling a bucket abort instead of colliding bins") {
    // 70 rows sharing one id land in one 64-wide bucket: the walk would open
    // bin 64+ and collide with the next group's bin 0 — must fail fast
    val dup = (0 until 70).map(_ => (1L, 300L)).toDF("doc_id", "n_tok")
    val e = intercept[Exception] {
      graft.operators.Packing
        .packBins(dup, "doc_id", "n_tok", capacity = 256, groupSize = 64)
        .collect()
    }
    assert(e.getMessage.contains("ids must be unique") ||
      e.getMessage.contains("RAISE_ERROR"), s"unexpected error: ${e.getMessage}")
  }

  test("packing: ids above 2^53 keep exact integer grouping") {
    // doubles can't represent these ids distinctly; integral floor-division
    // grouping must still separate adjacent buckets exactly
    val base = (1L << 60) + 123456789L
    val docs = Seq((base, 200L), (base + 1L, 200L), (base + 64L, 200L))
      .toDF("doc_id", "n_tok")
    val got = graft.operators.Packing
      .packBins(docs, "doc_id", "n_tok", capacity = 256, groupSize = 64)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // base and base+1 share a bucket (bins 0 and 1 of it); base+64 opens the
    // NEXT bucket's bin 0 — distinct from both
    assert(got.length === 3)
    assert(got(0)._2 + 1 === got(1)._2, got.mkString(","))
    assert(got(2)._2 != got(0)._2 && got(2)._2 != got(1)._2, got.mkString(","))
  }

  test("packing: binStats hand-computed — oversize bin contributes zero waste") {
    // bins (capacity 256): bin 0 fill 200 (2 docs), bin 1 fill 300 (1 oversize
    // doc), bin 2 fill 256 (1 doc). waste = (56 + 0 + 0) / (3*256)
    val packed = Seq(
      (1L, 100L, 0L), (2L, 100L, 0L), (3L, 300L, 1L), (4L, 256L, 2L)
    ).toDF("doc_id", "n_tokens", "bin_id")
    val r = graft.operators.Packing.binStats(packed, capacity = 256).head()
    assert(r.getLong(0) === 3L && r.getLong(1) === 4L)
    assert(r.getDouble(2) === (200.0 + 300.0 + 256.0) / 3.0)
    assert(r.getDouble(3) === 56.0 / (3.0 * 256.0))
  }

  test("packing: binStats composite bin key separates same bin_id across splits") {
    val packed = Seq(
      (1L, 100L, 0L, "train"), (2L, 100L, 0L, "test")
    ).toDF("doc_id", "n_tokens", "bin_id", "split")
    val r = graft.operators.Packing
      .binStats(packed, capacity = 256, binCols = Seq("split", "bin_id")).head()
    assert(r.getLong(0) === 2L, "two splits' bin 0 must be two bins")
  }

  test("packing: group ids never collide across groups") {
    val docs = (0L until 200L).map(i => (i, 200L)).toDF("doc_id", "n_tok")
    val packed = graft.operators.Packing
      .packBins(docs, "doc_id", "n_tok", capacity = 256, groupSize = 10)
    // 200-token docs → every doc its own bin; all 200 bin ids distinct
    assert(packed.select("bin_id").distinct().count() === 200L)
  }

  // ---- stratified sampling --------------------------------------------------

  test("sampling: rate thresholds are the exact hex cut points") {
    assert(Curation.rateThresholdHex(0.05) === "0ccccc")
    assert(Curation.rateThresholdHex(0.2) === "333333")
    assert(Curation.rateThresholdHex(0.0) === "000000")
    // 1.0 must select EVERYTHING: "g" sorts after every hex bucket, while
    // the naive 7-char "1000000" would sort before "2…"–"f…" buckets
    assert(Curation.rateThresholdHex(1.0) === "g")
    val all = Seq(1L -> "x", 2L -> "y").toDF("doc_id", "text")
    assert(all.filter(Curation.sampleHit(col("text"),
      lit(Curation.rateThresholdHex(1.0)))).count() === 2L)
  }

  test("sampling: realized rate tracks the requested rate and reruns identically") {
    val docs = (1 to 5000).map(i => (i.toLong, s"text body number $i here"))
      .toDF("doc_id", "text")
    val hit = Curation.sampleHit(col("text"), lit(Curation.rateThresholdHex(0.1)))
    val n = docs.filter(hit).count()
    assert(n > 380 && n < 620, s"10% of 5000 sampled as $n") // ±~3.5σ
    assert(docs.filter(hit).count() === n)
  }

  test("sampling: salted domain is independent of the split buckets") {
    val docs = (1 to 3000).map(i => (i.toLong, s"independent doc $i payload"))
      .toDF("doc_id", "text")
    val sampled = docs
      .filter(Curation.sampleHit(col("text"), lit(Curation.rateThresholdHex(0.2))))
      .select(Curation.splitAssign(col("text")).as("split"))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // an unsalted rate-0.05 sample would nest entirely inside the test
    // split; the salted sample must instead hit all three splits in rough
    // proportion
    assert(sampled.keySet === Set("train", "val", "test"), sampled)
    assert(sampled("train") > sampled("val") && sampled("train") > sampled("test"))
  }

  // ---- end-to-end pipeline --------------------------------------------------

  test("curation pipeline: monotone stage counts, split-partitioned write, idempotent rerun") {
    val root = java.nio.file.Files.createTempDirectory("curate").toString
    val store = new graft.io.TableStore(spark, root)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val c1 = CuratePipeline.run(spark, docs, store)
    assert(c1.input === 500L)
    assert(c1.gated <= c1.input && c1.deduped <= c1.gated &&
      c1.decontaminated <= c1.deduped && c1.written === c1.decontaminated)
    // the gate really fires on this corpus: langId PREDICTS en for most
    // synthetic docs (they all carry English stopwords), so the drops are
    // the genuinely non-en-predicted / low-quality / duplicate tail (~7%)
    assert(c1.gated < c1.input)
    val out = store.read("curated_corpus")
    val splits = out.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"), splits)
    // split is a PARTITION column nested under the doc_id key buckets: the
    // directory layout carries both (buckets = the ingest rewrite unit,
    // split = the training-read pruning unit)
    val corpusDirs = new java.io.File(s"$root/curated_corpus").listFiles
      .filter(_.getName.startsWith("__kb="))
    assert(corpusDirs.nonEmpty, "corpus must carry the keyed layout")
    assert(corpusDirs.exists(d => new java.io.File(d, "split=train").isDirectory))
    // the decontamination screen really closed the boundary: no train doc
    // shares an 8-gram with any stored eval doc (the synthetic corpus is
    // PII-free, so the stored text is byte-identical to what was screened)
    val leaks = Decontamination.sharedShingleCounts(
      out.filter(col("split") === "train"), out.filter(col("split") =!= "train"),
      "doc_id", "text", Curation.DeconNgram).count()
    assert(leaks === 0L, "train/eval 8-gram overlap must be zero after the screen")
    // packing: every curated doc lands in exactly one bin OF ITS OWN SPLIT,
    // and the logged bin stats describe the stored bins
    val bins = store.read("curated_bins")
    assert(bins.count() === c1.written)
    val crossSplit = bins.select(col("doc_id"), col("split").as("bin_split"))
      .join(out.select("doc_id", "split"), Seq("doc_id"))
      .filter(col("bin_split") =!= col("split")).count()
    assert(crossSplit === 0L)
    assert(c1.nBins === bins.select("split", "bin_id").distinct().count())
    assert(c1.binWasteFrac >= 0.0 && c1.binWasteFrac < 1.0, c1.binWasteFrac)
    // both tables carry exactly THIS run's generation stamp
    assert(out.select("run_ts").distinct().count() === 1L)
    assert(bins.select("run_ts").distinct().count() === 1L)
    assert(CuratePipeline.checkGenerationParity(store) ===
      Some(out.select("run_ts").head().getString(0)))
    // rerun: deterministic counts, overwrite-idempotent corpus, append-only log
    val c2 = CuratePipeline.run(spark, docs, store)
    assert(c2 === c1)
    assert(store.read("curated_corpus").count() === c1.written)
    val log = store.read("curation_log")
    assert(log.count() === 2L)
    assert(log.select("status").collect().forall(_.getString(0) === "success"))
    // the run log carries the packing observability fields
    val lr = log.orderBy(col("run_ts").desc).head()
    assert(lr.getAs[Long]("n_bins") === c1.nBins)
    assert(lr.getAs[Double]("bin_waste_frac") === c1.binWasteFrac)
    assert(lr.getAs[Long]("n_decontaminated") === c1.decontaminated)
  }

  test("curation pipeline: sampleRate thins every split, counts stay monotone") {
    val root = java.nio.file.Files.createTempDirectory("curate_sample").toString
    val store = new graft.io.TableStore(spark, root)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val full = CuratePipeline.run(spark, docs, store)
    val sampled = CuratePipeline.run(spark, docs, store, sampleRate = 0.5)
    // sampling happens AFTER decontamination: upstream counts are identical,
    // the written corpus is the deterministic ~half
    assert(sampled.gated === full.gated && sampled.deduped === full.deduped &&
      sampled.decontaminated === full.decontaminated)
    assert(sampled.written < full.written && sampled.written > 0L)
    assert(sampled.written.toDouble / full.written.toDouble > 0.3 &&
      sampled.written.toDouble / full.written.toDouble < 0.7)
    // rerun at the same rate is bit-identical (content-hash determinism)
    assert(CuratePipeline.run(spark, docs, store, sampleRate = 0.5) === sampled)
    intercept[IllegalArgumentException] {
      CuratePipeline.run(spark, docs, store, sampleRate = 0.0)
    }
  }

  test("curation pipeline: fan-out-capped dedup reaches the identical curated corpus") {
    val rootA = java.nio.file.Files.createTempDirectory("curate_uncapped").toString
    val rootB = java.nio.file.Files.createTempDirectory("curate_capped").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val full = CuratePipeline.run(spark, docs, new graft.io.TableStore(spark, rootA))
    val capped = CuratePipeline.run(spark, docs, new graft.io.TableStore(spark, rootB),
      dedupNeighborCap = 2)
    // this corpus's near-dup clusters are genuine (mutually similar), so the
    // rank-chain candidates must reach the same survivors doc-for-doc
    assert(capped === full)
    val a = new graft.io.TableStore(spark, rootA).read("curated_corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = new graft.io.TableStore(spark, rootB).read("curated_corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("curation pipeline: source screen drops a mixed spam domain wholesale") {
    val rootA = java.nio.file.Files.createTempDirectory("curate_nosrc").toString
    val rootB = java.nio.file.Files.createTempDirectory("curate_src").toString
    // real corpus (source shares 0.36–0.76 at this SF, all clear a 0.3 bar)
    // + a planted spam-farm source mixing 10 docs that PASS the per-doc gate
    // with 30 junk docs: share 10/40 = 0.25 < 0.3 — the cut only the
    // domain-level screen can make, per-doc gating keeps the 10
    import spark.implicits._
    def passing(i: Int) =
      s"the curious reader number $i walks into a quiet library and finds a " +
        s"shelf of rare maps. each map shows a valley river mountain and coast " +
        s"that nobody visited since $i long years."
    val spam =
      ((1 to 10).map(i => (90000L + i, passing(i), "en", "spamfarm", 150L)) ++
        (11 to 40).map(i => (90000L + i, s"buy now offer$i", "en", "spamfarm", 15L)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents").unionByName(spam)
    val off = CuratePipeline.run(spark, docs, new graft.io.TableStore(spark, rootA))
    val on = CuratePipeline.run(spark, docs, new graft.io.TableStore(spark, rootB),
      minSourceGoodShare = 0.3)
    assert(on.input === off.input) // screen applies after the input count
    assert(on.gated < off.gated) // the gate-passing spam docs are gone
    val srcDocs = (root: String) => new graft.io.TableStore(spark, root)
      .read("curated_corpus").filter(col("source") === "spamfarm").count()
    assert(srcDocs(rootA) > 0L, "without the screen, gate-passing spam docs reach the corpus")
    assert(srcDocs(rootB) === 0L, "the screen removes the source wholesale")
    val keptSources = new graft.io.TableStore(spark, rootB).read("curated_corpus")
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(keptSources.nonEmpty && !keptSources.contains("spamfarm"), keptSources)
    // enabling the screen without the column is a contract violation
    intercept[IllegalArgumentException] {
      CuratePipeline.run(spark, docs.drop("source"),
        new graft.io.TableStore(spark, rootA), minSourceGoodShare = 0.3)
    }
  }

  test("curation pipeline: stage-0c span scrub cuts the repeated span, logs the audit count") {
    val rootOff = java.nio.file.Files.createTempDirectory("curate_nospan").toString
    val rootOn = java.nio.file.Files.createTempDirectory("curate_span").toString
    import spark.implicits._
    // two DISTINCT gate-passing docs embedding the same 6-token run mid-line
    // (template chrome the line- and document-level screens can't see: the
    // docs aren't near-dups and the span never spans a full line)
    val span = "subscribe to our weekly newsletter today"
    def carrier(i: Int, pre: String, post: String) =
      s"$pre number $i $span $post and the story continues with calm rivers " +
        s"and old bridges that the travelers crossed on day $i of the journey"
    val planted = Seq(
      (80001L, carrier(1, "the lighthouse keeper wrote a letter", "before the storm"), "en", "web", 160L),
      (80002L, carrier(2, "a gardener catalogued the spring flowers", "after the rain"), "en", "web", 160L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents").unionByName(planted)
    val off = CuratePipeline.run(spark, docs, new graft.io.TableStore(spark, rootOff))
    val on = CuratePipeline.run(spark, docs, new graft.io.TableStore(spark, rootOn),
      spanScrubN = 6, spanMinDocs = 2L)
    // off is the default: no tokens cut, field logged as 0
    assert(off.spanRemoved === 0L)
    val offLog = new graft.io.TableStore(spark, rootOff).read("curation_log").head()
    assert(offLog.getAs[Long]("n_span_removed") === 0L)
    // on: the scrub fired (the planted span alone guarantees >= 6 cut tokens)
    // and the run log carries the audit count
    assert(on.spanRemoved >= 6L, s"span scrub did not fire: ${on.spanRemoved}")
    assert(on.input === off.input, "the scrub is row-preserving")
    val onLog = new graft.io.TableStore(spark, rootOn).read("curation_log")
      .orderBy(col("run_ts").desc).head()
    assert(onLog.getAs[Long]("n_span_removed") === on.spanRemoved)
    // all-but-one: exactly one planted carrier keeps the span; the stored
    // text is the kernel's normalized (lowercased single-space) stream
    val stored = new graft.io.TableStore(spark, rootOn).read("curated_corpus")
      .filter(col("doc_id") >= 80000L)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    if (stored.size == 2) { // both survived the downstream gates
      val withSpan = stored.count(_._2.contains(span))
      assert(withSpan === 1, s"all-but-one violated: $stored")
    } else assert(stored.values.forall(t => t == t.toLowerCase), stored)
    // determinism: rerun with the scrub reproduces the counts exactly
    assert(CuratePipeline.run(spark, docs,
      new graft.io.TableStore(spark, rootOn), spanScrubN = 6, spanMinDocs = 2L) === on)
  }

  test("curation pipeline: stage-0a normalization stores canonical bytes, batch and ingest alike") {
    import spark.implicits._
    // a gate-passing doc carrying an NFD sequence (e + combining acute) and
    // a stray control char — exactly what stage 0a exists to canonicalize
    val dirty = "the cafe\u0301 on the corner\u0007 served warm bread " +
      "and the travelers rested there. the evening was calm and the road " +
      "was long but the stories were good ones to tell again."
    val planted = Seq((81001L, dirty, "en", "web", dirty.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .unionByName(planted)
    val rootOff = java.nio.file.Files.createTempDirectory("curate_nonorm").toString
    val rootOn = java.nio.file.Files.createTempDirectory("curate_norm").toString
    val off = CuratePipeline.run(spark, docs, new graft.io.TableStore(spark, rootOff))
    val on = CuratePipeline.run(spark, docs, new graft.io.TableStore(spark, rootOn),
      normalizeText = true)
    assert(on.input === off.input, "normalization is row-preserving")
    def stored(root: String) = new graft.io.TableStore(spark, root)
      .read("curated_corpus").filter(col("doc_id") === 81001L)
      .select("text").collect().map(_.getString(0))
    // off: the raw bytes survive to storage; on: NFC + control-stripped
    assert(stored(rootOff).forall(t =>
      t.contains("e\u0301") && t.contains("\u0007")))
    assert(stored(rootOn).forall(t =>
      t.contains("caf\u00e9") && !t.contains("\u0007") &&
        !t.contains("e\u0301")))
    // ingest parity: a novel dirty doc upserted through the normalizing
    // ingest path lands canonical too
    val batch = Seq((81002L,
      "a completely different page about winter harbors\u0007 and cafe\u0301 " +
        "lanterns that the sailors described in long letters home. the wind " +
        "was cold but the talk was warm and it lasted all night.",
      "en", "web", 150L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val store = new graft.io.TableStore(spark, rootOn)
    val c = CuratePipeline.ingestBatch(spark, batch, store, normalizeText = true)
    assert(c.upserted === 1L, s"novel doc must land: $c")
    val t2 = store.read("curated_corpus").filter(col("doc_id") === 81002L)
      .select("text").head().getString(0)
    assert(t2.contains("caf\u00e9") && !t2.contains("\u0007") &&
      !t2.contains("e\u0301"))
  }

  test("curation pipeline: C4 and unigram-LM screens are live dials") {
    import spark.implicits._
    val sent = "this sentence has enough words to pass the line filter."
    // three distinct multi-line pages that pass C4 (3 good lines each) AND
    // the q41 gate (English stopwords, length, punctuation)
    def page(i: Int, theme: String) =
      s"the $theme report number $i was written with care and detail.\n" +
        s"$sent\nthe findings of study $i are clear to the reader and the board."
    val pages = Seq(
      (81001L, page(1, "harbor"), "en", "web", 200L),
      (81002L, page(2, "forest"), "en", "web", 200L),
      (81003L, page(3, "railway"), "en", "web", 200L)).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents").unionByName(pages)

    // C4 on: the single-line punctuation-free real corpus fails wholesale,
    // only the planted pages survive the gate stage
    val rootC4 = java.nio.file.Files.createTempDirectory("curate_c4").toString
    val c4 = CuratePipeline.run(spark, docs, new graft.io.TableStore(spark, rootC4),
      c4MinGoodLines = 3)
    assert(c4.gated === 3L, s"only the planted pages pass C4: ${c4.gated}")
    val survivors = new graft.io.TableStore(spark, rootC4).read("curated_corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors.subsetOf(Set(81001L, 81002L, 81003L)) && survivors.nonEmpty)

    // unigram screen: a rule-gate-passing doc made almost entirely of
    // corpus-unseen tokens (ONE stopword for langId, a terminal period for
    // quality; every bigram unique so the repetition screen stays quiet)
    // scores far below every real doc; the threshold is self-calibrated as
    // the geometric mean of its score and the lowest real-doc score
    val garbled = (81010L,
      "the zxqa zxqb zxqc zxqd zxqe zxqf zxqg zxqh zxqi zxqj zxqk zxql " +
        "zxqm zxqn zxqo zxqp zxqq zxqr zxqs zxqt zxqu zxqv zxqw zxqx zxqy zxqz.",
      "en", "web", 130L)
    val docs2 = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .unionByName(Seq(garbled).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val scored = graft.operators.UnigramLm.score(
      docs2.select(col("doc_id"), col("text")), "doc_id", "text")
      .filter(col("mean_tok_prob").isNotNull)
    val gScore = scored.filter(col("doc_id") === 81010L).head().getDouble(4)
    val minReal = scored.filter(col("doc_id") =!= 81010L)
      .agg(min("mean_tok_prob")).head().getDouble(0)
    assert(gScore < minReal,
      s"fixture broken: garbled $gScore must score below every real doc ($minReal)")
    val mid = math.sqrt(gScore * minReal)
    val rootOff = java.nio.file.Files.createTempDirectory("curate_ug_off").toString
    val rootOn = java.nio.file.Files.createTempDirectory("curate_ug_on").toString
    val off = CuratePipeline.run(spark, docs2, new graft.io.TableStore(spark, rootOff))
    val on = CuratePipeline.run(spark, docs2, new graft.io.TableStore(spark, rootOn),
      unigramMinProb = mid)
    def hasGarbled(root: String): Boolean =
      new graft.io.TableStore(spark, root).read("curated_corpus")
        .filter(col("doc_id") === 81010L).count() === 1L
    assert(hasGarbled(rootOff), "without the screen the garbled doc passes the rule gate")
    assert(!hasGarbled(rootOn), "the unigram screen drops the rare-token doc")
    assert(on.gated === off.gated - 1L, "exactly the garbled doc is cut")
    intercept[IllegalArgumentException] {
      CuratePipeline.run(spark, docs2, new graft.io.TableStore(spark, rootOn),
        unigramMinProb = 1.0)
    }
  }

  test("entropy screen: a repetitive low-information doc is cut only when the dial is on") {
    import spark.implicits._
    // low-information doc the RULE screens cannot catch: a de Bruijn B(5,2)
    // walk over 5 token types visits every bigram exactly once (2-gram
    // top_frac 1/25, dup_frac 0 — the Gopher screen is structurally quiet)
    // yet the near-uniform 5-type distribution has entropy ≈ 2.32 bits,
    // below the real corpus floor (2.73 at sf0.001). Stopword types keep
    // langId/quality happy; the terminal period follows the q74 fixture.
    val syms = Array("the", "and", "for", "zxqa", "zxqb")
    val debruijn = Seq(0, 0, 1, 0, 2, 0, 3, 0, 4, 1, 1, 2, 1, 3, 1, 4, 2, 2,
      3, 2, 4, 3, 3, 4, 4, 0).map(syms)
    val cycle = debruijn.mkString(" ") + "."
    val repetitiveDoc = (82010L, cycle, "en", "web", cycle.length.toLong)
    val docs2 = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .unionByName(Seq(repetitiveDoc).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val ent = UnigramLm.tokenEntropy(docs2.select(col("doc_id"), col("text")))
      .filter(col("entropy").isNotNull)
    val rScore = ent.filter(col("doc_id") === 82010L).head().getDouble(3)
    val minReal = ent.filter(col("doc_id") =!= 82010L)
      .agg(min("entropy")).head().getDouble(0)
    assert(rScore < minReal,
      s"fixture broken: cycle doc $rScore must score below every real doc ($minReal)")
    val mid = (rScore + minReal) / 2.0
    val rootOff = java.nio.file.Files.createTempDirectory("curate_ent_off").toString
    val rootOn = java.nio.file.Files.createTempDirectory("curate_ent_on").toString
    val off = CuratePipeline.run(spark, docs2, new graft.io.TableStore(spark, rootOff))
    val on = CuratePipeline.run(spark, docs2, new graft.io.TableStore(spark, rootOn),
      entropyMinBits = mid)
    def hasCycle(root: String): Boolean =
      new graft.io.TableStore(spark, root).read("curated_corpus")
        .filter(col("doc_id") === 82010L).count() === 1L
    assert(hasCycle(rootOff), "without the screen the cycle doc passes the rule gate")
    assert(!hasCycle(rootOn), "the entropy screen drops the repetitive doc")
    assert(on.gated === off.gated - 1L, "exactly the cycle doc is cut")
    intercept[IllegalArgumentException] {
      CuratePipeline.run(spark, docs2, new graft.io.TableStore(spark, rootOn),
        entropyMinBits = -1.0)
    }
  }

  test("ingest gate dials: c4 / corpus-reference unigram / entropy screens mirror run()") {
    import spark.implicits._
    def freshStore(): graft.io.TableStore = {
      val root = java.nio.file.Files.createTempDirectory("ingest_dials").toString
      val store = new graft.io.TableStore(spark, root)
      CuratePipeline.run(spark,
        Tables.load(spark, "/root/testdata/sf0.001", "documents"), store)
      store
    }
    val good = (95001L,
      "a careful librarian rebuilt the index of maps and charts after the " +
        "flood season and noted every missing folio in the margins of the register.",
      "en", "web", 150L)
    val garbled = (95002L,
      "the bzkqa bzkqb bzkqc bzkqd bzkqe bzkqf bzkqg bzkqh bzkqi bzkqj bzkqk " +
        "bzkql bzkqm bzkqn bzkqo bzkqp bzkqq bzkqr bzkqs bzkqt bzkqu bzkqv bzkqw bzkqx bzkqy.",
      "en", "web", 140L)
    val syms = Array("the", "and", "for", "qqza", "qqzb")
    val debruijn = (95003L,
      Seq(0, 0, 1, 0, 2, 0, 3, 0, 4, 1, 1, 2, 1, 3, 1, 4, 2, 2, 3, 2, 4, 3,
        3, 4, 4, 0).map(syms).mkString(" ") + ".",
      "en", "web", 110L)
    val batch = Seq(good, garbled, debruijn)
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    // dials off: all three pass the base screens and upsert
    val off = CuratePipeline.ingestBatch(spark, batch, freshStore())
    assert(off.upserted === 3L, s"fixture must pass the base gates (got $off)")

    // calibrate thresholds exactly as an operator would: against the corpus
    val store2 = freshStore()
    val corpus = store2.read("curated_corpus")
    val (freq, nTotal) = graft.operators.UnigramLm.stats(corpus, "text")
    val scored = graft.operators.UnigramLm.scoreAgainst(
      batch.select(col("doc_id"), col("text")), "doc_id", "text", freq, nTotal)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(scored(95002L) < scored(95001L) && scored(95002L) < scored(95003L),
      s"garbled must score lowest vs the corpus reference ($scored)")
    val uniMid = math.sqrt(scored(95002L) * (scored - 95002L).values.min)
    val ent = UnigramLm.tokenEntropy(batch.select(col("doc_id"), col("text")))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ent(95003L) < ent(95001L) && ent(95003L) < ent(95002L),
      s"de Bruijn doc must have the lowest entropy ($ent)")
    val entMid = (ent(95003L) + (ent - 95003L).values.min) / 2.0

    // dials on: only the good doc survives — unigram cuts the garbled doc,
    // entropy cuts the de Bruijn doc, c4 stays satisfied by all (each text
    // is one well-formed line, the planted cuts are NOT c4's)
    val on = CuratePipeline.ingestBatch(spark, batch, store2,
      c4MinGoodLines = 1, unigramMinProb = uniMid, entropyMinBits = entMid)
    assert(on.gated === 1L && on.upserted === 1L, s"expected only the good doc ($on)")
    assert(store2.read("curated_corpus").filter(col("doc_id") === 95001L).count() === 1L)
    assert(store2.read("curated_corpus")
      .filter(col("doc_id").isin(95002L, 95003L)).count() === 0L)
  }

  test("incremental ingest: gate, self-dedup, corpus screen, decon, upsert — and a rerun is a no-op") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ingest").toString
    val store = new graft.io.TableStore(spark, root)
    CuratePipeline.run(spark,
      Tables.load(spark, "/root/testdata/sf0.001", "documents"), store)
    val corpus0 = store.read("curated_corpus")
    val gen0 = corpus0.select("run_ts").distinct().head().getString(0)
    val n0 = corpus0.count()
    val storedText = corpus0.orderBy("doc_id").select("text").head().getString(0)

    val f3 = "the orchard keeper wrote careful notes about apple blossoms and " +
      "spring frost while the village prepared baskets for the harvest fair of year three."
    val f5 = "a mountain guide counted seventeen switchbacks on the northern trail " +
      "and marked each water source on a hand drawn map for the summer crossing."
    val batch = Seq(
      (9500001L, storedText, "en", "web", 200L),                  // exact re-ingest
      (9500002L, storedText + " extra tail words here", "en", "web", 210L), // near-dup of stored (and of 9500001 — collapses with it in-batch)
      (9500003L, f3, "en", "web", 180L),                          // genuinely new → upserted
      (9500004L, "buy now offer", "en", "web", 13L),              // junk → gate
      (9500005L, f5, "en", "web", 180L),                          // within-batch pair, min id kept
      (9500006L, f5 + " appendix", "en", "web", 190L)             // …its near-dup, dropped
    ).toDF("doc_id", "text", "lang", "source", "n_chars")

    val c = CuratePipeline.ingestBatch(spark, batch, store)
    assert(c.batchIn === 6L)
    assert(c.gated === 5L, s"junk must fall at the gate: $c")
    // {9500001, 9500002} and {9500005, 9500006} each collapse to their min id
    assert(c.selfDeduped === 3L, s"within-batch near-dups must collapse: $c")
    assert(c.corpusScreened === 2L, s"the stored re-ingest must be screened: $c")
    assert(c.decontaminated === 2L && c.upserted === 2L, s"$c")
    val after = store.read("curated_corpus")
    assert(after.count() === n0 + 2L)
    val newIds = after.filter(col("doc_id") >= 9500000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(newIds === Set(9500003L, 9500005L))
    // generation parity survives ingest: still ONE run_ts, the corpus's own
    assert(after.select("run_ts").distinct().collect().map(_.getString(0)).toSeq === Seq(gen0))
    assert(CuratePipeline.checkGenerationParity(store) === Some(gen0))
    // the ingest is logged with its own timestamp
    val lastLog = store.read("curation_log").orderBy(col("run_ts").desc).head()
    assert(lastLog.getAs[String]("status") === "ingest")
    assert(lastLog.getAs[Long]("n_written") === 2L)
    // re-ingesting the same batch: the two earlier survivors now carry
    // STORED ids, so the corpus screen's same-id exemption routes them to
    // the upsert (identical content — the table is unchanged), while the
    // cross-id re-ingest of stored content is still screened out
    val c2 = CuratePipeline.ingestBatch(spark, batch, store)
    assert(c2.corpusScreened === 2L, s"same-id rows are corrections, not dups: $c2")
    assert(c2.upserted === 2L, s"corrections reach the upsert: $c2")
    val after2 = store.read("curated_corpus")
    assert(after2.count() === n0 + 2L, "idempotent: identical content replaced in place")
    assert(after2.select("run_ts").distinct().collect().map(_.getString(0)).toSeq === Seq(gen0))

    // an actual CORRECTION: same doc_id, small edit — the exact case the
    // asymmetric screen must NOT swallow. The stored row's text updates.
    val corrected = f3.replace("year three", "year four")
    val fix = Seq((9500003L, corrected, "en", "web", 180L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val c3 = CuratePipeline.ingestBatch(spark, fix, store)
    assert(c3.upserted === 1L, s"the correction must land: $c3")
    val storedFixed = store.read("curated_corpus")
      .filter(col("doc_id") === 9500003L).select("text").collect().map(_.getString(0))
    assert(storedFixed.length === 1 && storedFixed.head.contains("year four"),
      s"stored row must carry the corrected text: ${storedFixed.toSeq}")
    assert(store.read("curated_corpus").count() === n0 + 2L,
      "a correction replaces, never adds")
  }

  test("curation pipeline: semDedup stage collapses embedding near-dups in batch and ingest alike") {
    import spark.implicits._
    // three gate-passing planted docs: 82001/82002 are semantic near-dups
    // (cosine ~0.999), 82003 is orthogonal; real docs carry NULL vectors
    // and must pass through unjudged (the must-surface policy)
    val planted = Seq(
      (82001L, "the harbor master logged every arriving vessel with care and " +
        "noted the evening tide tables for the pilots of the bay.",
        "en", "web", 200L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (82002L, "the busy harbor office recorded each arriving ship precisely and " +
        "kept the nightly tide charts ready for the local pilots.",
        "en", "web", 200L, Seq(0.999f, 0.045f, 0.0f, 0.0f)),
      (82003L, "a quiet mountain observatory measured the winter snowfall and " +
        "reported the weekly totals to the valley stations below.",
        "en", "web", 200L, Seq(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("doc_id", "text", "lang", "source", "n_chars", "embedding")
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("embedding", lit(null).cast("array<float>"))
      .unionByName(planted)

    val rootOff = java.nio.file.Files.createTempDirectory("semdd_off").toString
    val rootOn = java.nio.file.Files.createTempDirectory("semdd_on").toString
    val off = CuratePipeline.run(spark, docs, new graft.io.TableStore(spark, rootOff))
    val on = CuratePipeline.run(spark, docs, new graft.io.TableStore(spark, rootOn),
      semDedupThreshold = 0.99, semDedupClusters = 2)
    assert(on.deduped === off.deduped - 1L,
      s"exactly the semantic dup must fall: on=$on off=$off")
    def ids(root: String): Set[Long] =
      new graft.io.TableStore(spark, root).read("curated_corpus")
        .filter(col("doc_id") >= 82000L).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    assert(ids(rootOff) === Set(82001L, 82002L, 82003L))
    assert(ids(rootOn) === Set(82001L, 82003L),
      "min doc_id canonical survives; the orthogonal and null-vector docs are untouched")
    // the embedding column rides into the stored corpus (ANN-ready)
    assert(new graft.io.TableStore(spark, rootOn).read("curated_corpus")
      .columns.contains("embedding"))
    // threshold without the column fails eagerly
    intercept[IllegalArgumentException] {
      CuratePipeline.run(spark,
        Tables.load(spark, "/root/testdata/sf0.001", "documents"),
        new graft.io.TableStore(spark, rootOn), semDedupThreshold = 0.99)
    }

    // ingest parity: the same trio as an INCREMENTAL batch against a corpus
    // built without them — the within-batch stage makes the same call
    val rootBase = java.nio.file.Files.createTempDirectory("semdd_base").toString
    val baseStore = new graft.io.TableStore(spark, rootBase)
    CuratePipeline.run(spark,
      Tables.load(spark, "/root/testdata/sf0.001", "documents"), baseStore)
    val c = CuratePipeline.ingestBatch(spark, planted, baseStore,
      semDedupThreshold = 0.99, semDedupClusters = 2)
    assert(c.gated === 3L, s"all planted docs pass the gate: $c")
    assert(c.selfDeduped === 2L, s"the ingest stage collapses the same pair: $c")
    val ingested = baseStore.read("curated_corpus")
      .filter(col("doc_id") >= 82000L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ingested === Set(82001L, 82003L), s"parity with the batch path: $ingested")
  }

  test("keyed upsert: untouched bucket dirs are physically untouched; merge, idempotence, null-safety hold") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("kb_upsert").toString
    val store = new graft.io.TableStore(spark, root)
    val nBuckets = 8
    val base = (1 to 200).map(i =>
      (Some(i.toLong), s"v$i", if (i % 10 == 0) "val" else "train")) :+
      ((None: Option[Long], "null-v1", "train"))
    store.overwriteKeyed("docs", base.toDF("doc_id", "text", "split"),
      Seq("doc_id"), nBuckets, Seq("split"))
    assert(store.keyedBuckets("docs") === Some(nBuckets))
    // the logical read hides the layout column and sees every row
    val r0 = store.read("docs")
    assert(!r0.columns.contains("__kb") && r0.count() === 201L)
    // split stays a partition column UNDER the buckets (ADVICE r10: the
    // upsert path must not flatten the documented partition layout)
    val splitDirs = new java.io.File(root, "docs").listFiles
      .filter(_.getName.startsWith("__kb=")).flatMap(_.listFiles)
      .map(_.getName).toSet
    assert(splitDirs.exists(_.startsWith("split=")), s"split dirs missing: $splitDirs")

    def snapshot(): Map[String, Set[(String, Long, Long)]] =
      new java.io.File(root, "docs").listFiles
        .filter(_.getName.startsWith("__kb=")).map { d =>
          def walk(f: java.io.File): Seq[java.io.File] =
            if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
          d.getName -> walk(d)
            .map(f => (f.getPath.stripPrefix(d.getPath), f.length, f.lastModified))
            .toSet
        }.toMap
    val before = snapshot()

    val batch = Seq(
      (Some(5L), "v5-corrected", "train"),
      (Some(1000L), "brand-new", "val"),
      (None: Option[Long], "null-v2", "train")).toDF("doc_id", "text", "split")
    val touched = batch
      .select(pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)).cast("int").as("b"))
      .distinct().collect().map(r => s"__kb=${r.getInt(0)}").toSet
    store.upsertKeyed("docs", batch, Seq("doc_id"), nBuckets, Seq("split"))

    val after = snapshot()
    val untouchedDirs = before.keySet -- touched
    assert(untouchedDirs.nonEmpty, "fixture must leave some buckets untouched")
    untouchedDirs.foreach { d =>
      assert(after(d) === before(d), s"untouched bucket $d was rewritten")
    }
    touched.foreach { d =>
      assert(after.get(d).exists(_ != before.getOrElse(d, Set.empty)),
        s"touched bucket $d must carry a new generation")
    }
    def snap(): Set[(Option[Long], String, String)] =
      store.read("docs").collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1), r.getString(2))).toSet
    val want = (1 to 200).filterNot(_ == 5).map(i =>
      (Some(i.toLong): Option[Long], s"v$i", if (i % 10 == 0) "val" else "train")).toSet ++
      Set((Some(5L) : Option[Long], "v5-corrected", "train"),
        (Some(1000L): Option[Long], "brand-new", "val"),
        (None: Option[Long], "null-v2", "train"))
    assert(snap() === want)
    // idempotent: the same batch again reproduces the identical table
    store.upsertKeyed("docs", batch, Seq("doc_id"), nBuckets, Seq("split"))
    assert(snap() === want)
    // a mismatched bucket count must fail loudly, not corrupt routing
    val e = intercept[IllegalArgumentException] {
      store.upsertKeyed("docs", batch, Seq("doc_id"), nBuckets * 2, Seq("split"))
    }
    assert(e.getMessage.contains("buckets"), e.getMessage)
    // empty batch: a no-op, no dirs touched
    val beforeEmpty = snapshot()
    store.upsertKeyed("docs", batch.limit(0), Seq("doc_id"), nBuckets, Seq("split"))
    assert(snapshot() === beforeEmpty)
  }

  test("keyed upsert: legacy flat table migrates to the keyed layout in one merge-rewrite") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("kb_migrate").toString
    val store = new graft.io.TableStore(spark, root)
    store.overwrite("docs", Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    assert(store.keyedBuckets("docs") === None)
    store.upsertKeyed("docs", Seq((2L, "b2"), (3L, "c")).toDF("doc_id", "text"),
      Seq("doc_id"), 4)
    assert(store.keyedBuckets("docs") === Some(4))
    assert(store.read("docs").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("keyed upsert: an interrupted bucket swap is recovered before the next upsert") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("kb_crash").toString
    val store = new graft.io.TableStore(spark, root)
    store.overwriteKeyed("docs",
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("doc_id", "text"), Seq("doc_id"), 4)
    // simulate a crash BETWEEN retire and promote: one live bucket sits only
    // under a retired root
    val docsDir = new java.io.File(root, "docs")
    val aBucket = docsDir.listFiles.filter(_.getName.startsWith("__kb=")).head
    val retiredRoot = new java.io.File(root, "docs__kb_retired_00000000000000000001")
    assert(retiredRoot.mkdirs())
    val moved = new java.io.File(retiredRoot, aBucket.getName)
    assert(aBucket.renameTo(moved), s"could not stage crash fixture for $aBucket")
    // next upsert first restores the bucket, then merges normally
    store.upsertKeyed("docs", Seq((1L, "v1-fixed")).toDF("doc_id", "text"),
      Seq("doc_id"), 4)
    assert(!retiredRoot.exists, "retired root must be swept after recovery")
    val rows = store.read("docs").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === ((2 to 50).map(i => (i.toLong, s"v$i")).toSet + ((1L, "v1-fixed"))),
      "no row may be lost across the recovered swap")
  }

  test("generation parity: cross-table run_ts skew is detected at read time") {
    val root = java.nio.file.Files.createTempDirectory("curate_parity").toString
    val store = new graft.io.TableStore(spark, root)
    CuratePipeline.run(spark, Tables.load(spark, "/root/testdata/sf0.001", "documents"), store)
    assert(CuratePipeline.checkGenerationParity(store).nonEmpty)
    // simulate a crash between the two writes: bins end up from another run
    val skewed = store.read("curated_bins").withColumn("run_ts", lit("run-tampered"))
    store.overwritePartitioned("curated_bins", skewed, Seq("split"))
    val e = intercept[IllegalArgumentException] {
      CuratePipeline.checkGenerationParity(store)
    }
    assert(e.getMessage.contains("generation skew"), e.getMessage)
  }

  test("curation pipeline: deconMaxShingleDf is the operator's leak/boilerplate dial") {
    import org.apache.spark.sql.functions.{col => c}
    // two DISTINCT canonical train docs both embed the same 8-token eval
    // sentence (leak-shingle train DF = 2); with the cap at 1 the screen
    // whitelists it as "boilerplate", with the default cap it drops both.
    // The carriers are topically distinct prose (3-gram Jaccard far below
    // the 0.5 near-dup gate, so stage 2 cannot collapse them) whose md5
    // buckets deterministically place t1/t2 in train and t3 in val.
    val leak = "secret benchmark answer sequence alpha beta gamma delta"
    val t1 = "the committee reviewed the annual water quality findings and noted " +
      s"that the $leak appeared in the appendix of the published report"
    val t2 = "during the winter hiking trip our guide recited the " +
      s"$leak while we crossed the frozen ridge above the quiet valley"
    val t3 = s"a student of music theory once wrote the $leak into the margin " +
      "of an old songbook about island harvest festivals note 8"
    val planted = Seq(5001L -> t1, 5002L -> t2, 5003L -> t3).toDF("doc_id", "text")
    val placements = planted
      .select(c("doc_id"), Curation.splitAssign(c("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(placements === Map(5001L -> "train", 5002L -> "train", 5003L -> "val"),
      s"carrier split placement drifted: $placements")
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(c("doc_id"), c("text")).unionAll(planted)
    val storeA = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("decon_default").toString)
    val storeB = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("decon_capped").toString)
    CuratePipeline.run(spark, docs, storeA)
    CuratePipeline.run(spark, docs, storeB, deconMaxShingleDf = 1L)
    def trainSurvivors(s: graft.io.TableStore): Set[Long] =
      s.read("curated_corpus").filter(c("doc_id") >= 5000L && c("split") === "train")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // default cap (1000): leak DF 2 <= cap -> flagged, both train docs drop;
    // cap=1: DF 2 > 1 -> whitelisted as boilerplate, both survive
    assert(trainSurvivors(storeA) === Set.empty[Long],
      "default cap must drop the leaky train docs")
    assert(trainSurvivors(storeB) === Set(5001L, 5002L),
      "an over-tight cap whitelists the leak — the dial is live")
  }

  test("generation parity: a populated pre-stamp table fails, it is not 'empty'") {
    // tables written WITHOUT run_ts (a pre-upgrade engine) must be rejected:
    // silently treating them as empty generations would pass the exact
    // cross-table skew the check exists to catch
    val root = java.nio.file.Files.createTempDirectory("curate_prestamp").toString
    val store = new graft.io.TableStore(spark, root)
    store.overwritePartitioned("curated_corpus",
      Seq((1L, "train", "text a")).toDF("doc_id", "split", "text"), Seq("split"))
    store.overwritePartitioned("curated_bins",
      Seq((1L, "train", 0L)).toDF("doc_id", "split", "bin_id"), Seq("split"))
    val e = intercept[IllegalArgumentException] {
      CuratePipeline.checkGenerationParity(store)
    }
    assert(e.getMessage.contains("no run_ts column"), e.getMessage)
    // absent tables are still a legitimate empty state
    val empty = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("curate_absent").toString)
    assert(CuratePipeline.checkGenerationParity(empty) === None)
  }

  test("curation pipeline: stored splits agree with the q51 assignment doc-for-doc") {
    // regression lock for the scrub-then-split bug: the pipeline must assign
    // the split from the RAW text (what q51 and the q52 decontamination
    // screen hash), never from the scrubbed text it stores
    val root = java.nio.file.Files.createTempDirectory("curate_split").toString
    val store = new graft.io.TableStore(spark, root)
    // plant PII rows so scrubbing really changes bytes (the synthetic corpus
    // is PII-free, which is exactly why the original bug passed its E2E test)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      .unionAll(TextQueries.piiFixture(spark))
    CuratePipeline.run(spark, docs, store)
    val stored = store.read("curated_corpus").select("doc_id", "split")
    val q51 = docs.select(col("doc_id"),
      Curation.splitAssign(col("text")).as("q51_split"))
    val disagree = stored.join(q51, Seq("doc_id"))
      .filter(col("split") =!= col("q51_split")).count()
    assert(disagree === 0L)
    // and the planted PII rows really were scrubbed in the stored corpus
    val scrubbedRow = store.read("curated_corpus")
      .filter(col("doc_id") === 9000004L).select("text").collect()
    scrubbedRow.headOption.foreach(r =>
      assert(r.getString(0).contains("<EMAIL>") && r.getString(0).contains("<IP>")))
  }

  test("curation pipeline: empty input completes with zero counts, not a crash") {
    val root = java.nio.file.Files.createTempDirectory("curate_empty").toString
    val store = new graft.io.TableStore(spark, root)
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val c = CuratePipeline.run(spark, docs, store)
    assert(c.input === 0L && c.gated === 0L && c.written === 0L)
    assert(store.read("curation_log").head().getAs[String]("status") === "success")
  }

  test("curation pipeline: a failing stage still appends a failed log row") {
    val root = java.nio.file.Files.createTempDirectory("curate_fail").toString
    val store = new graft.io.TableStore(spark, root)
    val docs = Seq((1L, "x")).toDF("doc_id", "wrong_column")
    intercept[Exception] { CuratePipeline.run(spark, docs, store) }
    val log = store.read("curation_log")
    assert(log.count() === 1L)
    val row = log.head()
    assert(row.getAs[String]("status") === "failed")
    assert(row.getAs[Long]("n_input") === 1L) // how far the run got
    assert(row.getAs[String]("error").nonEmpty)
  }

  test("partitioned overwrite: a failed write leaves the previous generation readable") {
    val root = java.nio.file.Files.createTempDirectory("part_atomic").toString
    val store = new graft.io.TableStore(spark, root)
    store.overwritePartitioned("t", Seq((1L, "a"), (2L, "b")).toDF("id", "p"), Seq("p"))
    assert(store.read("t").count() === 2L)
    // a write that fails mid-plan (raise_error in the data) must not destroy
    // the live generation
    val poison = Seq((3L, "c")).toDF("id", "p")
      .withColumn("boom", when(col("id") > 0L,
        raise_error(lit("injected failure"))).otherwise(lit(1L)))
    intercept[Exception] { store.overwritePartitioned("t", poison, Seq("p")) }
    assert(store.read("t").count() === 2L, "previous generation must survive")
    // and no staging/retired garbage accumulates across the next overwrite
    store.overwritePartitioned("t", Seq((9L, "z")).toDF("id", "p"), Seq("p"))
    assert(store.read("t").count() === 1L)
    val leftovers = new java.io.File(root).listFiles()
      .map(_.getName).filter(n => n.contains("__part_"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("partitioned overwrite: crash recovery restores the numerically newest generation") {
    val root = java.nio.file.Files.createTempDirectory("part_crash").toString
    val store = new graft.io.TableStore(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    // generation 99 goes live, then the swap "crashes" BETWEEN its two
    // renames: live is gone, the data sits under a padded retired stamp
    store.overwritePartitioned("t", Seq((1L, "a"), (2L, "b")).toDF("id", "p"), Seq("p"))
    assert(fs.rename(p("t"), p("t__part_retired_00000000000000000099")))
    // decoy: an UNPADDED pre-padding-era stamp — lexicographically LARGER
    // ("9…" > "0…099") but numerically SMALLER; a string maxBy would restore
    // this stale generation instead of 99
    Seq((100L, "stale")).toDF("id", "p").write.parquet(s"$root/t__part_retired_9")
    // the next overwrite runs recovery first; poison its write stage so the
    // restored generation is observable (and must survive the failed write)
    val poison = Seq((3L, "c")).toDF("id", "p")
      .withColumn("boom", when(col("id") > 0L,
        raise_error(lit("injected failure"))).otherwise(lit(1L)))
    intercept[Exception] { store.overwritePartitioned("t", poison, Seq("p")) }
    val restored = store.read("t").select("id").collect().map(_.getLong(0)).toSet
    assert(restored === Set(1L, 2L), "recovery must restore generation 99, not the decoy")
    // the decoy — a fully replaced generation — was swept once the restored
    // data was confirmed at the live path, and the poisoned staging is gone
    val leftovers = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.contains("__part_"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    // and the store is fully functional afterwards
    store.overwritePartitioned("t", Seq((9L, "z")).toDF("id", "p"), Seq("p"))
    assert(store.read("t").select("id").head().getLong(0) === 9L)
  }

  test("partitioned overwrite: a failed restore rename aborts, retired dirs untouched") {
    val root = java.nio.file.Files.createTempDirectory("part_norestore").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new graft.io.TableStore(spark, root)
    store.overwritePartitioned("t", Seq((1L, "a")).toDF("id", "p"), Seq("p"))
    // crash state: retired holds the ONLY copy, live is absent
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/t"),
      new org.apache.hadoop.fs.Path(s"$root/t__part_retired_00000000000000000001")))
    // same directory through a FileSystem whose restore renames report
    // failure the Hadoop way — by returning false, not throwing
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    hconf.set("fs.flaky.impl.disable.cache", "true")
    val flakyStore = new graft.io.TableStore(spark, s"flaky://$root")
    val e = intercept[java.io.IOException] {
      flakyStore.overwritePartitioned("t", Seq((2L, "b")).toDF("id", "p"), Seq("p"))
    }
    assert(e.getMessage.contains("crash recovery"), e.getMessage)
    // nothing was swept: the retired dir still holds the only copy, readable
    assert(spark.read.parquet(s"$root/t__part_retired_00000000000000000001")
      .select("id").head().getLong(0) === 1L)
    // and a healthy store recovers it on the next overwrite-free read path:
    // rerunning through the NORMAL fs restores, then the new write wins
    store.overwritePartitioned("t", Seq((2L, "b")).toDF("id", "p"), Seq("p"))
    assert(store.read("t").select("id").head().getLong(0) === 2L)
  }

  // ---- JSON extraction ------------------------------------------------------

  test("json extraction: every planted failure branch lands as expected") {
    val planted = TextQueries.jsonExtract(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") === "planted")
      .collect()
    assert(planted.length === 1)
    val r = planted.head
    // 6 rows; k extracted from {"k": 41} and the quoted-number {"k": "17"};
    // malformed / missing-key / nested / null all NULL
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ===
      ((6L, 2L, 58L, 17L, 41L)))
  }

  test("json extraction: real events rows all parse (no silent null inflation)") {
    val real = TextQueries.jsonExtract(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") =!= "planted")
      .agg(sum("n_events").as("n"), sum("n_with_k").as("k")).head()
    assert(real.getLong(0) > 0 && real.getLong(0) === real.getLong(1))
  }

  // ---- PII scrub ------------------------------------------------------------

  test("PII scrub: every branch of the planted fixture, exact counts and text") {
    val got = TextQueries.piiScrub(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") >= 9000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.toSeq === Seq(
      (9000001L, 2L, 0L, 0L, "contact me at <EMAIL> or <EMAIL> for details"),
      (9000002L, 0L, 2L, 0L, "call <PHONE> or <PHONE> tomorrow"),
      (9000003L, 0L, 0L, 2L, "server at <IP> and <IP> responded"),
      (9000004L, 1L, 1L, 1L, "mixed <EMAIL> from <IP> dials <PHONE>"),
      (9000005L, 0L, 0L, 0L, "no personal data here just words"),
      (9000006L, 1L, 0L, 1L, "edge cases: <EMAIL> <IP> +123456")))
  }

  test("PII scrub is idempotent and leaves clean text unchanged") {
    val docs = Seq(
      1L -> "reach ops@corp.io at 10.0.0.7 or +18005551234 now",
      2L -> "nothing sensitive in this sentence at all"
    ).toDF("doc_id", "text")
    val once = docs.select(col("doc_id"), Curation.scrubPii(col("text")).as("t"))
    val twice = once.select(col("doc_id"), Curation.scrubPii(col("t")).as("t"))
    assert(once.orderBy("doc_id").collect().toSeq ===
      twice.orderBy("doc_id").collect().toSeq)
    val clean = once.filter(col("doc_id") === 2L).head().getString(1)
    assert(clean === "nothing sensitive in this sentence at all")
    val dirty = once.filter(col("doc_id") === 1L).head().getString(1)
    assert(dirty === "reach <EMAIL> at <IP> or <PHONE> now")
  }

  test("maintainBins: incremental repair equals a full repack, keyed layout rewrites only touched buckets") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("binmaint").toString
    val store = new graft.io.TableStore(spark, root)
    CuratePipeline.run(spark,
      Tables.load(spark, "/root/testdata/sf0.001", "documents"), store,
      binsBuckets = 8)
    assert(store.keyedBuckets("curated_bins") === Some(8))
    val gen0 = store.read("curated_corpus")
      .select("run_ts").distinct().head().getString(0)

    val f1 = "the lighthouse keeper logged every passing vessel in a leather " +
      "journal and compared the counts against the harbor master records each week."
    val f2 = "an apprentice baker measured flour and water by weight before dawn " +
      "so the first loaves reached the market stalls while they were still warm."
    val batch = Seq(
      (9600001L, f1, "en", "web", 160L),
      (9600002L, f2, "en", "web", 160L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val c = CuratePipeline.ingestBatch(spark, batch, store)
    assert(c.upserted === 2L, s"fixture docs must land: $c")

    // snapshot untouched-bucket mtimes before maintenance
    val binsDir = new java.io.File(s"$root/curated_bins")
    def bucketMtimes() = binsDir.listFiles
      .filter(_.getName.startsWith("__kb=")).map(d => d.getName -> d.lastModified).toMap
    val before = bucketMtimes()

    val (nBins, waste) = CuratePipeline.maintainBins(spark, store, batch)
    assert(nBins > 0 && waste >= 0.0 && waste <= 1.0)

    // THE equality proof: the maintained table is row-for-row what a global
    // repack of the post-ingest corpus emits (packing groups are pure
    // functions of their members, so untouched groups were already right)
    val corpus = store.read("curated_corpus")
    val full = graft.functions.Curation.Splits.map { sp =>
      graft.operators.Packing.packBins(
        corpus.filter(col("split") === sp), "doc_id", "n_tokens",
        capacity = 2048, groupSize = 64)
        .withColumn("split", org.apache.spark.sql.functions.lit(sp))
    }.reduce(_ unionAll _)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens", "bin_id", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(rows(store.read("curated_bins")) === rows(full),
      "incremental maintenance must equal the full repack")

    // only the buckets the batch's doc ids hash into were rewritten
    val touched = batch.select(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(col("doc_id")),
        org.apache.spark.sql.functions.lit(8L)).cast("int").as("b"))
      .distinct().collect().map(r => s"__kb=${r.getInt(0)}").toSet
    val after = bucketMtimes()
    before.foreach { case (dir, mtime) =>
      if (!touched.contains(dir))
        assert(after(dir) === mtime, s"untouched bucket $dir was rewritten")
    }

    // generation parity holds and the maintenance is logged
    assert(CuratePipeline.checkGenerationParity(store) === Some(gen0))
    val lastLog = store.read("curation_log").orderBy(col("run_ts").desc).head()
    assert(lastLog.getAs[String]("status") === "ingest_bins")
    assert(lastLog.getAs[Long]("n_bins") === nBins)

    // legacy (split-partitioned) layout: same equality through the merge path
    val root2 = java.nio.file.Files.createTempDirectory("binmaint2").toString
    val store2 = new graft.io.TableStore(spark, root2)
    CuratePipeline.run(spark,
      Tables.load(spark, "/root/testdata/sf0.001", "documents"), store2)
    assert(store2.keyedBuckets("curated_bins") === None)
    val c2 = CuratePipeline.ingestBatch(spark, batch, store2)
    assert(c2.upserted === 2L)
    CuratePipeline.maintainBins(spark, store2, batch)
    val corpus2 = store2.read("curated_corpus")
    val full2 = graft.functions.Curation.Splits.map { sp =>
      graft.operators.Packing.packBins(
        corpus2.filter(col("split") === sp), "doc_id", "n_tokens",
        capacity = 2048, groupSize = 64)
        .withColumn("split", org.apache.spark.sql.functions.lit(sp))
    }.reduce(_ unionAll _)
    assert(rows(store2.read("curated_bins")) === rows(full2))
  }

  test("PII: IP-shaped email domain is not an email — the IPv4 pass redacts it") {
    // the email pattern requires an alphabetic TLD, so user@1.2.3.4 is NOT
    // an email match; the dotted quad is caught by the IPv4 pass instead
    val df = Seq(1L -> "user@1.2.3.4 wrote this").toDF("doc_id", "text")
    val r = df.select(
      Curation.emailCount(col("text")).as("e"),
      Curation.ipv4Count(col("text")).as("i"),
      Curation.scrubPii(col("text")).as("t")).head()
    assert(r.getLong(0) === 0L && r.getLong(1) === 1L)
    assert(r.getString(2) === "user@<IP> wrote this")
  }
}

/** A local FileSystem whose crash-recovery RESTORE renames (source under a
  * `__part_retired_` dir) report failure the Hadoop way — by returning
  * false, not throwing — to force [[graft.io.TableStore.overwritePartitioned]]'s
  * recovery-abort path. Instantiated by Hadoop via reflection from the
  * `fs.flaky.impl` conf key. */
class FlakyRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flaky"
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def rename(
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (src.getName.contains("__part_retired_")) false else super.rename(src, dst)
}
