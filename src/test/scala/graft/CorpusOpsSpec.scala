package graft

import org.apache.spark.sql.functions._

import graft.functions.Heuristics
import graft.operators.{Chunking, OrderedAnalytics, UnigramLm}
import graft.queries.{DedupQueries, EventQueries, TextQueries}

/** Hand-computed contracts for the round-10 corpus operators: the C4
  * heuristic screen, the corpus-unigram LM score, and context-window
  * chunking. (Their end-to-end DuckDB oracles are q73/q74/q75.)
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private val good = "this sentence has enough words to pass the line filter."

  test("C4 screen: every flag branch on the planted pages") {
    val docs = Seq(
      1L -> s"$good\n$good\n$good",                 // keep
      2L -> s"$good\n$good\n$good\nvar x = { }",    // brace kills it
      3L -> s"$good\n$good\n$good\nlorem ipsum",    // placeholder kills it
      4L -> s"$good\n$good\n$good\nenable javascript", // js LINE removed; page survives
      5L -> s"$good\n$good",                        // only 2 good lines
      6L -> "short one.\nno punct line here",       // 0 good lines
      7L -> "",                                     // empty: 1 empty line
      // a well-formed line that mentions javascript: the C4 line rule
      // removes it, so only 2 good lines remain and the page falls short
      8L -> s"$good\n$good\nplease enable javascript to view this fine page."
    ).toDF("doc_id", "text")
    val out = docs.select(
      col("doc_id"),
      Heuristics.lineCount(col("text")).as("n_lines"),
      Heuristics.goodLineCount(col("text")).as("n_good"),
      Heuristics.c4Keep(col("text")).as("keep"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) === ((3L, 3L, true)))
    assert(out(2L) === ((4L, 3L, false)))
    assert(out(3L) === ((4L, 3L, false)))
    assert(out(4L) === ((4L, 3L, true)), "javascript is a line rule, not a page kill")
    assert(out(5L) === ((2L, 2L, false)))
    assert(out(6L) === ((2L, 0L, false)))
    assert(out(7L) === ((1L, 0L, false)))
    assert(out(8L) === ((3L, 2L, false)), "a js line never counts as good")
  }

  test("C4 good line: terminal punctuation AND >= 5 words, both required") {
    val cases = Seq(
      1L -> "five words ending with period.", // 5 words, terminal → good
      2L -> "four words with period.",        // 4 words → not good
      3L -> "five words without any terminal" // no punctuation → not good
    ).toDF("doc_id", "text")
    val n = cases.select(col("doc_id"), Heuristics.goodLineCount(col("text")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(n === Map(1L -> 1L, 2L -> 0L, 3L -> 0L))
  }

  test("unigram LM: hand-computed frequencies, hapax, and the exact division") {
    val docs = Seq(1L -> "a a b", 2L -> "b c", 3L -> "").toDF("doc_id", "text")
    // corpus: a×2, b×2, c×1; N = 5
    val out = UnigramLm.score(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4))))).toMap
    assert(out(1L) === ((3L, 6L, 0L, java.lang.Double.valueOf(6.0 / (3.0 * 5.0)))))
    assert(out(2L) === ((2L, 3L, 1L, java.lang.Double.valueOf(3.0 / (2.0 * 5.0)))))
    assert(out(3L) === ((0L, 0L, 0L, null)))
  }

  test("unigram LM stats: an all-blank reference corpus fails with a setup message, not an NPE") {
    val blank = Seq(1L -> "", 2L -> "   ").toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      UnigramLm.stats(blank, "text")
    }
    assert(e.getMessage.contains("no tokens"), e.getMessage)
    // non-blank corpus still trains
    val (freq, n) = UnigramLm.stats(Seq(1L -> "a b a").toDF("doc_id", "text"), "text")
    assert(n === 3L && freq.count() === 2L)
  }

  test("chunking: overlap, tail, exact-boundary, blank, and disjoint stride") {
    val docs = Seq(1L -> "a b c d e", 2L -> "a b c", 3L -> "").toDF("doc_id", "text")
    val over = Chunking.chunkDocs(docs, "doc_id", "text", maxTokens = 3, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    // doc 1 (n=5): starts 0 and 2 — a window at 4 would only repeat "e",
    // already covered by the window at 2, so it is suppressed; doc 2 (n=3)
    // is one exact-boundary window
    assert(over === Set(
      (1L, 0L, 3L, "a b c"), (1L, 1L, 3L, "c d e"),
      (2L, 0L, 3L, "a b c")))
    val disjoint = Chunking.chunkDocs(docs.filter(col("doc_id") === 1L),
      "doc_id", "text", maxTokens = 3, stride = 3)
      .collect().map(r => (r.getLong(1), r.getString(3))).toSet
    assert(disjoint === Set((0L, "a b c"), (1L, "d e")))
    intercept[IllegalArgumentException] {
      Chunking.chunkDocs(docs, "doc_id", "text", maxTokens = 3, stride = 4)
    }
  }

  test("semantic decontamination: cross-split only, train->eval oriented, live, subset of q27") {
    import graft.functions.Curation
    val dir = "/root/testdata/sf0.001"
    val out = TextQueries.semanticDecontamination(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty, "no semantic leakage found — the row is dead")
    // orientation: train ids really are train, eval ids really are eval
    val evalIds = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        (Curation.splitBucket(col("text")) < "1a").as("ev"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.forall { case (t, e) => !evalIds(t) && evalIds(e) })
    // the screen is q27's exact pair scan filtered — never a new pair
    val q27 = DedupQueries.embeddingNearDup(spark, dir)
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    assert(out.forall { case (t, e) => q27.contains(Set(t, e)) })
    // and it reports BOTH orientations' worth of pairs as one direction:
    // every q27 pair that straddles the split appears exactly once
    val straddling = q27.filter(p =>
      p.exists(evalIds(_)) && p.exists(!evalIds(_)))
    assert(out.map { case (t, e) => Set(t, e) }.toSet === straddling)
  }

  test("quality cutoff: keeps at least the top p per source, minimally (ties spill, nothing more)") {
    val p = 0.3
    val out = TextQueries.qualityCutoff(spark, "/root/testdata/sf0.001", p)
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (src, rows) =>
      val n = rows.head._3
      val need = math.ceil(p * n).toLong
      val kept = rows.count(_._5)
      val cutoff = rows.head._4
      assert(rows.forall(_._3 === n))
      // at least the top p…
      assert(kept >= need, s"$src kept $kept < ceil($p*$n)=$need")
      // …and minimal at score granularity: excluding the cutoff-score tie
      // group would fall below the requirement
      val aboveCutoff = rows.count(r => r._2 > cutoff)
      assert(aboveCutoff < need, s"$src cutoff not minimal: $aboveCutoff >= $need")
      // keep is exactly score >= cutoff
      assert(rows.forall(r => r._5 === (r._2 >= cutoff)))
    }
  }

  test("perplexity buckets: per-lang terciles, ties spill up, blanks surface, fixture lang exact") {
    val out = TextQueries.perplexityBuckets(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getString(5)))
    assert(out.nonEmpty)
    // the planted 3-scored-doc language lands one doc per tercile, blank doc
    // surfaces as blank with the language's scored count
    val zz = out.filter(_._2 == "zz").map(r => r._1 -> r._5).toMap
    assert(zz === Map(9400001L -> "blank", 9400002L -> "head",
      9400003L -> "tail", 9400004L -> "middle"))
    assert(out.find(_._1 == 9400001L).get._4 === Some(3L))
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val scoredRows = rows.filter(_._3.isDefined)
      // blank docs are exactly the NULL-score docs
      assert(rows.filter(_._3.isEmpty).forall(_._5 == "blank"))
      assert(scoredRows.forall(_._5 != "blank"))
      if (scoredRows.nonEmpty) {
        val n = scoredRows.head._4.get
        assert(scoredRows.forall(_._4.contains(n)))
        assert(n === scoredRows.length.toLong)
        val need1 = math.ceil(n / 3.0).toLong
        val need2 = math.ceil(n * 2.0 / 3.0).toLong
        val head = scoredRows.count(_._5 == "head")
        val headMid = scoredRows.count(r => r._5 == "head" || r._5 == "middle")
        // at least the tercile, minimal at score granularity (tie spill)
        assert(head >= need1, s"$lang head $head < $need1")
        assert(headMid >= need2, s"$lang head+middle $headMid < $need2")
        val cHead = scoredRows.filter(_._5 == "head").map(_._3.get).min
        assert(scoredRows.count(_._3.get > cHead) < need1,
          s"$lang head cutoff not minimal")
        // buckets are monotone in score: every head score >= every middle
        // score >= every tail score
        val mid = scoredRows.filter(_._5 == "middle").map(_._3.get)
        val tail = scoredRows.filter(_._5 == "tail").map(_._3.get)
        if (mid.nonEmpty) assert(cHead >= mid.max)
        if (mid.nonEmpty && tail.nonEmpty) assert(mid.min >= tail.max)
      }
    }
  }

  test("normalize: NFC recompose, control strip, FFFD kept+counted, collapse, idempotent") {
    import graft.functions.Normalize
    val fx = TextQueries.normalizeFixture(spark)
    val rows = fx.select(col("doc_id"),
      Normalize.cleanText(col("text")).as("c"),
      Normalize.controlCount(col("text")).as("nc"),
      Normalize.replacementCount(col("text")).as("nf"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    // NFD e+U+0301 recomposes to U+00E9; singleton U+212B becomes U+00C5
    assert(rows(9410001L) === (("café menu", 0, 0)))
    assert(rows(9410002L) === (("unit Å test", 0, 0)))
    // controls stripped (joined, not spaced) and counted
    assert(rows(9410003L) === (("ctrlcharshere", 2, 0)))
    // U+FFFD is a garble SIGNAL: counted, deliberately left in place
    assert(rows(9410004L) === (("bad � byte �", 0, 2)))
    // horizontal runs collapse, line-trailing spaces drop, outer spaces trim,
    // trailing newline survives (trim is space-only)
    assert(rows(9410005L) === (("trailing spaces\nline\n", 0, 0)))
    assert(rows(9410006L) === (("", 0, 0)))
    assert(rows(9410007L) === (("", 0, 0))) // NULL text → empty, not NULL
    // idempotent over fixture ∪ real corpus: a second pass is a no-op
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).unionAll(fx)
    val notFixed = docs
      .select(Normalize.cleanText(col("text")).as("once"))
      .select(col("once"), Normalize.cleanText(col("once")).as("twice"))
      .filter(col("once") =!= col("twice")).count()
    assert(notFixed === 0L)
  }

  test("DSIR weights: hand-computed feature mass, blank NULL, empty target surfaces as NULL") {
    import graft.operators.Dsir
    // md5 3-hex prefixes of all five features are distinct (checked offline),
    // so bucket counts equal feature counts exactly:
    // raw: alpha×2 beta×1 gamma×1 'alpha beta'×1 'alpha gamma'×1, N_raw=6
    // target (doc 1): alpha beta 'alpha beta', N_t=3
    val docs = Seq((1L, "alpha beta"), (2L, "alpha gamma"), (3L, ""))
      .toDF("doc_id", "text")
    val out = Dsir.importanceWeights(docs, "doc_id", "text",
      col("doc_id") === 1L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    // doc1: sum_target=3, sum_raw=2+1+1=4 → (3/4)·(6/3) = 1.5
    assert(out(1L) === ((3L, 3L, 4L, Some(1.5))))
    // doc2: only alpha is target mass → (1/4)·2 = 0.5
    assert(out(2L) === ((3L, 1L, 4L, Some(0.5))))
    assert(out(3L) === ((0L, 0L, 0L, None)))
    // empty target: scores NULL everywhere, exact columns still populated
    val none = Dsir.importanceWeights(docs, "doc_id", "text", lit(false))
      .collect()
    assert(none.forall(_.isNullAt(4)))
    assert(none.map(_.getLong(3)).sum === 8L)
  }

  test("tfidf keywords: rare repeated term dominates, blank docs emit nothing, ranks dense") {
    val out = TextQueries.tfidfKeywords(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // blank fixture doc: no keyword rows at all
    assert(!out.exists(_._1 == 9430001L))
    // the corpus-unique repeated term wins rank 1 with df=1, tf=2
    val fx = out.filter(_._1 == 9430002L).sortBy(_._2)
    assert(fx.head._3 === "zzrareterm" && fx.head._4 === 2L && fx.head._5 === 1L)
    // per doc: ranks are exactly 1..min(3, distinct terms), scores
    // non-increasing, (score desc, term) total order holds
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._6 > b._6 || (a._6 === b._6 && a._3 < b._3))
        case _ =>
      }
    }
  }

  test("BPE pair counts: word-frequency weighting, single-char words contribute nothing") {
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString
    Seq(1L -> "ab ab ba c abc", 2L -> "ab c c")
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // word freqs: ab×3, ba×1, c×3, abc×1 → pairs: ab = 3(ab) + 1(abc) = 4,
    // ba = 1, bc = 1(abc); 'c' has no pair
    val out = TextQueries.bpePairs(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(out.toSeq === Seq("ab" -> 4L, "ba" -> 1L, "bc" -> 1L))
  }

  test("BPE trainer: 10 merges replay the Sennrich walkthrough exactly") {
    // low×5 lower×2 newest×6 widest×3 — every decision hand-checkable
    val docs = Seq(
      1L -> (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" "),
      2L -> (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    ).toDF("doc_id", "text")
    val got = graft.operators.Bpe.train(docs, "text", merges = 10)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val want = Seq(
      (1, "e", "s", "es", 9L), (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L), (4, "lo", "w", "low", 7L),
      (5, "e", "w", "ew", 6L), (6, "ew", "est", "ewest", 6L),
      (7, "n", "ewest", "newest", 6L), (8, "d", "est", "dest", 3L),
      // weight-3 ties break by (left, right) ascending: 'i' < 'w'
      (9, "i", "dest", "idest", 3L), (10, "w", "idest", "widest", 3L))
    assert(got.toSeq === want)
    // asking for more merges than pairs exist stops cleanly at exhaustion
    val exhausted = graft.operators.Bpe.train(docs, "text", merges = 50)
      .count()
    assert(exhausted >= 10L && exhausted <= 14L, s"merge table size $exhausted")
  }

  test("BPE trainer: iteration 1 reproduces the q78 pair kernel's top row") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val q78Top = TextQueries.bpePairs(spark, "/root/testdata/sf0.001", topK = 1)
      .head()
    val trained = graft.operators.Bpe.train(docs, "text", merges = 1).head()
    assert(trained.getString(1) + trained.getString(2) === q78Top.getString(0),
      s"trainer pair ${trained} vs q78 ${q78Top}")
    assert(trained.getLong(4) === q78Top.getLong(1))
  }

  test("BPE encode: the trained table tokenizes held-out words by replaying merges in order") {
    val train = Seq(
      1L -> (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" "),
      2L -> (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    ).toDF("doc_id", "text")
    val table = graft.operators.Bpe.train(train, "text", merges = 8)
    val enc = graft.operators.Bpe.encode(
      Seq(1L -> "lowest widest", 2L -> "").toDF("doc_id", "text"),
      "text", table)
      .orderBy("doc_id")
      .collect().map(_.getSeq[String](2).toList)
    // lowest: l o w e s t → (es) l o w es t → (est) l o w est → (lo) lo w est
    // → (low) low est; widest: w i d est → dest applies: w i dest
    assert(enc(0) === List("low", "est", "w", "i", "dest"))
    assert(enc(1) === List.empty)
  }

  test("token entropy: planted branches — blank NULL, repetition 0, uniform log2(k)") {
    val out = TextQueries.tokenEntropy(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") >= 9460001L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4))))
      .toMap
    val blank = out(9460001L)
    assert(blank._1 === 0L && blank._2 === 0L && blank._3.isNaN && blank._4.isNaN)
    // "the the the the": one token type → entropy exactly 0, top frac 1
    assert(out(9460002L) === ((4L, 1L, 0.0, 1.0)))
    // "a b c d": uniform over 4 types → entropy exactly log2(4) = 2
    assert(out(9460003L) === ((4L, 4L, 2.0, 0.25)))
    // real corpus rows: entropy ∈ [0, log2(n)], top_token_frac ∈ (0, 1]
    val real = TextQueries.tokenEntropy(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 9460001L && col("n_tokens") > 0)
      .collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      val (n, h, f) = (r.getLong(1), r.getDouble(3), r.getDouble(4))
      // +5e-7: the 6dp output round can nudge h just past the exact bound
      assert(h >= 0.0 && h <= math.log(n.toDouble) / math.log(2.0) + 5e-7, s"entropy $h out of range for n=$n")
      assert(f > 0.0 && f <= 1.0)
    }
  }

  test("event transitions: lead per key with deterministic tiebreak, exact row-normalized p") {
    val ev = Seq(
      // u1: a -> b -> b -> c; u2: a -> c; boundary between users never pairs
      (1L, 10L, 101L, "a"), (1L, 20L, 102L, "b"), (1L, 30L, 103L, "b"), (1L, 40L, 104L, "c"),
      (2L, 10L, 201L, "a"), (2L, 20L, 202L, "c"),
      // u3: same-instant pair ordered by the event-id tiebreak: a(301) -> b(302)
      (3L, 50L, 301L, "a"), (3L, 50L, 302L, "b")
    ).toDF("user_id", "ts_ns", "event_id", "event_type")
    val out = OrderedAnalytics.transitions(ev, "user_id", "ts_ns", "event_type", "event_id")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // from a: ->b twice (u1, u3), ->c once (u2)
    assert(out === Map(
      ("a", "b") -> ((2L, 2.0 / 3.0)),
      ("a", "c") -> ((1L, 1.0 / 3.0)),
      ("b", "b") -> ((1L, 0.5)),
      ("b", "c") -> ((1L, 0.5))))
  }

  test("inverted index: per-doc distinct postings, sorted capped head, df floor") {
    val docs = Seq(
      (3L, "apple banana apple"), // apple counts ONCE for doc 3
      (1L, "apple cherry"),
      (2L, "apple"),
      (4L, "")                    // blank doc contributes nothing
    ).toDF("doc_id", "text")
    val out = TextQueries.invertedIndexOf(docs, minDf = 2L, headLen = 2)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    // df floor drops banana (1) and cherry (1); apple df=3, head capped at
    // the 2 smallest doc ids in ascending order
    assert(out === Map("apple" -> ((3L, "1,2"))))
  }

  test("value outliers: hand-computed median/MAD, 3-MAD flag, zero-MAD degenerate contract") {
    val ev = Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0), (4L, "a", 4.0), (5L, "a", 100.0),
      (6L, "b", 5.0), (7L, "b", 5.0), (8L, "b", 5.0), (9L, "b", 7.0)
    ).toDF("event_id", "event_type", "value")
    val out = EventQueries.outliersOf(ev)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getDouble(4), r.getBoolean(5))))
      .toMap
    // a: med 3, adevs {2,1,0,1,97} -> mad 1 -> only |100-3| > 3 flags
    Seq(1L, 2L, 3L, 4L).foreach(id => assert(out(id) === ((3.0, 1.0, false)), s"id $id"))
    assert(out(5L) === ((3.0, 1.0, true)))
    // b: med 5, mad 0 (degenerate spread) -> ANY deviation flags, peers don't
    Seq(6L, 7L, 8L).foreach(id => assert(out(id) === ((5.0, 0.0, false)), s"id $id"))
    assert(out(9L) === ((5.0, 0.0, true)))
  }

  test("daily uniques: HLL sketch twin lands within its error bound of the exact rollup") {
    import org.apache.spark.sql.functions.{approx_count_distinct, count => fcount, datediff, lit, to_date}
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val exact = EventQueries.dailyUniques(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rsd = 0.02
    val approx = ev
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users_approx"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (day, n) =>
      val a = approx(day)
      val bound = math.max(1L, math.ceil(5 * rsd * n).toLong)
      assert(math.abs(a - n) <= bound, s"day $day: approx $a vs exact $n (bound $bound)")
    }
  }

  test("chunking reassembly: disjoint chunks concatenate back to the normalized text") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).limit(50)
    val rebuilt = Chunking.chunkDocs(docs, "doc_id", "text", maxTokens = 7, stride = 7)
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("chunk_id"), col("chunk_text"))))
        .getField("chunk_text")).as("rebuilt"))
    val mismatches = docs
      .select(col("doc_id"), concat_ws(" ", graft.functions.Text.tokens(col("text"))).as("norm"))
      .join(rebuilt, Seq("doc_id"))
      .filter(col("norm") =!= col("rebuilt")).count()
    assert(mismatches === 0L)
  }
}
