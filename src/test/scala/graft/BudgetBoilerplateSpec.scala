package graft

import org.apache.spark.sql.functions._

import graft.functions.Curation
import graft.operators.{Boilerplate, Budget}
import graft.queries.TextQueries

/** Specs for the token-budget selection ([[Budget]]) and the line-level
  * boilerplate screen ([[Boilerplate]]) — the two sub-document/mixture
  * operators behind q63/q64. The q63/q64 DuckDB oracles verify the real
  * corpus; these cover the decomposition invariants and removal branches on
  * controlled inputs. */
class BudgetBoilerplateSpec extends SparkSpec {

  import spark.implicits._

  private def budgetInput = {
    val docs = (1 to 60).map { i =>
      val stratum = if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"
      (i.toLong, stratum, s"doc number $i with some text payload")
    }.toDF("id", "stratum", "text")
    docs.select(col("id"), col("stratum"),
      (length(col("text")) % 7 + 1).cast("long").as("n_tok"),
      Curation.saltedHash(col("text"), "budget").as("prio"))
  }

  test("assignShards: exclusive-start rule, shard monotone in epoch order, balance ±maxDoc, partition-invariant") {
    val b = 40L
    val out = Budget
      .assignShards(budgetInput, "id", "n_tok", "prio", tokensPerShard = b,
        bucketChars = 1)
      .select("id", "n_tok", "prio", "cum_tokens", "shard_id")
      .collect()
      .sortBy(r => (r.getString(2), r.getLong(0)))
    // shard_id is exactly floor(exclusive_cum / b)
    out.foreach { r =>
      assert(r.getLong(4) === (r.getLong(3) - r.getLong(1)) / b)
    }
    // monotone non-decreasing along the epoch order
    out.sliding(2).foreach {
      case Array(a, c) => assert(a.getLong(4) <= c.getLong(4))
      case _ =>
    }
    // every non-last shard's token total sits within ±maxDoc of the budget
    val maxDoc = out.map(_.getLong(1)).max
    val last = out.map(_.getLong(4)).max
    out.groupBy(_.getLong(4)).foreach { case (shard, rows) =>
      val tot = rows.map(_.getLong(1)).sum
      if (shard != last)
        assert(math.abs(tot - b) < maxDoc, s"shard $shard total $tot vs $b")
    }
    // physical partitioning cannot change the assignment
    val re = Budget
      .assignShards(budgetInput.repartition(13), "id", "n_tok", "prio",
        tokensPerShard = b, bucketChars = 1)
      .select("id", "shard_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(re(r.getLong(0)) === r.getLong(4)))
  }

  test("selectWithinBudget: bucketed prefix sum equals the sequential running sum") {
    val out = Budget
      .selectWithinBudget(budgetInput, "id", "stratum", "n_tok", "prio",
        lit(30L), bucketChars = 1)
      .select("id", "stratum", "n_tok", "prio", "cum_tokens", "kept")
      .collect()
    // sequential reference: per stratum, walk (prio, id) order accumulating
    val expected = out
      .groupBy(_.getString(1))
      .iterator
      .flatMap { case (_, rows) =>
        var acc = 0L
        rows.sortBy(r => (r.getString(3), r.getLong(0))).map { r =>
          acc += r.getLong(2)
          r.getLong(0) -> acc
        }
      }
      .toMap
    out.foreach { r =>
      assert(r.getLong(4) === expected(r.getLong(0)),
        s"cum_tokens mismatch for id ${r.getLong(0)}")
      assert(r.getBoolean(5) === (r.getLong(4) <= 30L))
    }
  }

  test("selectWithinBudget: kept set is a prefix of the priority order that fills the budget") {
    val out = Budget
      .selectWithinBudget(budgetInput, "id", "stratum", "n_tok", "prio",
        lit(30L), bucketChars = 2)
      .collect()
    out.groupBy(_.getAs[String]("stratum")).foreach { case (stratum, rows) =>
      val ordered = rows.sortBy(r => (r.getAs[String]("prio"), r.getAs[Long]("id")))
      val kept = ordered.takeWhile(_.getAs[Boolean]("kept"))
      // no kept row after the first dropped one: admit-until-full semantics
      assert(ordered.drop(kept.length).forall(!_.getAs[Boolean]("kept")),
        s"stratum $stratum: kept rows after the budget filled")
      val keptTokens = kept.map(_.getAs[Long]("n_tok")).sum
      assert(keptTokens <= 30L, s"stratum $stratum: budget exceeded")
      ordered.drop(kept.length).headOption.foreach { firstDropped =>
        assert(keptTokens + firstDropped.getAs[Long]("n_tok") > 30L,
          s"stratum $stratum: first dropped doc would still have fit")
      }
    }
  }

  test("selectWithinBudget: invariant under bucket granularity and physical partitioning") {
    def run(df: org.apache.spark.sql.DataFrame, chars: Int) = Budget
      .selectWithinBudget(df, "id", "stratum", "n_tok", "prio",
        lit(25L), bucketChars = chars)
      .select("id", "cum_tokens", "kept")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val base = run(budgetInput, 2)
    assert(run(budgetInput, 1) === base)
    assert(run(budgetInput, 3) === base)
    assert(run(budgetInput.repartition(7), 2) === base)
  }

  test("removeFrequentLines: fixture removal branches (cap, boundary, blank, all-boiler)") {
    val footer = "subscribe to the newsletter at news example com"
    val out = Boilerplate
      .removeFrequentLines(TextQueries.boilerplateFixture(spark), "doc_id", "text", maxDf = 3L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(9100001L) === ((2L, 1L, "alpha unique content one")))
    assert(out(9100002L) === ((3L, 1L, "beta unique content two\nextra tail line")))
    assert(out(9100003L) === ((2L, 1L, "gamma unique content three")))
    // a document that is nothing but the boilerplate footer rebuilds empty
    assert(out(9100004L) === ((1L, 1L, "")))
    // exactly maxDf documents -> at the cap, kept (fixture line `trio`)
    assert(out(9100005L)._2 === 0L)
    assert(out(9100005L)._3 === "delta unique content four\nthis line appears in exactly three documents")
    assert(out(9100006L)._2 === 0L)
    assert(out(9100007L)._2 === 0L)
    // blank interior line is structural: kept even though it occurs everywhere
    assert(out(9100008L) === ((3L, 0L, "top line\n\nbottom line")))
    assert(!out.values.exists(_._3.contains(footer)))
  }

  test("removeFrequentLines: document frequency counts distinct docs, not occurrences") {
    val df = Seq(
      1L -> "dup line\ndup line\nunique one", // 2 occurrences, 1 doc
      2L -> "solo content"
    ).toDF("doc_id", "text")
    // df(dup line) = 1 distinct doc <= maxDf -> kept despite 2 occurrences
    val kept = Boilerplate.removeFrequentLines(df, "doc_id", "text", maxDf = 1L)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(kept(1L) === "dup line\ndup line\nunique one")
    val df2 = Seq(
      1L -> "shared\nunique one",
      2L -> "shared\nunique two"
    ).toDF("doc_id", "text")
    // df(shared) = 2 distinct docs > maxDf=1 -> removed from both
    val kept2 = Boilerplate.removeFrequentLines(df2, "doc_id", "text", maxDf = 1L)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(kept2 === Map(1L -> "unique one", 2L -> "unique two"))
  }

  test("removeFrequentLines: null text is the empty document, kept") {
    val df = Seq((1L, null: String), (2L, "real content")).toDF("doc_id", "text")
    val out = Boilerplate.removeFrequentLines(df, "doc_id", "text", maxDf = 1L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((1L, 0L, "")))
    assert(out(2L) === ((1L, 0L, "real content")))
  }

  test("selectWithinBudget: NULL stratum is its own stratum, never silently dropped") {
    val df = Seq(
      (1L, Some("a"), 10L), (2L, Some("a"), 10L),
      (3L, None, 10L), (4L, None, 10L), (5L, None, 10L)
    ).toDF("id", "stratum", "n_tok")
      .withColumn("prio", Curation.saltedHash(concat(lit("row"), col("id")), "budget"))
    val out = Budget
      .selectWithinBudget(df, "id", "stratum", "n_tok", "prio", lit(20L),
        bucketChars = 1)
      .collect()
    // every input row comes back with a flag — the audit contract
    assert(out.map(_.getAs[Long]("id")).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    // the NULL stratum has its own running sum: exactly 2 of its 3 rows fit
    val nullRows = out.filter(_.isNullAt(out.head.fieldIndex("stratum")))
    assert(nullRows.length === 3)
    assert(nullRows.count(_.getAs[Boolean]("kept")) === 2)
    assert(out.filter(_.getAs[String]("stratum") == "a")
      .forall(_.getAs[Boolean]("kept")))
  }

  test("shuffleRank: dense 1..n permutation in priority order, partition-invariant") {
    val out = Budget.shuffleRank(budgetInput, "id", "prio")
      .select("id", "prio", "shuffle_rank").collect()
    // dense permutation of 1..n
    assert(out.map(_.getAs[Long]("shuffle_rank")).sorted.toSeq === (1L to 60L))
    // rank order IS the priority order
    val byRank = out.sortBy(_.getAs[Long]("shuffle_rank"))
      .map(_.getAs[String]("prio")).toSeq
    assert(byRank === byRank.sorted)
    // physical partitioning cannot move anyone's rank
    val reparted = Budget.shuffleRank(budgetInput.repartition(7), "id", "prio")
      .select("id", "shuffle_rank")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(reparted === out.map(r =>
      r.getAs[Long]("id") -> r.getAs[Long]("shuffle_rank")).toSet)
  }

  // ---- pipeline integration (stage 0 rewrite, stage 3d train budget) --------

  test("curation pipeline: line-boilerplate rewrite strips chrome before hashing and gating") {
    val footer = "copyright footer of the site all rights reserved."
    // gate-passing bodies (en stopwords, >50 chars, punctuation, 5..1000
    // tokens) with per-doc vocabulary: no repeated bigram trips the q53
    // screen, and pairwise Jaccard stays low so every doc survives near-dup
    // pruning on its own
    val docs = ((1 to 10).map { i =>
      (i.toLong,
        s"the tale $i speaks of item$i and shape$i near value$i while " +
          s"tone$i rests beside mark$i today. it is a quiet finish for row$i.\n$footer")
    } :+ (11L -> footer)).toDF("doc_id", "text")
    val rootA = java.nio.file.Files.createTempDirectory("curate_boiler_on").toString
    val storeA = new graft.io.TableStore(spark, rootA)
    val on = CuratePipeline.run(spark, docs, storeA, lineBoilerplateMaxDf = 3L)
    assert(on.input === 11L && on.written > 0L)
    val outA = storeA.read("curated_corpus")
    // the footer (df=11 > 3) is gone from every stored document
    assert(outA.filter(col("text").contains("copyright footer")).count() === 0L)
    // doc 11 was nothing but the footer: rewritten to blank, dropped by the
    // gate's token minimum — not written
    assert(outA.filter(col("doc_id") === 11L).count() === 0L)
    // the stored split was assigned from the CLEANED bytes (this corpus is
    // PII-free, so stored text == the bytes that were hashed)
    assert(outA.filter(
      Curation.splitAssign(col("text")) =!= col("split")).count() === 0L)
    // without the stage the footer is stored verbatim
    val rootB = java.nio.file.Files.createTempDirectory("curate_boiler_off").toString
    val storeB = new graft.io.TableStore(spark, rootB)
    CuratePipeline.run(spark, docs, storeB)
    assert(storeB.read("curated_corpus")
      .filter(col("text").contains("copyright footer")).count() > 0L)
  }

  test("curation pipeline: train token budget caps each source, eval splits stay complete") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val rootA = java.nio.file.Files.createTempDirectory("curate_nobudget").toString
    val rootB = java.nio.file.Files.createTempDirectory("curate_budget").toString
    val storeA = new graft.io.TableStore(spark, rootA)
    val storeB = new graft.io.TableStore(spark, rootB)
    val full = CuratePipeline.run(spark, docs, storeA)
    val capped = CuratePipeline.run(spark, docs, storeB, trainTokenBudget = 300L)
    // the budget runs after every other stage: upstream counts identical
    assert(capped.input === full.input && capped.gated === full.gated &&
      capped.deduped === full.deduped &&
      capped.decontaminated === full.decontaminated)
    assert(capped.written < full.written && capped.written > 0L)
    val outB = storeB.read("curated_corpus")
    // every source's stored TRAIN tokens fit the budget
    val overBudget = outB.filter(col("split") === "train")
      .groupBy("source").agg(sum("n_tokens").as("t"))
      .filter(col("t") > 300L).count()
    assert(overBudget === 0L)
    assert(outB.filter(col("split") === "train").count() > 0L)
    // val/test are benchmarks: byte-for-byte the uncapped runs' rows
    def evalIds(s: graft.io.TableStore) = s.read("curated_corpus")
      .filter(col("split") =!= "train").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(evalIds(storeB) === evalIds(storeA))
    // content-hash admission: rerun reproduces the identical selection
    assert(CuratePipeline.run(spark, docs, storeB, trainTokenBudget = 300L) === capped)
  }
}
