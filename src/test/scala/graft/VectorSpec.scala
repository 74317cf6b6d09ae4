package graft

import org.apache.spark.sql.functions._

import graft.functions.{Text, VectorExpressions => V}
import graft.operators.{Ann, Dedup}

/** Vector/dedup/ANN behavior: kernel edge cases (round-2 ADVICE regressions)
  * and end-to-end pipeline checks with planted duplicates and a recall bound.
  */
class VectorSpec extends SparkSpec {

  import spark.implicits._

  test("cosine: exact on known vectors, null on dimension mismatch") {
    val df = spark.sql(
      """SELECT
        |  array(cast(1.0 as float), cast(0.0 as float)) a,
        |  array(cast(0.0 as float), cast(1.0 as float)) b,
        |  array(cast(3.0 as float), cast(4.0 as float)) c,
        |  array(cast(1.0 as float)) short""".stripMargin)
    val r = df.select(
      V.vec_cosine(col("a"), col("a")).as("same"),
      V.vec_cosine(col("a"), col("b")).as("orth"),
      V.vec_cosine(col("a"), col("c")).as("ac"),
      V.vec_cosine(col("a"), col("short")).as("mismatch")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 0.6) < 1e-12) // (3,4)/5 . (1,0)
    assert(r.isNullAt(3))
  }

  test("lsh_bucket: nBits bounds enforced; same vector same bucket; seed varies") {
    intercept[IllegalArgumentException] { V.lsh_bucket(col("x"), 0) }
    intercept[IllegalArgumentException] { V.lsh_bucket(col("x"), 33) }
    val df = spark.sql("SELECT array(cast(0.5 as float), cast(-0.25 as float), cast(1.5 as float)) v")
    val r = df.select(
      V.lsh_bucket(col("v"), 16, 0).as("b0"),
      V.lsh_bucket(col("v"), 16, 0).as("b0again"),
      V.lsh_bucket(col("v"), 16, 1).as("b1")).collect()(0)
    assert(r.getInt(0) === r.getInt(1))
    assert(r.getInt(0) >= 0 && r.getInt(0) < (1 << 16))
  }

  test("minhash pipeline finds planted near-duplicates, skips distinct docs") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away today"
    val nearDup = base.replace("today", "tonight") // 1-token change
    val other = "completely different content about database engines and vectorized execution plans"
    val docs = Seq(
      (1L, base), (2L, nearDup), (3L, other),
      (4L, "short text"), (5L, base) // 5 is an exact dup of 1
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 3, k = 64, bands = 16, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)), "exact dup must be found")
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 5L)), "near dup must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "distinct doc must not pair")

    val comps = Dedup.connectedComponents(
      Dedup.minhashPairs(docs, "doc_id", "text", 3, 64, 16, 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(5L) === 1L)
  }

  test("contentFingerprint: case/whitespace-insensitive fingerprint groups") {
    val docs = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "HELLO\tWORLD"), (4L, "bye")
    ).toDF("doc_id", "text")
    val g = docs.groupBy(Text.contentFingerprint(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")), count(lit(1)))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(g === Map(1L -> 3L, 4L -> 1L)) // keep_id -> dup_count
  }

  test("simhash: near-dup texts have small hamming distance, distinct texts large") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the riverbank at dawn"),
      (2L, "the quick brown fox jumps over the lazy cat near the riverbank at dawn"),
      (3L, "columnar storage with late materialization beats row stores for scans")
    ).toDF("doc_id", "text")
    val h = df.select(col("doc_id"), V.simhash64(Text.tokens(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hamming(h(1L), h(2L)) < 16)
    assert(hamming(h(1L), h(3L)) > 16)
  }

  test("hammingNearDupPairs: exactly the brute-force pair set on random 64-bit fingerprints") {
    // pigeonhole recall is a THEOREM only if the banding is right — pin it
    // against brute force on seeded random fingerprints, across thresholds
    // (including ones where bits % bands != 0 exercises unequal band widths)
    val rnd = new scala.util.Random(42)
    // cluster the fingerprints so small hamming pairs actually exist: 12
    // seeds, each perturbed by 0-6 random bit flips
    val seeds = Array.fill(12)(rnd.nextLong())
    val fps = (0 until 60).map { i =>
      var v = seeds(i % 12)
      (0 until rnd.nextInt(7)).foreach(_ => v ^= 1L << rnd.nextInt(64))
      (i.toLong, v)
    }
    val df = fps.toDF("id", "fp")
    for (k <- Seq(0, 3, 5, 7)) { // k=5: 6 bands over 64 bits -> unequal widths (rem=4)
      val expected = (for {
        (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
        h = java.lang.Long.bitCount(fa ^ fb) if h <= k
      } yield (ia, ib, h.toLong)).toSet
      val got = Dedup.hammingNearDupPairs(df, "id", "fp", bits = 64, maxHamming = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected, s"maxHamming=$k")
      assert(expected.nonEmpty, s"degenerate fixture at maxHamming=$k")
    }
  }

  test("hammingNearDupPairs: declared 32-bit width masks junk in the high half") {
    // a caller storing a 32-bit fingerprint in a long may carry garbage above
    // bit 31; at bits=32 only the low half may influence pairs
    val df = Seq(
      (1L, 0x00000000000000FFL), // low half: 0xFF
      (2L, 0x7A5A5A5A000000FFL), // same low half, junk high half
      (3L, 0x00000000000000F0L)  // hamming 4 from the others (low half)
    ).toDF("id", "fp")
    val got = Dedup.hammingNearDupPairs(df, "id", "fp", bits = 32, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L, 0L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }

  test("portable simhash32: frozen cross-engine constants and the end-to-end pair query") {
    // the 32-bit portable fingerprint must stay bit-stable: the q50 DuckDB
    // oracle recomputes it independently (md5 nibble arithmetic), so any
    // drift here is an oracle mismatch. Constants frozen from a verified run.
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "columnar storage with late materialization beats row stores"),
      (4L, "")
    ).toDF("doc_id", "text")
    val fp = Dedup.withSimhash32(df, "text", "fp")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // empty text tokenizes to [""], so the fingerprint IS the token hash
    // itself (1-token majority): the first 8 hex nibbles of md5("")
    assert(fp(4L) === java.lang.Long.parseLong("d41d8cd9", 16))
    assert(fp === Map(1L -> 265567480L, 2L -> 267679852L,
      3L -> 4052138965L, 4L -> 3558706393L))
    // one changed token out of nine moves only boundary-vote bits (6 of 32);
    // unrelated text is near the 16-bit random expectation
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(2L)) === 6)
    assert(ham(fp(1L), fp(3L)) === 18)
    // end-to-end: the registered-query kernel finds exactly the planted pair
    // at its threshold
    val pairs = Dedup.simhashNearDupPairs(df, "doc_id", "text",
      maxHamming = ham(fp(1L), fp(2L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("native simhash64 feeds the width-agnostic hamming kernel (Manku hamming<=3 shape)") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the riverbank at dawn"),
      (2L, "the quick brown fox jumps over the lazy cat near the riverbank at dawn"),
      (3L, "columnar storage with late materialization beats row stores for scans")
    ).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
      V.simhash64(Text.tokens(col("text"))).as("fp"))
    val h12 = fps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val k = java.lang.Long.bitCount(h12(1L) ^ h12(2L))
    val got = Dedup.hammingNearDupPairs(fps, "doc_id", "fp", bits = 64, maxHamming = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L, k.toLong)))
  }

  test("subword token count: letter/digit/symbol runs; null and empty are 0") {
    val df = Seq(
      (1L, "Hello, world! x2 don't"), // Hello , world ! x 2 don ' t = 9
      (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "a=b+c;"), // a = b + c ; -> =,+ and ; are one symbol run each? "=","+",";" separated by letters
      (5L, "  \t ")
    ).toDF("doc_id", "text")
    val m = df.select(col("doc_id"), Text.subwordTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === 9L)
    assert(m(2L) === 0L && m(3L) === 0L && m(5L) === 0L)
    assert(m(4L) === 6L) // a = b + c ;
  }

  test("tokenization: vertical tab (\\x0B) is NOT whitespace, matching RE2/DuckDB") {
    // Java \s matches \x0B, RE2's does not — the explicit [ \t\n\f\r] class
    // keeps Spark and the DuckDB oracle tokenizing such text identically
    // (round-4 ADVICE). \x0B glues, \f splits, and subword counts it as a
    // symbol run.
    val df = Seq((1L, "a\u000Bb"), (2L, "a\fb")).toDF("doc_id", "text")
    val m = df.select(col("doc_id"), Text.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === 1L, "\\x0B must not split tokens")
    assert(m(2L) === 2L, "\\f must split tokens")
    val sub = df.select(col("doc_id"), Text.subwordTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sub(1L) === 3L, "a, \\x0B symbol run, b") // RE2 parity
    assert(sub(2L) === 2L)
  }

  test("asymmetric block kNN is row-identical to the declarative cross-join form") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val cs = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val block = rows(Ann.blockTopKJoin(qs, "vec_id", "embedding", cs, "vec_id", "embedding", 3))
    // declarative reference: cross join + rank (same double math via vec_cosine)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    val naive = rows(
      qs.select(col("vec_id").as("id"), col("embedding").as("__q"))
        .crossJoin(cs.select(col("vec_id").as("neighbor_id"), col("embedding").as("__c")))
        .withColumn("cosine", V.vec_cosine(col("__q"), col("__c")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("id", "neighbor_id", "cosine", "rank"))
    assert(block.nonEmpty && block === naive)
    // shape: every odd id gets exactly k neighbors, all even
    assert(block.map(_._1).distinct.forall(_ % 2 == 1))
    assert(block.forall(_._2 % 2 == 0))
    assert(block.groupBy(_._1).values.forall(_.size == 3))
  }

  test("asymmetric block pair scan is row-identical to the cross-join threshold form") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val cs = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val block = rows(
      Ann.blockPairsAboveJoin(qs, "vec_id", "embedding", cs, "vec_id", "embedding", 0.3))
    val naive = rows(
      qs.select(col("vec_id").as("query_id"), col("embedding").as("__q"))
        .crossJoin(cs.select(col("vec_id").as("corpus_id"), col("embedding").as("__c")))
        .withColumn("cosine", V.vec_cosine(col("__q"), col("__c")))
        .filter(col("cosine") >= 0.3)
        .select("query_id", "corpus_id", "cosine"))
    assert(block.nonEmpty && block === naive)
    assert(block.forall(p => p._1 % 2 == 1 && p._2 % 2 == 0))
  }

  test("curation: every reason branch fires, first failing rule wins, canonical keeps") {
    val en = "the quick brown fox jumps over the lazy dog and it is a fine morning. " +
      "the sun rises over the hills and the valley wakes to the sound of birds."
    val docs = Seq(
      (1L, en),                          // keep
      (2L, en),                          // duplicate of 1 (same content hash)
      (3L, "el perro y el gato en la casa de los vecinos que juegan en el patio grande."),  // lang
      // length: 4 tokens < 5 but passes quality (>=50 chars 0.3 + stopword
      // 0.2 + punct 0.1 + 0.016 = 0.616) — precedence puts quality first
      (4L, "the extraordinarily magnificent incomprehensibilities."), // 4 tokens, 54 chars
      (5L, "the x k j q w z") // quality: en stopword, but short, no punct -> 0.228
    ).toDF("doc_id", "text")
    val got = Queries.curationOf(docs)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(4), r.getString(5))).toMap
    assert(got(1L) === ((true, "keep")))
    assert(got(2L) === ((false, "duplicate")))
    assert(got(3L) === ((false, "lang")))
    assert(got(4L) === ((false, "length")))
    assert(got(5L) === ((false, "quality")))
  }

  test("lsh_probes: home bucket first, each probe flips exactly one bit, flips=0 degenerates") {
    val df = spark.sql(
      "SELECT array(cast(0.5 as float), cast(-0.25 as float), cast(1.5 as float)) v")
    val r = df.select(
      V.lsh_bucket(col("v"), 12, 3).as("home"),
      V.lsh_probes(col("v"), 12, 3, 0).as("p0"),
      V.lsh_probes(col("v"), 12, 3, 4).as("p4")).collect()(0)
    val home = r.getInt(0)
    assert(r.getSeq[Int](1) === Seq(home), "flips=0 must be exactly the home bucket")
    val p4 = r.getSeq[Int](2)
    assert(p4.length === 5 && p4.head === home)
    assert(p4.distinct.length === 5, s"probe buckets must be distinct: $p4")
    p4.tail.foreach { b =>
      assert(Integer.bitCount(b ^ home) === 1, s"probe $b not 1 flip from $home")
    }
    // parameter contract
    intercept[IllegalArgumentException] { V.lsh_probes(col("v"), 12, 0, 12) }
    intercept[IllegalArgumentException] { V.lsh_probes(col("v"), 12, 0, -1) }
  }

  test("multi-probe pair candidates are a SUPERSET of single-probe (recall only rises)") {
    // lshPairsAbove's emitted pairs are exact-thresholded CANDIDATES, so a
    // probing superset must surface a pair superset — the property that makes
    // flips a pure recall dial. Also covers the ordered-pair canonicalization
    // (a pair caught only by the HIGHER id probing must still surface once,
    // as (min, max)).
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def pairs(flips: Int) =
      Ann.lshPairsAbove(emb, "vec_id", "embedding", 0.3, nBits = 6, tables = 4,
        flips = flips)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p0 = pairs(0)
    val p2 = pairs(2)
    assert(p0.subsetOf(p2), s"lost pairs with probing: ${p0 diff p2}")
    assert(p2.size > p0.size, "probing found nothing new on this corpus (dial inert?)")
    assert(p2.forall { case (a, b) => a < b }, "pairs must be canonically ordered")
  }

  test("LSH ANN recall >= 0.6 of brute-force top-3 on sf0.001 embeddings") {
    // The synthetic embeddings have essentially no cluster structure (only
    // ~9% of brute-force top-3 neighbors share the label), which is the
    // worst case for hyperplane LSH — so the recall bound needs wide buckets
    // (few bits) and several tables. Parameter sweep measured: (4 bits, 8
    // tables) -> 0.69, (6, 8) -> 0.36, (8, 4) -> 0.06.
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val brute = ExactAnn.bruteForceTopK(emb, "vec_id", "embedding", 3)
      .select("id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(emb, "vec_id", "embedding", 3, nBits = 4, tables = 8)
      .select("id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    info(f"LSH recall vs brute force: $recall%.3f")
    assert(recall >= 0.6, f"recall $recall%.3f below bound")
  }

  test("IVF ANN recall >= 0.55 at quarter-corpus probe budget on sf0.001") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val brute = ExactAnn.bruteForceTopK(emb, "vec_id", "embedding", 3)
      .select("id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.operators.Ivf.ivfTopK(emb, "vec_id", "embedding", 3,
      nClusters = 16, nProbe = 4)
      .select("id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    info(f"IVF recall vs brute force: $recall%.3f")
    assert(recall >= 0.55, f"recall $recall%.3f below bound")
    // deterministic: same params -> same result set
    val again = graft.operators.Ivf.ivfTopK(emb, "vec_id", "embedding", 3,
      nClusters = 16, nProbe = 4)
      .select("id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === ivf)
  }

  test("broadcast brute-force kNN is row-identical to the declarative join version") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val a = ExactAnn.bruteForceTopK(emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val b = ExactAnn.bruteForceTopKBroadcast(emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(a === b) // bit-identical cosines, same tie-breaks, same ranks
  }

  test("block-partitioned exact kNN is row-identical to both brute-force forms") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val declarative = ExactAnn.bruteForceTopK(emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val block = Ann.blockTopK(emb, "vec_id", "embedding", 3, blocks = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(block === declarative) // bit-identical cosines, same tie-breaks
    // blocks=1 degenerates to a single full scan — still identical
    val one = Ann.blockTopK(emb, "vec_id", "embedding", 3, blocks = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(one === declarative)
  }

  test("auto block count: flat per-task memory, linear growth, parallelism floor") {
    val par = spark.sparkContext.defaultParallelism
    // small corpus: the parallelism floor wins (memory budget irrelevant)
    assert(Ann.autoBlocks(5000, 128, par) === par)
    // 500M × 128-dim rows ≈ 250 GB of index: the memory bound takes over...
    val big = Ann.autoBlocks(500L * 1000 * 1000, 128, par)
    assert(big > par)
    // ...and holds rows-per-block inside the per-task budget
    val rowBytes = 4L * 128 + 24
    assert(((500L * 1000 * 1000 + big - 1) / big) * rowBytes <=
      Ann.DefaultBlockBytes + rowBytes)
    // 100× the corpus → ~100× the blocks, NOT 100× the per-task memory
    val bigger = Ann.autoBlocks(100L * 500 * 1000 * 1000, 128, par)
    assert(bigger >= big * 90 && bigger <= big * 110)
    // degenerate corpora: capped at n, floored at 1
    assert(Ann.autoBlocks(3, 128, par) === 3)
    assert(Ann.autoBlocks(0, 128, par) === 1)
    // the auto default produces the same rows as any pinned block count
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val auto = Ann.blockTopK(emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val pinned = Ann.blockTopK(emb, "vec_id", "embedding", 3, blocks = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(auto === pinned)
  }

  test("block-partitioned exact pair scan is row-identical to the non-equi join form") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val joined = ExactAnn.cosinePairsAbove(emb, "vec_id", "embedding", 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val block = Ann.blockPairsAbove(emb, "vec_id", "embedding", 0.25, blocks = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(block === joined)
    assert(block.nonEmpty, "threshold 0.25 must select some pairs at sf0.001")
  }

  test("LSH-gated pair scan: exact subset of the exact scan, recall >= 0.5") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = Ann.blockPairsAbove(emb, "vec_id", "embedding", 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Ann.lshPairsAbove(emb, "vec_id", "embedding", 0.25, nBits = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // every emitted pair is a TRUE pair with the exact cosine (no false
    // positives by construction — approximation is candidate recall only)
    assert(lsh.subsetOf(exact), "LSH-gated result must be a subset of exact pairs")
    val recall = lsh.size.toDouble / exact.size
    info(f"LSH pair recall vs exact: $recall%.3f (${lsh.size}/${exact.size})")
    assert(recall >= 0.5, f"recall $recall%.3f below bound")
  }

  test("block kernels: majority dim wins even when the FIRST row is corrupt") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // corrupt vector with the smallest id: under first-row dim inference the
    // whole well-formed corpus would be silently excluded (round-3 ADVICE)
    val corrupt = spark.sql(
      "SELECT CAST(-1 AS BIGINT) vec_id, array(cast(1.0 as float), cast(2.0 as float)) embedding, 0 label")
      .unionByName(emb.limit(50))
    val out = Ann.blockTopK(corrupt, "vec_id", "embedding", 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!out.contains(-1L), "corrupt row must be excluded")
    assert(out.size === 50, "all well-formed rows must be scored")
    val brute = ExactAnn.bruteForceTopKBroadcast(corrupt, "vec_id", "embedding", 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(brute === out, "broadcast kernel must apply the same majority-dim rule")
  }

  test("IVF: null vectors excluded from sample and index (no NPE)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val withNull = spark.sql(
      "SELECT CAST(-1 AS BIGINT) vec_id, CAST(NULL AS ARRAY<FLOAT>) embedding, 0 label")
      .unionByName(emb.limit(20))
    val out = graft.operators.Ivf.ivfTopK(withNull, "vec_id", "embedding", 3,
      nClusters = 4, nProbe = 4)
    val ids = out.select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(-1L))
    assert(ids.size === 20)
  }

  test("IVF: empty corpus yields an empty frame; mismatched-dim vectors excluded") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val empty = graft.operators.Ivf.ivfTopK(emb.limit(0), "vec_id", "embedding", 3)
    assert(empty.count() === 0)
    // corrupt row: a 2-dim vector among 64-dim ones is excluded, not scored
    val corrupt = emb.limit(20).unionByName(
      spark.sql("SELECT CAST(-1 AS BIGINT) vec_id, array(cast(1.0 as float), cast(2.0 as float)) embedding, 0 label"))
    val out = graft.operators.Ivf.ivfTopK(corrupt, "vec_id", "embedding", 3,
      nClusters = 4, nProbe = 4)
    assert(!out.select("id").collect().map(_.getLong(0)).contains(-1L))
  }

  test("minhash single-pass and signature-rejoin forms emit identical pairs") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = asSet(Dedup.minhashPairs(docs, "doc_id", "text", 3, 64, 16, 0.3))
    val rejoin = asSet(Dedup.minhashPairsRejoin(docs, "doc_id", "text", 3, 64, 16, 0.3))
    assert(single === rejoin)
    assert(single.nonEmpty, "threshold 0.3 must find some candidate pairs at sf0.001")
  }

  test("connected components: 12-node chain converges in O(diameter) rounds through checkpoints") {
    // chain 1-2-...-12: min-label propagation moves label 1 one hop per round
    // -> 11 rounds to reach node 12, +1 to observe convergence; the
    // every-5th-round localCheckpoint path is exercised twice on the way
    val pairs = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (comp, iters) = Dedup.connectedComponentsWithStats(pairs, maxIter = 20,
      smallGraphMax = 0) // force the distributed path: this spec PINS round behavior
    val m = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 12L).forall(m(_) === 1L), s"chain must collapse to label 1: $m")
    assert(iters >= 11 && iters <= 13, s"expected ~12 propagation rounds, got $iters")
    comp.unpersist()
  }

  test("log-rounds CC: 64-node chain collapses in O(log n) rounds, not O(diameter)") {
    val pairs = (1L to 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (comp, iters) = Dedup.connectedComponentsLogRounds(pairs, smallGraphMax = 0)
    val m = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size === 64 && (1L to 64L).forall(m(_) === 1L), s"bad components: $m")
    info(s"log-rounds CC converged in $iters rounds (propagation needs 63)")
    assert(iters <= 14, s"expected O(log 64) rounds, got $iters")
  }

  test("log-rounds CC agrees exactly with propagation CC on a pseudo-random graph") {
    // deterministic scatter of 160 edges over 200 nodes (multiplicative hash,
    // no RNG): many components of varied shape, some self-collisions dropped
    val edges = (0 until 160).map { i =>
      val a = (i * 2654435761L) % 200
      val b = (i * 40503L + 7) % 200
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).toDF("id_a", "id_b")
    val viaProp = Dedup.connectedComponents(edges, smallGraphMax = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (viaStar, _) = Dedup.connectedComponentsLogRounds(edges, smallGraphMax = 0)
    val starMap = viaStar.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starMap === viaProp)
    // and the small-graph union-find fast path (the default below the edge
    // bound) returns the IDENTICAL clustering through both public forms
    val fastProp = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (fastStar, fastRounds) = Dedup.connectedComponentsLogRounds(edges)
    assert(fastRounds === 0, "below the bound the driver union-find must run")
    assert(fastProp === viaProp)
    assert(fastStar.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === viaProp)
  }

  test("strict log-rounds CC: throws on maxIter exhaustion, succeeds when rounds suffice") {
    val chain = (1L to 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      // distributed path forced: the union-find fast path always converges
      Dedup.connectedComponentsLogRoundsStrict(chain, maxIter = 2, smallGraphMax = 0)
    }
    assert(e.getMessage.contains("did not converge"))
    val ok = Dedup.connectedComponentsLogRoundsStrict(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.size === 64 && ok.values.forall(_ === 1L))
  }

  test("log-rounds CC: self-pair-only ids survive as singleton components (contract parity)") {
    // (5,5) contributes node 5 with no real edge; (1,2) is a normal pair.
    // Both CC forms must return id 5 as its own component — round-4 ADVICE
    // flagged the log-rounds form for dropping it.
    val pairs = Seq((1L, 2L), (5L, 5L)).toDF("id_a", "id_b")
    // all four forms: fast path (default) AND forced-distributed, both CCs
    val viaProp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (viaStar, _) = Dedup.connectedComponentsLogRounds(pairs)
    val starMap = viaStar.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starMap === Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
    assert(starMap === viaProp)
    val distProp = Dedup.connectedComponents(pairs, smallGraphMax = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (distStar, _) = Dedup.connectedComponentsLogRounds(pairs, smallGraphMax = 0)
    assert(distProp === starMap)
    assert(distStar.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === starMap)
  }

  test("dedup-clusters query matches the hand-derived planted clustering") {
    val out = Queries.dedupClusters(spark, "")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
  }

  test("lshJaccardPairs equals the exhaustive exact-Jaccard pair set at sf0.001") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sh = docs.filter(Text.tokenCount(col("text")) >= 3)
      .select(col("doc_id"), array_distinct(Text.shingles(col("text"), 3)).as("sh"))
    // test-only oracle: all-pairs cross join with true set Jaccard — the
    // shape the production kernel must reproduce without ever planning it
    val brute = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.lshJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, k = 64, bands = 32, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh === brute)
    assert(lsh.nonEmpty, "sf0.001 documents must contain planted near-dup pairs")
  }

  test("blockTopKDot/blockTopKL2: metric semantics diverge from cosine where norms carry signal") {
    import graft.operators.Ann
    // from id 1's view: id 2 wins on raw inner product (norm = signal),
    // id 3 wins on cosine AND on L2 (closest point) — three metrics,
    // three defensible answers, which is why all three kernels exist
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(10.0f, 1.0f)),
      (3L, Seq(0.9f, 0.0f))).toDF("vid", "emb")
    def top1(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("id") === 1L && col("rank") === 1L)
      .collect()(0).getLong(1)
    assert(top1(Ann.blockTopKDot(vecs, "vid", "emb", k = 1)) === 2L)
    assert(top1(Ann.blockTopK(vecs, "vid", "emb", k = 1)) === 3L)
    assert(top1(Ann.blockTopKL2(vecs, "vid", "emb", k = 1)) === 3L)
    // L2 emits ascending true distances (negation round-trip is exact)
    val l2 = Ann.blockTopKL2(vecs, "vid", "emb", k = 2)
      .filter(col("id") === 1L).orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(l2.head === ((3L, 0.10000002384185791)), l2.mkString(",")) // 1.0 − (0.9f→double)
    assert(l2(0)._2 < l2(1)._2, "distance must rank ascending")
  }

  test("prefixJaccardPairs equals the exhaustive pair set; low thresholds and edge sizes hold") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sh = docs.filter(Text.tokenCount(col("text")) >= 3)
      .select(col("doc_id"), array_distinct(Text.shingles(col("text"), 3)).as("sh"))
    def brute(t: Double) = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= t)
      .select("id_a", "id_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def pp(t: Double) = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, minJaccard = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // completeness is a THEOREM here (prefix filter), not a probability —
    // check it at the operating threshold and at a low one (longer
    // prefixes, denser candidates)
    val at05 = pp(0.5)
    assert(at05 === brute(0.5))
    assert(at05.nonEmpty)
    assert(pp(0.2) === brute(0.2))
    // t = 1 degenerates to the single rarest shingle per doc — exact dups only
    val exact = pp(1.0)
    assert(exact.forall(_._3 == 1.0))
    assert(exact === brute(1.0))
    // plan shape: candidates must come from equi-joins, never all-pairs
    val plan = Dedup.prefixJaccardPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("lshJaccardPairsJoin equals the exhaustive cross-side pair set; no within-side pairs") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    def sh(df: org.apache.spark.sql.DataFrame) =
      df.filter(Text.tokenCount(col("text")) >= 3)
        .select(col("doc_id"), array_distinct(Text.shingles(col("text"), 3)).as("sh"))
    // test-only oracle: exhaustive cross join BETWEEN the sides only
    val brute = sh(batch).select(col("doc_id").as("new_id"), col("sh").as("sh_a"))
      .crossJoin(sh(corpus).select(col("doc_id").as("corpus_id"), col("sh").as("sh_b")))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= 0.5)
      .select("new_id", "corpus_id", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val asym = Dedup.lshJaccardPairsJoin(batch, corpus, "doc_id", "text",
      shingleSize = 3, k = 64, bands = 32, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(asym === brute)
    assert(asym.nonEmpty, "sf0.001 must contain near-dup pairs straddling the mod-10 boundary")
    // every emitted pair crosses the boundary — within-side pairs are never formed
    assert(asym.forall { case (n, c, _) => n % 10 == 0 && c % 10 != 0 })
  }

  test("int8 quantization: hand-computed codes, clamp at the extremes, zero vector") {
    import spark.implicits._
    import graft.functions.Quantization._
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)), // maxabs 1 → scale 127
      (2L, Seq(-3.0f, 3.0f)),              // extremes must clamp to ±127
      (3L, Seq(0.0f, 0.0f))                // zero vector → scale 1, codes 0
    ).toDF("vec_id", "embedding")
      .withColumn("scale", int8Scale(col("embedding")))
      .withColumn("codes", int8Codes(col("embedding"), col("scale")))
    val rows = df.orderBy("vec_id").collect()
    assert(rows(0).getDouble(2) === 127.0)
    // -0.5·127 = -63.5 → floor(-63.0) = -63; 0.25·127 = 31.75 → floor(32.25) = 32
    assert(rows(0).getSeq[Int](3) === Seq(127, -63, 32, 0))
    assert(rows(1).getSeq[Int](3) === Seq(-127, 127))
    assert(rows(2).getDouble(2) === 1.0 && rows(2).getSeq[Int](3) === Seq(0, 0))
  }

  test("int8 quantization: reconstruction error bounded by half a step on real data") {
    import graft.functions.Quantization._
    val df = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("embedding").isNotNull)
      .withColumn("scale", int8Scale(col("embedding")))
      .withColumn("codes", int8Codes(col("embedding"), col("scale")))
      // reconstruction: code / scale, double per element
      .withColumn("err", array_max(zip_with(
        col("embedding"), transform(col("codes"), c => c.cast("double") / col("scale")),
        (o, d) => abs(o.cast("double") - d))))
    val bad = df.filter(col("err") > lit(0.5) / col("scale") + lit(1e-12)).count()
    assert(bad === 0L, "every element must reconstruct within 0.5/scale")
    // and the codes really span the int8 range (maxabs element hits ±127)
    val spans = df.filter(array_max(col("codes")) === 127 ||
      array_min(col("codes")) === -127).count()
    assert(spans === df.count(), "the max-|v| element of every vector maps to ±127")
  }

  test("int8 quantization: kNN on codes preserves exact-kNN recall (cosine is scale-invariant)") {
    import graft.functions.Quantization._
    // cosine cancels the per-vector scale, so the int8 codes can drive ANN
    // directly — 1 B/dim through the shuffle instead of 4. Quantify the
    // quality: neighbor recall of code-kNN vs float-kNN on real embeddings.
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("embedding").isNotNull)
    val codes = emb
      .withColumn("scale", int8Scale(col("embedding")))
      .select(col("vec_id"),
        transform(int8Codes(col("embedding"), col("scale")), _.cast("float"))
          .as("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Ann.blockTopK(df, "vec_id", "embedding", k = 3)
        .select("id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(emb)
    val quant = pairs(codes)
    val recall = exact.intersect(quant).size.toDouble / exact.size
    assert(recall >= 0.95, f"quantized kNN recall $recall%.3f fell below 0.95")
  }

  test("neighborCap: chain candidates reach identical clusters at O(n·cap) pairs") {
    import spark.implicits._
    // one 60-member exact-dup cluster (the extreme-duplication regime the
    // cap exists for) plus two unrelated singletons
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = ((0 until 60).map(i => (i.toLong, base)) ++ Seq(
      100L -> "alpine meadows and their summer wildflowers blooming in the high valley sun",
      101L -> "tidal estuaries and migratory shorebirds resting on the long open mudflats"
    )).toDF("doc_id", "text")
    val uncapped = Dedup.lshJaccardPairs(docs, "doc_id", "text")
    val capped = Dedup.lshJaccardPairs(docs, "doc_id", "text", neighborCap = 2)
    // uncapped emits the full quadratic pair set; the chain emits i→i+1 and
    // i→i+2 only (identical docs share every band bucket, so the per-band
    // chains coincide and the distinct collapses them)
    assert(uncapped.count() === 60L * 59 / 2)
    assert(capped.count() === 59L + 58L)
    // every capped edge is exact Jaccard 1.0 and id-ordered
    assert(capped.filter(col("jaccard") =!= 1.0 || col("id_a") >= col("id_b")).count() === 0L)
    // transitivity through the chain reaches the identical clustering
    def clusters(p: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.connectedComponentsLogRoundsStrict(p)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cUn = clusters(uncapped)
    val cCap = clusters(capped)
    assert(cCap === cUn)
    assert(cCap.size === 60 && cCap.values.toSet === Set(0L),
      "all 60 duplicates must land in the single cluster rooted at doc 0")
  }

  test("corpus dedup clusters agree with propagation CC over the exact pair set") {
    val dir = "/root/testdata/sf0.001"
    val pairs = Queries.neardupExactPairs(spark, dir)
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = Tables.load(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val expected = ids.map(id => id -> comp.getOrElse(id, id)).toMap
    val out = Queries.dedupClustersCorpus(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === expected)
    assert(out.size === ids.length)
    assert(out.exists { case (id, c) => id != c }, "planted clusters must merge some ids")
  }

  test("corpus-pair CC converges in O(log n) star rounds and reports the count") {
    val pairs = Queries.neardupExactPairs(spark, "/root/testdata/sf0.001")
    val (comp, rounds) = Dedup.connectedComponentsLogRoundsStrictWithStats(pairs)
    info(s"corpus CC: $rounds star rounds")
    assert(rounds <= 4, s"near-dup clusters are shallow; $rounds rounds means a regression")
    assert(comp.count() > 0)
  }

  test("minhash plan has no all-pairs stage (candidates only from band join)") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val plan = Dedup.minhashPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join found in plan:\n$plan")
  }

  test("hashed embeddings: unit-norm sparse vectors, blank docs absent, identical texts collapse") {
    import graft.operators.HashedEmbedding
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact text dup of 1
      (3L, "completely different vocabulary occupying other buckets"),
      (4L, "")
    ).toDF("doc_id", "text")
    val vecs = HashedEmbedding.sparse(docs, "doc_id", "text").collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => r.getLong(1) -> r.getDouble(2)).toMap }
    // blank doc has no direction: it emits no rows
    assert(vecs.keySet === Set(1L, 2L, 3L))
    vecs.values.foreach { v =>
      assert(v.keys.forall(b => b >= 0L && b < 256L), v.keys)
      val n = math.sqrt(v.values.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-12, s"norm $n")
    }
    // identical texts → identical vectors; distinct texts → distant
    assert(vecs(1L) === vecs(2L))
    val cross = vecs(1L).map { case (b, w) => w * vecs(3L).getOrElse(b, 0.0) }.sum
    assert(cross < 0.5, s"cross cosine $cross")
  }

  test("SemDeDup fixture: cluster-local pairs, min-id canonicals, corrupt row excluded") {
    val out = graft.operators.SemDedup.assign(
      Queries.semDedupFixture(spark), "vec_id", "embedding",
      threshold = 0.99, nClusters = 2, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out === Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 4L, false), (6L, 6L, true)))
  }

  test("q80 recall report: five kernels, exact denominators, measured floors hold") {
    // the observability row for the approximate kernels (VERDICT r10 #7):
    // deterministic kernels → deterministic recalls. Floors sit under the
    // measured values (sf0.001, r12 multi-probe params: minhash 1.000, LSH
    // top-k 0.934, IVF probe8 0.822, LSH pairs 0.967, IVF-PQ cb256 rr96
    // 0.895; sf0.01/sf0.1 measured within ±0.07 of these) with slack only
    // for future parameter retuning — a quantizer/band/probe regression
    // that drops recall below the production 0.8 bar must fail here.
    val rows = Queries.recallReport(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1.0 else r.getDouble(3))))
      .toMap
    assert(rows.size === 5)
    val floors = Map(
      "q20_minhash_vs_q46_exact" -> 0.95,
      "q22_ann_lsh_vs_q21_brute" -> 0.90,
      "q28_ann_ivf_vs_q21_brute" -> 0.80,
      "q36_lsh_pairs_vs_q27_exact" -> 0.93,
      "q91_ann_pq_vs_q21_brute" -> 0.85)
    floors.foreach { case (k, floor) =>
      val (nExact, nHit, recall) = rows(k)
      assert(nExact > 0 && nHit <= nExact, s"$k: $nHit/$nExact")
      assert(recall >= floor, s"$k recall $recall fell below floor $floor")
    }
  }

  test("q174 staleness report: decay under drifted upsert, full recovery after retrain") {
    // the index-staleness observability row (VERDICT r14 #4): a planted
    // clustered corpus where the drifted upsert lands BETWEEN frozen
    // centroids. Measured (deterministic fixture): fresh 1.0, stale
    // 0.4115 (the frozen assignment splits each drifted cluster across two
    // cells; a 1-probe query finds only its own half), retrained 1.0 on
    // BOTH query families. The ceilings/floors bound the contract: decay
    // must be VISIBLE (stale well under fresh) and retrain must restore it.
    val rows = Queries.annIndexStaleness(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(rows.size === 4)
    rows.foreach { case (k, (nExact, nHit, _)) =>
      assert(nExact > 0 && nHit <= nExact, s"$k: $nHit/$nExact")
    }
    assert(rows("1_fresh_base")._3 >= 0.99, s"fresh ${rows("1_fresh_base")}")
    assert(rows("2_stale_drift")._3 <= 0.60,
      s"stale recall ${rows("2_stale_drift")} — drift no longer decays " +
        "recall; the staleness row measures nothing")
    assert(rows("3_retrained_drift")._3 >= 0.99,
      s"retrained ${rows("3_retrained_drift")} — retrain failed to recover")
    assert(rows("4_retrained_base")._3 >= 0.99,
      s"retrained base ${rows("4_retrained_base")} — retrain regressed the base family")
  }

  test("IVF-PQ fixture: exact-reconstruction regime reproduces the exact answer") {
    // codebookSize = |fixture| ⇒ every distinct subvector is a seed, k-means
    // converges on the data values, ADC replays CosineSimilarity's loop on a
    // bit-exact reconstruction — so the IVFADC output must EQUAL the exact
    // block scan (same ids, ranks, and 6dp scores).
    val fix = Queries.annPqFixture(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val exact = Ann.blockTopK(Queries.annFixture(spark), "vec_id", "embedding", 3)
      .withColumn("cosine", round(col("cosine"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(fix === exact)
  }

  test("IVF-PQ rerank: shortlist scores are exact, result deterministic") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val run = graft.operators.Pq.ivfPqTopK(emb, "vec_id", "embedding", 3,
      nClusters = 16, nProbe = 4, m = 8, codebookSize = 16, rerank = 32)
    val rows = run.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // emitted cosines in rerank mode are EXACT — recompute a sample pair
    // with the exact kernel's arithmetic and compare bit-for-bit
    val byId = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.take(50).foreach { case (id, nb, c, _) =>
      assert(c === cosine(byId(id), byId(nb)), s"pair ($id,$nb) not exact")
    }
    // per-query contract: exactly k rows, ranks 1..k, descending scores
    rows.groupBy(_._1).foreach { case (id, rs) =>
      assert(rs.map(_._4).sorted.toSeq === Seq(1L, 2L, 3L), s"ranks for $id")
      val sorted = rs.sortBy(_._4).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b }, s"order for $id")
    }
    val again = graft.operators.Pq.ivfPqTopK(emb, "vec_id", "embedding", 3,
      nClusters = 16, nProbe = 4, m = 8, codebookSize = 16, rerank = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.toSet === again.toSet, "rerun must be bit-identical")
  }

  test("PQ encode: m-byte codes, deterministic, corrupt rows excluded") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .unionByName(Seq((990001L, Seq(1f, 2f), 0)).toDF("vec_id", "embedding", "label"))
    val (codes1, books1) = graft.operators.Pq.encode(emb, "vec_id", "embedding", m = 8)
    val c1 = codes1.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(!c1.contains(990001L), "dimension-mismatched row must be excluded")
    assert(c1.nonEmpty && c1.values.forall(_.length === 8), "one byte per subspace")
    val (codes2, books2) = graft.operators.Pq.encode(emb, "vec_id", "embedding", m = 8)
    val c2 = codes2.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(c1 === c2, "codes must be bit-reproducible")
    assert(books1.flatten.flatten.toSeq === books2.flatten.flatten.toSeq,
      "codebooks must be bit-reproducible")
  }

  test("SemDeDup on the real corpus: keep-set canonicals are consistent with the exact scan") {
    // SemDeDup recall is bounded by the quantizer (pairs straddling two
    // k-means clusters are missed — the documented trade), but PRECISION is
    // exact: every collapsed doc must be ≥-threshold-cosine-connected to
    // some doc in the exact q27-style pair graph at the same threshold.
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val thr = 0.95
    val assigned = graft.operators.SemDedup.assign(
      emb, "vec_id", "embedding", threshold = thr, nClusters = 8)
    val exactPairs = Ann.blockPairsAbove(emb, "vec_id", "embedding", thr)
      .select("id_a", "id_b")
      .collect().flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val collapsed = assigned.filter(!col("keep"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(assigned.count() === emb.count(), "every valid vector gets a row")
    // every collapse edge (doc → canonical) is backed by real similarity:
    // the doc has SOME exact ≥thr neighbor (connectivity, not direct pair,
    // is the component contract)
    collapsed.foreach { case (id, canon) =>
      assert(exactPairs.contains(id),
        s"doc $id collapsed into $canon but has no exact >=$thr neighbor at all")
    }
    // determinism: a second run reproduces the assignment bit-for-bit
    val again = graft.operators.SemDedup.assign(
      emb, "vec_id", "embedding", threshold = thr, nClusters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(again === assigned.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet)
  }

  test("zorder key: known interleave, null propagation, codegen agrees with eval") {
    import graft.functions.ZOrder
    // hand-computed: vals=(0b11, 0b00) bits=2 → out bits (v0@0, v1@0, v0@1,
    // v1@1) = 1,0,1,0 → 0b0101 = 5; (0b01, 0b11) → 1,1,0,1 → 0b1011 = 11
    assert(ZOrder.interleave(Array(3L, 0L), 2) === 5L)
    assert(ZOrder.interleave(Array(1L, 3L), 2) === 11L)
    // masking: only the low `bits` bits contribute
    assert(ZOrder.interleave(Array(4L | 3L, 0L), 2) === 5L)
    val df = Seq((3L, 0L), (1L, 3L)).toDF("a", "b")
    val got = df.select(ZOrder.zkey(2, col("a"), col("b")).as("z"))
      .orderBy("z").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(5L, 11L))
    // a null input nulls the key (the row sorts together, not at a fake 0)
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(2L)))
      .toDF("a", "b")
      .select(ZOrder.zkey(4, col("a"), col("b")).as("z"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(withNull.count(_.isEmpty) === 1 && withNull.count(_.isDefined) === 1)
    // interpreted eval path (no codegen) matches the codegen'd result
    val expr = ZOrder.zkey(8, col("a"), col("b"))
    val wide = Seq((200L, 77L), (13L, 255L), (0L, 0L)).toDF("a", "b")
    val viaDf = wide.select(expr.as("z")).collect().map(_.getLong(0)).toSeq
    val viaStatic = Seq((200L, 77L), (13L, 255L), (0L, 0L))
      .map { case (a, b) => ZOrder.interleave(Array(a, b), 8) }
    assert(viaDf === viaStatic)
    // guardrails
    intercept[IllegalArgumentException] { ZOrder.zkey(64, col("a"), col("b")) }
    intercept[IllegalArgumentException] { ZOrder.zkey(8, col("a")) }
    // scaledZkey: an all-null column contributes no spread (constant 0),
    // never an NPE on its null min/max
    val degen = Seq((Option.empty[Long], 1L), (None, 2L), (None, 3L)).toDF("a", "b")
    val keys = degen.select(ZOrder.scaledZkey(degen, 4, Seq("a", "b")).as("z"))
      .collect().map(_.getLong(0))
    assert(keys.length === 3 && keys.distinct.length === 3,
      "the non-null column's spread must still order the keys")
  }
}
