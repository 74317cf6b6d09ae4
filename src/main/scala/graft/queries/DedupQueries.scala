package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Text, VectorExpressions => V}
import graft.operators.{Ann, Dedup, Loops, SpanDedup}
import TextQueries.qualityScore

/** Exact and near-duplicate detection: content hashing, MinHash, n-gram
  * Jaccard, SimHash, embedding near-dups, span dedup and the
  * duplicate-cluster closures. */
object DedupQueries extends QueryFamily {
  import Shared._

  /** The distinct word 3-shingles `sh(doc_id, s)` of every document with at
    * least 3 tokens, from inside the `tok` CTE (the q26 mirror of
    * [[graft.functions.Text.shingles]]). */
  private val shinglesSql: String =
    s"""|  SELECT doc_id,
      |    unnest($tokensSql) AS w,
      |    unnest(range(1, len($tokensSql) + 1)) AS ord
      |  FROM documents
      |  WHERE len($tokensSql) >= 3
      |    AND trim(coalesce(text,'')) <> ''),
      |sh AS (
      |  SELECT DISTINCT doc_id, w || ' ' || l1 || ' ' || l2 AS s FROM (
      |    SELECT doc_id, w, lead(w,1) OVER win AS l1, lead(w,2) OVER win AS l2
      |    FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY ord))
      |  WHERE l1 IS NOT NULL AND l2 IS NOT NULL),""".stripMargin

  /** The q71/q72 8-token spans from inside the `toks` CTE: each document's
    * tokens (`toks`) and every span start (`gidx`), then `grams` with 0-based
    * positions as Spark's posexplode gives them (the closing paren follows). */
  private val spanGramsSql: String =
    s"""|  SELECT doc_id, $tokensSql AS t,
      |    CASE WHEN trim(coalesce(text,'')) = '' THEN 0
      |         ELSE len($tokensSql) END AS n_tokens
      |  FROM documents),
      |gidx AS (
      |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
      |  FROM toks WHERE n_tokens >= 8),
      |grams AS (""".stripMargin

  /** Shared DuckDB CTE chain (q45/q46): exact distinct-shingle Jaccard over
    * ALL document pairs via the exhaustive shingle equi-join, ending in
    * `j(id_a, id_b, jac)`. Same tokenizer / shingler / set-arithmetic mirror
    * proven bit-exact by q26 — oracle-side only; the Spark side replaces the
    * all-pairs shape with LSH-banded candidates. */
  private val shingleJaccardCte: String =
    s"""tok AS (
      |$shinglesSql
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jac
      |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)""".stripMargin

  /** The q45/q186 shared oracle: exact-Jaccard edges ≥ 0.5 closed into
    * components by the recursive reach CTE, min label per doc, singletons
    * labeling themselves. q45 verifies the batch clustering against it;
    * q186 verifies that the INCREMENTAL update reaches the identical
    * fixpoint. */
  private lazy val dedupClosureOracle: String =
    s"""WITH RECURSIVE $shingleJaccardCte,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM j WHERE jac >= 0.5
       |  UNION ALL
       |  SELECT id_b, id_a FROM j WHERE jac >= 0.5),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS lab FROM documents
       |  UNION
       |  SELECT r.id, e.v AS lab FROM reach r JOIN edges e ON e.u = r.lab)
       |SELECT id AS doc_id, min(lab) AS cluster_id
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  /** q49 oracle: every unordered pair of the planted fixture with exact
    * cosine ≥ 0.9 — by construction exactly the 24 in-cluster pairs. */
  private val annPairsFixtureOracle: String =
    """WITH fx AS (
      |  SELECT CAST(i AS BIGINT) AS vec_id,
      |    list_transform(range(0, 8), d ->
      |      CASE WHEN d = i // 4 THEN 1.0
      |           WHEN d = 4 + (i // 4) THEN 0.125 * (i % 4)
      |           ELSE 0.0 END) AS v
      |  FROM range(16) t(i))
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      |FROM fx a CROSS JOIN fx b
      |WHERE a.vec_id < b.vec_id
      |  AND list_cosine_similarity(a.v, b.v) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** Exact-duplicate resolution with a QUALITY-priority keeper — the
    * composition of q15's hash grouping and q18's quality score: within
    * each exact-dup cluster keep the HIGHEST-QUALITY copy (tie → lowest
    * doc_id), not an arbitrary min id — the retention policy a real
    * pipeline wants (dedup should drop the worst copies). The keeper pick
    * is a PARTIAL-AGGREGABLE `max(struct(quality, −doc_id))` — one
    * map-side-combined aggregation, no window, no per-cluster buffer (the
    * q139→TopK lesson applied to argmax). The quality expression is the
    * q18 engine-exact chain, so both engines order identical doubles; the
    * oracle states the same pick through a rank window (oracle-side shape
    * is free). */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(
        md5(col("text").cast("binary")).as("text_md5"),
        col("doc_id"),
        Text.qualityScore(col("text")).as("__q"))
      .groupBy("text_md5")
      .agg(
        count(lit(1)).as("dup_count"),
        max(struct(col("__q").as("q"), (lit(0L) - col("doc_id")).as("negid")))
          .as("__best"))
      .select(
        col("text_md5"),
        (lit(0L) - col("__best.negid")).as("keep_id"),
        col("__best.q").as("keep_quality"),
        col("dup_count"))
      .orderBy("text_md5")
  // q168: keeper = rank-1 by (quality DESC, doc_id ASC) per content hash;
  // the quality chain is q18's engine-exact mirror, so both engines rank
  // identical doubles. Spark's side computes the same pick as a
  // partial-aggregable max(struct) — shape-free on the oracle side.
  query("q168_dedup_keep_best", dedupKeepBest, bench = true, oracle = OracleSql(
    s"""WITH scored AS (
      |  SELECT doc_id, md5(text) AS text_md5,
      |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
      |    + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
      |    + CASE WHEN stop_hits > 0 THEN 0.2 ELSE 0.0 END
      |    + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END AS q
      |  FROM (SELECT doc_id, text,
      |$qualityFeatures
      |        FROM documents)),
      |ranked AS (
      |  SELECT text_md5, doc_id, q,
      |    row_number() OVER (PARTITION BY text_md5 ORDER BY q DESC, doc_id ASC) AS r,
      |    CAST(count(*) OVER (PARTITION BY text_md5) AS BIGINT) AS dup_count
      |  FROM scored)
      |SELECT text_md5, doc_id AS keep_id, q AS keep_quality, dup_count
      |FROM ranked WHERE r = 1 ORDER BY text_md5""".stripMargin))

  /** Exact dedup groups by content hash (md5 here so DuckDB can oracle it). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("text_md5")
  query("q15_dedup_exact", dedupExact, bench = false, oracle = OracleSql(
    """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS dup_count
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** SimHash64 + token fingerprint over the planted corpus ([[dedupFixture]]).
    * The hashes are self-contained (FNV-1a 64 + SplitMix64 — no JVM
    * hashCode), so the output is a frozen constant of the fixture; the
    * oracle states it as VALUES, whose hand-checkable content is the planted
    * structure: exact-duplicate docs 1 and 3 carry IDENTICAL simhash and
    * fingerprint, every other pair differs (near-dup hamming closeness is
    * asserted in the simhash spec, where "close" is expressible). */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    dedupFixture(s)
      .select(
        col("doc_id"),
        V.simhash64(Text.tokens(col("text"))).as("simhash"),
        Text.contentFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  // Frozen-constant oracle over the planted corpus (see fingerprint's
  // Scaladoc): rows 1 and 3 identical = the exact-dup invariant.
  query("q19_fingerprint", fingerprint, bench = false, oracle = OracleSql(
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), CAST(5672170603221991470 AS BIGINT), CAST(8126700452512382995 AS BIGINT)),
      |  (CAST(2 AS BIGINT), CAST(5690184984551351406 AS BIGINT), CAST(-6653316890966335135 AS BIGINT)),
      |  (CAST(3 AS BIGINT), CAST(5672170603221991470 AS BIGINT), CAST(8126700452512382995 AS BIGINT)),
      |  (CAST(4 AS BIGINT), CAST(-1214119164892584674 AS BIGINT), CAST(7651814851722374834 AS BIGINT)),
      |  (CAST(5 AS BIGINT), CAST(-5439010225589616608 AS BIGINT), CAST(1217673792449611733 AS BIGINT)),
      |  (CAST(6 AS BIGINT), CAST(2631449102751334432 AS BIGINT), CAST(-5154383817532933730 AS BIGINT)),
      |  (CAST(7 AS BIGINT), CAST(2716115072275374252 AS BIGINT), CAST(8250293090338001450 AS BIGINT)),
      |  (CAST(8 AS BIGINT), CAST(-1008713648022929324 AS BIGINT), CAST(8212288182320143936 AS BIGINT))
      |) t(doc_id, simhash, fingerprint) ORDER BY doc_id""".stripMargin))

  /** MinHash-LSH near-duplicate candidate pairs (no all-pairs stage), in the
    * signature-rejoin form — bench-measured fastest at sf0.1 and the lighter
    * shuffle shape at scale (band join carries no signature payload; see
    * [[Dedup.minhashPairsRejoin]] for the measured crossover). */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairsRejoin(T(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, k = 64, bands = 16, minEstJaccard = 0.5)
      .orderBy("id_a", "id_b")
  query("q20_minhash_pairs", minhashPairs, bench = true,
    oracle = NoOracle("MinHash-LSH candidates are banded and approximate; q39 pins the kernel" +
      " on a planted fixture"))

  /** Asymmetric exact near-dup scan: which odd-id embeddings (the "new
    * batch") have cosine >= 0.3 against some even-id embedding (the
    * "corpus") — incremental threshold dedup via
    * [[Ann.blockPairsAboveJoin]]. */
  def neardupJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Ann.blockPairsAboveJoin(
      emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding",
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
      threshold = 0.3)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "corpus_id")
  }
  query("q43_neardup_join", neardupJoin, bench = false, oracle = OracleSql(
    """WITH raw AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                           CAST(b.embedding AS DOUBLE[])) AS c0
      |  FROM (SELECT * FROM embeddings WHERE vec_id % 2 = 1) a
      |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 2 = 0) b),
      |scored AS (
      |  SELECT query_id, corpus_id,
      |    CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END AS c FROM raw)
      |SELECT query_id, corpus_id, round(c, 6) AS cosine
      |FROM scored WHERE c >= 0.3
      |ORDER BY query_id, corpus_id""".stripMargin))

  /** Exact word-3-gram Jaccard between consecutive documents — the n-gram
    * set-similarity dedup primitive, DuckDB-oracled (intersection/union
    * recomputed relationally there).
    *
    * The text is shingled on BOTH branches of the self-join (no CSE across
    * join sides) — deliberate: a measured single-scan alternative (shingles
    * exploded once, tagged to both pair slots, two grouped aggs) was only
    * ~8% faster at sf0.1 (2.65s vs 2.87s, bit-identical output) while
    * shuffling ~6× the document bytes (every shingle × 2 tags) instead of
    * re-reading the columnar scan. At 100 TB shuffle is the scarcer
    * resource, so the recompute-over-reshuffle form stays. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .filter(Text.tokenCount(col("text")) >= 3)
      .select(col("doc_id"), array_distinct(Text.shingles(col("text"), 3)).as("sh"))
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
      col("sh").as("sh_b"))
    a.join(b, Seq("id_a"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .orderBy("id_a")
  }
  query("q26_ngram_jaccard", ngramJaccard, bench = true, oracle = OracleSql(
    s"""WITH tok AS (
      |$shinglesSql
      |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.s = b.s
      |  GROUP BY 1, 2)
      |SELECT ca.doc_id AS id_a, cb.doc_id AS id_b,
      |  CAST(coalesce(i.i, 0) AS DOUBLE) / (ca.n + cb.n - coalesce(i.i, 0)) AS jaccard
      |FROM counts ca JOIN counts cb ON cb.doc_id = ca.doc_id + 1
      |LEFT JOIN inter i ON i.id_a = ca.doc_id
      |ORDER BY id_a""".stripMargin))

  /** SimHash near-duplicate pairs over the documents table — the Manku-style
    * web-dedup criterion (small Hamming distance between content
    * fingerprints), as an EXACT banded-LSH plan: maxHamming+1 bit-bands,
    * pigeonhole recall 1, exact bit_count(xor) filter on candidates — so
    * unlike MinHash banding the output is fully DuckDB-oracle-able over the
    * REAL corpus (the oracle recomputes the md5-based portable fingerprint
    * from raw text and brute-forces all pairs). maxHamming = 2 on the 32-bit
    * portable fingerprint: the probe of this corpus puts planted near-dups
    * at hamming 0–2 and keeps the output a pair list, not a pair explosion
    * (~200 rows at sf0.01); production 64-bit fingerprints use the same
    * kernel at Manku's hamming ≤ 3. */
  def simhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(T(s, dir, "documents"), "doc_id", "text",
      maxHamming = 2)
      .orderBy("id_a", "id_b")
  // q50: the oracle recomputes the portable 32-bit SimHash from raw text —
  // same tokenizer mirror as q16/q26/q46, md5 nibbles parsed by hand (hex
  // position arithmetic), per-bit majority votes via a lateral range(32) —
  // then brute-forces ALL pairs with bit_count(xor) ≤ 2: the very all-pairs
  // shape the Spark side's pigeonhole banding exists to avoid.
  query("q50_simhash_neardup", simhashNearDup, bench = true, oracle = OracleSql(
    s"""WITH tok AS (
      |  SELECT doc_id,
      |    unnest($tokensSql) AS w
      |  FROM documents),
      |th AS (
      |  SELECT doc_id,
      |      (strpos('0123456789abcdef', substr(md5(w),1,1))-1)::BIGINT * 268435456
      |    + (strpos('0123456789abcdef', substr(md5(w),2,1))-1)::BIGINT * 16777216
      |    + (strpos('0123456789abcdef', substr(md5(w),3,1))-1)::BIGINT * 1048576
      |    + (strpos('0123456789abcdef', substr(md5(w),4,1))-1)::BIGINT * 65536
      |    + (strpos('0123456789abcdef', substr(md5(w),5,1))-1)::BIGINT * 4096
      |    + (strpos('0123456789abcdef', substr(md5(w),6,1))-1)::BIGINT * 256
      |    + (strpos('0123456789abcdef', substr(md5(w),7,1))-1)::BIGINT * 16
      |    + (strpos('0123456789abcdef', substr(md5(w),8,1))-1)::BIGINT AS h
      |  FROM tok),
      |votes AS (
      |  SELECT doc_id, b.bit, sum((h >> b.bit) & 1) AS v, count(*) AS n
      |  FROM th, range(32) b(bit)
      |  GROUP BY doc_id, b.bit),
      |fp AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN 2*v >= n THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS f
      |  FROM votes GROUP BY doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.f, b.f)) <= 2
      |ORDER BY id_a, id_b""".stripMargin))

  /** Embedding-cosine near-duplicate pairs, exact, via the block-partitioned
    * pair scan (no BroadcastNestedLoopJoin, no O(n²) row materialization —
    * identity-spec'd against the non-equi-join formulation). Threshold 0.3
    * chosen from the corpus distribution (~1k pairs at sf0.01, max cosine
    * 0.51; no pair within 1e-9 of the threshold, so the cut is stable across
    * engines). Cosine rounded to 6 decimals for the DuckDB oracle. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Ann.blockPairsAbove(T(s, dir, "embeddings"), "vec_id", "embedding", 0.3)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id_a", "id_b")
  query("q27_embedding_neardup", embeddingNearDup, bench = true, oracle = OracleSql(
    """WITH raw AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                           CAST(b.embedding AS DOUBLE[])) AS c0
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT id_a, id_b, CASE WHEN isnan(c0) THEN 0.0 ELSE c0 END AS c FROM raw)
      |SELECT id_a, id_b, round(c, 6) AS cosine
      |FROM scored WHERE c >= 0.3
      |ORDER BY id_a, id_b""".stripMargin))

  /** LSH-gated near-duplicate pairs — the extreme-scale production variant of
    * [[embeddingNearDup]]: bucket candidates first, TRUE cosine threshold on
    * candidates only. Emitted cosines are exact; only candidate recall is
    * approximate (subset + recall spec vs the exact scan), hence no_oracle.
    * r12 multi-probe: measured pair recall 0.35 → 0.96 at every tested SF
    * (see q80). */
  def neardupLsh(s: SparkSession, dir: String): DataFrame =
    Ann.lshPairsAbove(T(s, dir, "embeddings"), "vec_id", "embedding", 0.3,
      nBits = 6, tables = 12, flips = 4)
      .orderBy("id_a", "id_b")
  query("q36_neardup_lsh", neardupLsh, bench = true,
    oracle = NoOracle("candidate recall is approximate (a subset of the exact q27 pairs); q80" +
      " reports it"))

  /** Planted near-duplicate corpus for the dedup-clusters oracle: docs 1/2/3
    * are one cluster (exact dup + one-token change), 5/6 a second (one-token
    * change), 4/7/8 singletons (8 has < shingleSize tokens). The one-token
    * edits leave word-3-gram Jaccard ~0.7 — far above the 0.5 gate — and the
    * unrelated texts share no 3-shingle, so the expected clustering is
    * derivable by hand and stable under the fixed MinHash seeds. */
  private[graft] def dedupFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    val base1 = "the quick brown fox jumps over the lazy dog and keeps running " +
      "far away into the quiet green valley today"
    val base2 = "columnar execution engines batch rows into vectors to amortize " +
      "dispatch overhead across modern pipelines"
    Seq(
      1L -> base1,
      2L -> base1.replace("today", "tonight"),
      3L -> base1,
      4L -> "completely unrelated text about alpine meadows and their summer wildflowers blooming",
      5L -> base2,
      6L -> base2.replace("modern", "current"),
      7L -> "a second unrelated document mentioning tidal estuaries and migratory shorebirds",
      8L -> "short text"
    ).toDF("doc_id", "text")
  }

  /** MinHash-LSH pairs over the planted corpus — the q20 kernel on
    * [[dedupFixture]], where the approximate-by-nature output CAN be oracled:
    * the fixed FNV/SplitMix seeds make est_jaccard a frozen constant of the
    * fixture, and the hand-derivable part — WHICH pairs appear — is the
    * planted structure (1/2/3 one near-dup cluster, 5/6 another, singletons
    * absent). est_jaccard is agreeing-slots/64, an exact binary fraction, so
    * the VALUES oracle compares bit-equal with no rounding. */
  def minhashFixture(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairsRejoin(dedupFixture(s), "doc_id", "text",
      shingleSize = 3, k = 64, bands = 16, minEstJaccard = 0.5)
      .orderBy("id_a", "id_b")
  // q39: frozen constants of the planted fixture (fixed MinHash seeds);
  // the hand-derivable content is WHICH pairs appear — the planted
  // clusters {1,2,3} and {5,6} and nothing else. est_jaccard is
  // agreeing-slots/64, an exact binary fraction: 59/64, 64/64, 47/64.
  query("q39_minhash_fixture", minhashFixture, bench = false, oracle = OracleSql(
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0.921875 AS DOUBLE)),
      |  (1, 3, 1.0),
      |  (2, 3, 0.921875),
      |  (5, 6, 0.734375)
      |) t(id_a, id_b, est_jaccard) ORDER BY id_a, id_b""".stripMargin))

  /** End-to-end near-dup dedup: MinHash-LSH candidate pairs → connected
    * components → canonical cluster id (smallest member) per document,
    * singletons keeping their own id. The full 100 TB dedup pipeline shape
    * (banded join, iterative min-label joins with checkpointed lineage) on a
    * hand-verifiable planted corpus. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersVia(s, Dedup.connectedComponents(_))
  // Planted-cluster oracle (see dedupFixture): {1,2,3} and {5,6} are the
  // near-dup clusters, 4/7/8 singletons.
  query("q37_dedup_clusters", dedupClusters, bench = false, oracle = OracleSql(
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT)), (2, 1), (3, 1), (4, 4),
      |  (5, 5), (6, 5), (7, 7), (8, 8)
      |) t(doc_id, cluster_id) ORDER BY doc_id""".stripMargin))

  /** [[dedupClusters]] with the O(log n)-ROUND alternating-star components
    * instead of min-label propagation — the variant for unknown/large
    * cluster diameters (template-evolution chains across a whole crawl).
    * Identical output contract, so it shares the planted-cluster oracle.
    * Uses the STRICT form: a clustering that failed to converge must fail
    * the job, not silently assign partial canonical ids. */
  def dedupClustersLogRounds(s: SparkSession, dir: String): DataFrame =
    dedupClustersVia(s, Dedup.connectedComponentsLogRoundsStrict(_))
  // q44: identical output contract to q37 — the alternating-star CC must
  // land on the same planted clustering as min-label propagation
  query("q44_dedup_clusters_logrounds", dedupClustersLogRounds, bench = false, oracle = OracleSql(
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT)), (2, 1), (3, 1), (4, 4),
      |  (5, 5), (6, 5), (7, 7), (8, 8)
      |) t(doc_id, cluster_id) ORDER BY doc_id""".stripMargin))

  /** [[dedupClustersLogRounds]] with the candidate stage FAN-OUT-CAPPED
    * (`neighborCap = 2`) and the exact-Jaccard gate — the extreme-duplication
    * clustering shape motivated by PERF.md's 100× ramp, where uncapped
    * candidates grow quadratically with cluster multiplicity (27.3M pairs at
    * 100×): each doc pairs only with its 2 rank-successors per band bucket,
    * O(n·cap) candidates, and CC transitivity reconnects each genuine
    * cluster through the surviving chain edges. Shares the q37/q44
    * planted-cluster oracle — the capped pipeline must produce IDENTICAL
    * clusters. */
  def dedupClustersCapped(s: SparkSession, dir: String): DataFrame =
    dedupClustersVia(s, Dedup.connectedComponentsLogRoundsStrict(_),
      docs => Dedup.lshJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, k = 64, bands = 16, minJaccard = 0.5, neighborCap = 2))
  // q59: the fan-out-capped candidate graph must reach the SAME clusters
  // as the uncapped q37/q44 pipelines on the planted corpus.
  query("q59_neardup_capped_clusters", dedupClustersCapped, bench = false, oracle = OracleSql(
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT)), (2, 1), (3, 1), (4, 4),
      |  (5, 5), (6, 5), (7, 7), (8, 8)
      |) t(doc_id, cluster_id) ORDER BY doc_id""".stripMargin))

  private def dedupClustersVia(
      s: SparkSession, cc: DataFrame => DataFrame,
      pairsOf: DataFrame => DataFrame = docs =>
        Dedup.minhashPairs(docs, "doc_id", "text",
          shingleSize = 3, k = 64, bands = 16, minEstJaccard = 0.5)): DataFrame = {
    // ONE canonicalization tail for q37/q44/q59 — the queries share a VALUES
    // oracle, so the coalesce-singleton rule and ordering must not fork
    val docs = dedupFixture(s)
    val comp = cc(pairsOf(docs))
      .withColumnRenamed("id", "doc_id").withColumnRenamed("comp", "cluster_id")
    docs.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** LSH-gated thresholded pairs on the planted fixture — the q36 kernel
    * ([[Ann.lshPairsAbove]]) oracle-able the same way: within-cluster
    * cosines are all ≥ 0.936 and cross-cluster exactly 0, so at τ=0.9 the
    * required output is ALL 24 ordered in-cluster pairs with their exact
    * cosines — which the oracle recomputes by exhaustive join. With this,
    * every approximate kernel family (minhash q39, LSH top-k q47, IVF q48,
    * LSH pairs q49) has a frozen-fixture oracle row. */
  def neardupLshFixture(s: SparkSession, dir: String): DataFrame =
    Ann.lshPairsAbove(annFixture(s), "vec_id", "embedding", 0.9,
      nBits = 2, tables = 8)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id_a", "id_b")
  query("q49_neardup_lsh_fixture", neardupLshFixture, bench = false,
    oracle = OracleSql(annPairsFixtureOracle))

  /** The REAL near-pair query over the REAL corpus: all document pairs with
    * exact shingle-Jaccard ≥ 0.5, LSH-banded candidates first
    * ([[Dedup.lshJaccardPairs]]). DuckDB-oracled — the emitted Jaccard is
    * exact set arithmetic, and at k=64/bands=32 the candidate-miss
    * probability for the corpus's planted near-dups (all J ≥ 0.8, nothing
    * else above 0.14 at any SF) is ~1e-14, verified pair-for-pair against
    * the oracle's exhaustive shingle equi-join at sf0.001/0.01/0.1. */
  def neardupExactPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.lshJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, k = 64, bands = 32, minJaccard = 0.5)
      .orderBy("id_a", "id_b")
  // q46: the oracle recomputes ALL-pairs exact Jaccard exhaustively (shingle
  // equi-join — affordable for DuckDB at oracle SF, the very shape the Spark
  // side's LSH gating exists to avoid); the Spark result must equal its
  // >= 0.5 slice pair-for-pair, value-for-value.
  query("q46_neardup_exact", neardupExactPairs, bench = true, oracle = OracleSql(
    s"""WITH $shingleJaccardCte
       |SELECT id_a, id_b, jac AS jaccard FROM j
       |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin))

  /** q46's pair set through the PREFIX-FILTER kernel
    * ([[Dedup.prefixJaccardPairs]], the SSJoin/PPJoin family): identical
    * output, PROVABLY complete candidates — where q46's MinHash banding is
    * complete with probability 1 − (1 − J^r)^b (astronomically close to 1,
    * never 1), the prefix filter is complete by pigeonhole on the
    * rarest-first canonical shingle order. Shares q46's exhaustive DuckDB
    * oracle verbatim (the q52/q113 output-invariant-pair pattern), so the
    * driver hash-verifies the determinism claim, and both kernels bench
    * side by side: banded-probabilistic vs exact-prefix candidate
    * generation on the same corpus. */
  def neardupPrefixPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, minJaccard = 0.5)
      .orderBy("id_a", "id_b")
  // q153: the SAME exhaustive oracle — the prefix-filter kernel must
  // reproduce q46's pair set exactly (its completeness is a theorem, so
  // a hash mismatch here would be a bug, not bad luck).
  query("q153_neardup_prefix", neardupPrefixPairs, bench = true, oracle = OracleSql(
    s"""WITH $shingleJaccardCte
       |SELECT id_a, id_b, jac AS jaccard FROM j
       |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin))

  /** Incremental near-dup screen ([[Dedup.lshJaccardPairsJoin]]): an
    * arriving batch (every 10th document — the shape of a daily ingest
    * increment, ~10% of the corpus) screened against the standing corpus
    * (the other 90%) for exact shingle-Jaccard ≥ 0.5, LSH-banded candidates
    * first. The asymmetric form an ingest pipeline actually runs: per batch
    * it pays O(batch × bands) band rows against the corpus index instead of
    * re-pairing the whole corpus with itself. DuckDB-oracled pair-for-pair
    * by the exhaustive cross-side shingle equi-join. */
  def neardupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    Dedup.lshJaccardPairsJoin(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0),
      "doc_id", "text", shingleSize = 3, k = 64, bands = 32, minJaccard = 0.5)
      .orderBy("new_id", "corpus_id")
  }
  // q66: the Spark side gates candidates through MinHash banding; the
  // oracle recomputes every CROSS-SIDE pair exhaustively with the same
  // tokenizer/shingler/set-arithmetic mirror as q45/q46 (sides assigned by
  // the identical doc_id % 10 rule, within-side pairs never formed).
  query("q66_neardup_incremental", neardupIncremental, bench = true, oracle = OracleSql(
    s"""WITH tok AS (
      |$shinglesSql
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s
      |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
      |  GROUP BY 1, 2)
      |SELECT new_id, corpus_id,
      |  CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = new_id
      |JOIN sizes sb ON sb.doc_id = corpus_id
      |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
      |ORDER BY new_id, corpus_id""".stripMargin))

  /** Corpus-scale end-to-end dedup clusters — the q37/q44 pipeline taken off
    * the planted fixture and run over the REAL `documents` table at the
    * driver's SF: LSH candidates → exact-Jaccard gate ≥ 0.5 → STRICT
    * O(log n)-round connected components → canonical cluster id (smallest
    * member), singletons keeping their own id. Oracled in DuckDB via a
    * WITH RECURSIVE min-label closure over the identical exact-Jaccard pair
    * set, so cluster membership is verified end-to-end, not on 8 documents.
    * The star-round count is logged — at corpus scale the round count IS the
    * cost model. */
  def dedupClustersCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"))
    val pairs = Dedup.lshJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, k = 64, bands = 32, minJaccard = 0.5)
    val (comp, rounds) = Dedup.connectedComponentsLogRoundsStrictWithStats(pairs)
    log.info(s"q45 corpus dedup: connected components converged in $rounds star rounds")
    docs
      .join(
        comp.withColumnRenamed("id", "doc_id").withColumnRenamed("comp", "cluster_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }
  // q45: recursive min-label closure over the SAME exact-Jaccard pair set —
  // every doc labelled with the smallest doc_id reachable through >= 0.5
  // edges; singletons (no edge) keep their own id.
  query("q45_dedup_corpus", dedupClustersCorpus, bench = true,
    oracle = OracleSql(dedupClosureOracle))

  /** INCREMENTAL dedup-cluster maintenance
    * ([[graft.operators.Dedup.updateComponents]]) — the daily-crawl form
    * of q45: yesterday's corpus (doc_id % 5 ≠ 0) is clustered once, then
    * today's increment (the % 5 = 0 docs and every near-dup pair touching
    * them) updates the labeling WITHOUT re-running components over
    * history — the iteration runs on the label graph (increment-bounded),
    * and the corpus labeling is touched by one broadcast-map join. The
    * oracle is q45's full-closure SQL VERBATIM over the union graph: the
    * incremental result must be indistinguishable from a from-scratch
    * recompute — the q153/q162/q165 output-invariance pattern applied to
    * state maintenance. */
  def dedupIncrementalClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.lshJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, k = 64, bands = 32, minJaccard = 0.5)
      .select("id_a", "id_b")
    val touchesNew = pmod(col("id_a"), lit(5)) === 0 ||
      pmod(col("id_b"), lit(5)) === 0
    val oldPairs = Loops.checkpoint(pairs.filter(!touchesNew), eager = true)
    val newPairs = Loops.checkpoint(pairs.filter(touchesNew), eager = true)
    val oldDocs = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id").as("id"))
    // yesterday's labeling: components over yesterday's pairs, singletons
    // label themselves (the q45 coalesce rule)
    val existing = oldDocs
      .join(Dedup.connectedComponentsLogRoundsStrict(oldPairs), Seq("id"),
        "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    val newNodes = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id").as("id"))
    Dedup.updateComponents(existing, newPairs, newNodes)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .orderBy("doc_id")
  }
  // q186: q45's full-closure oracle VERBATIM — the incremental update
  // must be indistinguishable from a from-scratch recompute over the
  // union graph (the q153 shared-oracle output-invariance pattern).
  query("q186_dedup_incremental_cc", dedupIncrementalClusters, bench = true,
    oracle = OracleSql(dedupClosureOracle))

  /** Duplication profile of the corpus — the cluster-size histogram over
    * the q45 end-to-end dedup assignment: how many clusters of each size
    * exist (size 1 = unique documents). The first number a curation run
    * reports, and the shape that decides whether near-dup pruning is worth
    * a pass at all. Two tiny rollups on top of the q45 plan; oracled by the
    * same recursive-CTE closure extended with the identical double
    * GROUP BY. */
  def dedupClusterSizes(s: SparkSession, dir: String): DataFrame =
    dedupClustersCorpus(s, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")
  // q68: the q45 closure extended with the identical two-level rollup —
  // cluster sizes, then clusters per size.
  query("q68_dedup_cluster_sizes", dedupClusterSizes, bench = false, oracle = OracleSql(
    s"""WITH RECURSIVE $shingleJaccardCte,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM j WHERE jac >= 0.5
       |  UNION ALL
       |  SELECT id_b, id_a FROM j WHERE jac >= 0.5),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS lab FROM documents
       |  UNION
       |  SELECT r.id, e.v AS lab FROM reach r JOIN edges e ON e.u = r.lab),
       |assign AS (
       |  SELECT id AS doc_id, min(lab) AS cluster_id
       |  FROM reach GROUP BY 1),
       |cs AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM assign GROUP BY 1)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
       |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Corpus-wide repeated-span report ([[graft.operators.SpanDedup.spanReport]]):
    * every 8-token span occurring in ≥2 distinct documents, with distinct-doc
    * and occurrence counts — the exact-substring duplication audit (Lee et
    * al. 2021) at sub-line granularity, between q15's whole-document and
    * q64's whole-line screens. On this corpus the 1000+ spans are precisely
    * the planted near-duplicate overlaps. DuckDB-oracled end-to-end (same
    * tokenizer mirror as q16, spans via inclusive list slices). */
  def spanDupes(s: SparkSession, dir: String): DataFrame =
    SpanDedup.spanReport(T(s, dir, "documents"), "doc_id", "text", n = 8)
      .orderBy(desc("n_docs"), desc("n_occurrences"), col("span"))
  // q71/q72: spans as inclusive 8-element list slices over the same
  // tokenizer mirror as q16; positions are 0-based like Spark's posexplode.
  query("q71_span_dupes", spanDupes, bench = false, oracle = OracleSql(
    s"""WITH toks AS (
      |$spanGramsSql
      |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS span FROM gidx)
      |SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
      |ORDER BY n_docs DESC, n_occurrences DESC, span""".stripMargin))

  /** Exact-substring span removal ([[graft.operators.SpanDedup.scrubSpans]]):
    * duplicated 8-token spans are cut from every document EXCEPT the
    * lexicographically first occurrence (min doc_id, then min start pos) —
    * the all-but-one policy, so a near-dup pair resolves to the lower-id
    * copy intact and the other's duplicated portion removed. Returns
    * per-doc token counts and the rebuilt text; DuckDB-oracled end-to-end
    * including the rebuilt strings (anti-join on covered token indices,
    * order-preserving string_agg). */
  def spanScrub(s: SparkSession, dir: String): DataFrame =
    SpanDedup.scrubSpans(T(s, dir, "documents"), "doc_id", "text", n = 8)
      .orderBy("doc_id")
  // q72: all-but-one span removal replayed relationally — canonical
  // occurrence via two-step min (doc then pos), covered token indices via
  // unnested offsets, rebuild via anti-join + order-preserving string_agg.
  query("q72_span_scrub", spanScrub, bench = true, oracle = OracleSql(
    s"""WITH toks AS (
      |$spanGramsSql
      |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS span FROM gidx),
      |dup AS (SELECT span FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
      |dupocc AS (SELECT g.doc_id, g.pos, g.span FROM grams g JOIN dup USING (span)),
      |kdoc AS (SELECT span, min(doc_id) AS kdoc FROM dupocc GROUP BY 1),
      |keeper AS (SELECT d.span, d.doc_id AS kdoc, min(d.pos) AS kpos
      |           FROM dupocc d JOIN kdoc k ON d.span = k.span AND d.doc_id = k.kdoc
      |           GROUP BY 1, 2),
      |hits AS (
      |  SELECT DISTINCT d.doc_id, d.pos
      |  FROM dupocc d LEFT JOIN keeper k
      |    ON d.span = k.span AND d.doc_id = k.kdoc AND d.pos = k.kpos
      |  WHERE k.span IS NULL),
      |cidx AS (SELECT doc_id, pos, unnest(generate_series(0, 7)) AS o FROM hits),
      |covered AS (SELECT DISTINCT doc_id, pos + o AS idx FROM cidx),
      |tokidx AS (
      |  SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS idx
      |  FROM toks WHERE n_tokens > 0),
      |kept AS (
      |  SELECT k.doc_id, k.idx, k.tok
      |  FROM tokidx k ANTI JOIN covered c ON k.doc_id = c.doc_id AND k.idx = c.idx),
      |rebuilt AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY idx) AS text_scrubbed
      |  FROM kept GROUP BY 1)
      |SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(t.n_tokens - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
      |  coalesce(r.text_scrubbed, '') AS text_scrubbed
      |FROM toks t LEFT JOIN rebuilt r USING (doc_id)
      |ORDER BY doc_id""".stripMargin))

  /** Planted embedding clusters for the SemDeDup fixture oracle: three tight
    * direction clusters in 4-d (within-cluster cosines ≥ 0.99, cross-cluster
    * ≈ 0) plus one dimension-mismatched corrupt row the kernel must exclude.
    * Deterministic end-to-end (hash-gated sample, fixed-order k-means,
    * exact cosine gate), so the expected assignment is frozen VALUES. */
  private[graft] def semDedupFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.045f, 0.0f, 0.0f)),
      (3L, Seq(0.998f, -0.06f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (5L, Seq(0.0f, 0.999f, 0.045f, 0.0f)),
      (6L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (7L, Seq(1.0f)) // corrupt: wrong dimension, must be excluded
    ).toDF("vec_id", "embedding")
  }

  /** SemDeDup semantic dedup assignment ([[graft.operators.SemDedup]],
    * Abbas et al. 2023) on the planted cluster fixture: k-means bucketing →
    * within-cluster exact-cosine pairs → connected components → min-id
    * canonical pick. Fixture-oracled (VALUES) like the other approximate-
    * kernel twins (q39/q47/q48): the real-corpus scale path is exercised in
    * `VectorSpec` against the exact q27 pair scan. */
  def semDedupFixtureQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.SemDedup.assign(
      semDedupFixture(s), "vec_id", "embedding",
      threshold = 0.99, nClusters = 2, iters = 4)
      .orderBy("id")
  // q76: frozen-constant oracle over the planted clusters (see
  // semDedupFixture's Scaladoc — the kernel is deterministic end-to-end,
  // same pattern as q39/q47/q48): components {1,2,3} and {4,5} collapse to
  // their min ids, the singleton keeps itself, the corrupt row vanishes.
  query("q76_semdedup_fixture", semDedupFixtureQ, bench = false, oracle = OracleSql(
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), true),
      |  (2, 1, false),
      |  (3, 1, false),
      |  (4, 4, true),
      |  (5, 4, false),
      |  (6, 6, true)
      |) v(id, canonical_id, keep)
      |ORDER BY id""".stripMargin))

  /** Edit-distance similarity join over document title prefixes
    * ([[graft.operators.EditDistance.editDistancePairs]], Pass-Join segment
    * pigeonhole): every document pair whose 32-char prefix is within
    * levenshtein 2 — the fuzzy-title dedup a crawl pipeline runs on
    * near-identical headlines/URLs, EXACT output (candidates from the
    * segment equi-join can only over-generate; the bounded levenshtein
    * keeps true pairs), never an all-pairs scan. */
  def editDistJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.EditDistance.editDistancePairs(
      T(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 32).as("prefix")),
      "doc_id", "prefix", k = 2)
      .orderBy("id_a", "id_b")
  // q137: DuckDB states the naive quadratic form; the Spark side's
  // segment-join rewrite must reproduce it pair-for-pair (both distances
  // are classic unit-cost levenshtein on identical prefixes).
  query("q137_editdist_join", editDistJoin, bench = true, oracle = OracleSql(
    """WITH d AS (
      |  SELECT doc_id, substr(text, 1, 32) AS s FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS distance
      |FROM d a JOIN d b ON a.doc_id < b.doc_id
      |WHERE levenshtein(a.s, b.s) <= 2
      |ORDER BY id_a, id_b""".stripMargin))
}
