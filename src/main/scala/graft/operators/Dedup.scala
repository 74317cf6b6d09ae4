package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Text, VectorExpressions => V}

/** Document deduplication at scale: MinHash + LSH banding for
  * near-duplicates.
  *
  * The banding layout makes near-dup detection O(n · bands) instead of O(n²):
  * the only shuffles are (1) the band-bucket self-join keyed on
  * (band_index, band_hash) and (2) the distinct over candidate pairs. No
  * all-pairs stage exists anywhere in the plan — at 100 TB the bucket join is
  * the difference between a job and a non-starter. Skewed buckets (e.g. a
  * boilerplate shingle shared by millions of docs) are AQE skew-join territory;
  * for pathological cases cap bucket width upstream by salting the band hash.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** MinHash-LSH near-duplicate candidate pairs, verified by estimated Jaccard
    * (fraction of agreeing MinHash slots). Output: (id_a, id_b, est_jaccard)
    * with id_a < id_b, est_jaccard >= `minEstJaccard`.
    *
    * Pipeline: word shingles → k-slot MinHash signature → `bands` band hashes
    * (xxhash64 over each signature slice) → self-join on (band, hash) carrying
    * the signatures → per-pair dedupe → signature agreement check.
    *
    * Single-pass: each document is scanned and hashed ONCE, with the
    * signature travelling through the band join (8·k bytes/doc × bands of
    * shuffle). See [[minhashPairsRejoin]] for the lighter-shuffle variant —
    * bench-measured FASTER at sf0.1 (median 1.4 s vs 1.5 s; the per-pair
    * `first(signature)` aggregation here outweighs the extra scans there) —
    * which is the registered/benched default; this form wins only when
    * rescanning the corpus is expensive relative to shuffle (very wide rows,
    * remote cold storage). Fully lazy: no persist, no hidden side effects.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      minEstJaccard: Double = 0.5): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val r = k / bands
    val sigs = df.select(
      col(idCol).as("__id"),
      V.minhash_signature(Text.shingles(col(textCol), shingleSize), k).as("__sig"))

    val banded = sigs.select(
      col("__id"), col("__sig"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("__sig"), b * lit(r) + lit(1), lit(r))))))
      .toDF("__id", "__sig", "__band", "__bh")

    banded.select(col("__band"), col("__bh"), col("__id").as("id_a"), col("__sig").as("__sig_a"))
      .join(banded.select(col("__band"), col("__bh"), col("__id").as("id_b"),
        col("__sig").as("__sig_b")), Seq("__band", "__bh"))
      .filter(col("id_a") < col("id_b"))
      // a pair matching in several bands appears once per band; keep one
      .groupBy("id_a", "id_b")
      .agg(first(col("__sig_a")).as("__sig_a"), first(col("__sig_b")).as("__sig_b"))
      .withColumn("est_jaccard",
        aggregate(
          zip_with(col("__sig_a"), col("__sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Signature-rejoin variant of [[minhashPairs]]: the band self-join carries
    * only (band, band_hash, id) — ~16 bytes/doc/band of shuffle instead of
    * ~16 + 8·k — and the k-slot signatures are equi-joined back onto the
    * DEDUPED candidate pairs for the agreement check, at the cost of
    * recomputing the signatures on both rejoin sides (the corpus is
    * re-shingled/hashed 2 extra times; with no persist the pipeline stays
    * lazy and side-effect free, same contract as the single-pass form).
    *
    * Crossover: the single-pass form shuffles ~8·k·bands B/doc through the
    * band join AND aggregates `first(signature)` per candidate pair; this
    * form trades both for 2 extra scans + 2 candidate equi-joins.
    * Bench-measured at sf0.1 (5 000 docs, k=64, bands=16, median of 3 after
    * warm-up, three sessions): rejoin 1.37–1.40 s vs single-pass
    * 1.47–1.59 s — the payload-free band join + pair dedup beats carrying
    * 8 KB/doc signatures through them, so THIS form is the registered and
    * benched q20. The gap widens at scale (shuffle bytes grow with k·bands)
    * and reverses only when rescanning the corpus is the expensive side
    * (very wide rows, remote cold storage without a cached signature table).
    * Emits pairs identical to [[minhashPairs]] (equivalence spec).
    */
  def minhashPairsRejoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      minEstJaccard: Double = 0.5): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val r = k / bands
    def sigs = df.select(
      col(idCol).as("__id"),
      V.minhash_signature(Text.shingles(col(textCol), shingleSize), k).as("__sig"))

    val banded = sigs.select(
      col("__id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("__sig"), b * lit(r) + lit(1), lit(r))))))
      .toDF("__id", "__band", "__bh")

    val cand = banded.select(col("__band"), col("__bh"), col("__id").as("id_a"))
      .join(banded.select(col("__band"), col("__bh"), col("__id").as("id_b")),
        Seq("__band", "__bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    cand
      .join(sigs.select(col("__id").as("id_a"), col("__sig").as("__sig_a")), Seq("id_a"))
      .join(sigs.select(col("__id").as("id_b"), col("__sig").as("__sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        aggregate(
          zip_with(col("__sig_a"), col("__sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** LSH-gated EXACT-Jaccard near-duplicate pairs — the query production
    * dedup actually runs: "all document pairs with shingle-set Jaccard ≥ τ".
    * Candidates come from the payload-free MinHash band join (same layout as
    * [[minhashPairsRejoin]]); the DISTINCT shingle sets are then equi-joined
    * back onto the deduped candidates and the TRUE Jaccard
    * |A∩B| / |A∪B| is computed and thresholded. Emitted values are exact set
    * arithmetic (int division in IEEE double — engine-independent), so the
    * output is DuckDB-oracle-able even though candidate generation is
    * approximate: a pair can only be MISSED, never emitted wrongly, and with
    * `bands` rows of r = k/bands slots the miss probability for a pair at
    * Jaccard j is (1 − j^r)^bands — at the defaults (k=64, bands=32, r=2)
    * that is ~1e-14 for j = 0.8, i.e. recall is certain for any τ with a
    * reasonable margin below the true near-dup band.
    *
    * Scale shape: shingling is scan-local; the band join shuffles ~16
    * bytes/doc/band; the shingle-set rejoin touches only candidate pairs
    * (O(near-dups), not O(n²)). No all-pairs stage exists — the exact
    * alternative (shingle equi-join, what the DuckDB oracle does) explodes
    * on any shingle shared by millions of documents.
    *
    * Docs with fewer than `shingleSize` tokens carry no shingle and are
    * excluded (mirrors the oracle's token-count gate).
    *
    * `neighborCap` (default unlimited) bounds the per-bucket candidate
    * FAN-OUT: each document pairs only with its `neighborCap` successors in
    * id order within a band bucket (a rank-chain, generated by an equi-join
    * on the rank — the quadratic within-bucket cross product is never
    * materialized). The 100× scale ramp (PERF.md) measured the uncapped
    * candidate set growing quadratically with cluster multiplicity — 27.3M
    * pairs at 100× duplication — because those pairs ARE the answer to "list
    * every near-dup pair"; when the goal is CLUSTERING (the q45 shape), a
    * chain is enough: members of a genuine duplicate cluster are mutually
    * similar, so consecutive-rank edges pass the Jaccard gate and
    * transitivity reconnects the cluster in CC, at O(n·cap) candidates
    * instead of O(n²). The tradeoff is explicit: pair LISTING recall is
    * sacrificed (only chain edges are emitted), and a bucket mixing two
    * different clusters in interleaved id order can miss an intra-cluster
    * edge if the cap is 1 — use cap ≥ 2 and reserve capping for
    * extreme-duplication clustering runs. */
  def lshJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 64,
      bands: Int = 32,
      minJaccard: Double = 0.5,
      neighborCap: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    // only the exact Int.MaxValue sentinel selects the uncapped branch; a
    // merely-huge cap would run the chain path, where rank + cap must not
    // overflow Int (sequence() would wrap negative) and each banded row
    // fans out cap rows — bound it to values where capping is meaningful
    require(neighborCap >= 1 &&
      (neighborCap == Int.MaxValue || neighborCap <= (1 << 20)),
      s"neighborCap must be in [1, 2^20] or Int.MaxValue=uncapped (got $neighborCap)")
    val r = k / bands
    def shingleSets = df
      .filter(Text.tokenCount(col(textCol)) >= shingleSize)
      .select(
        col(idCol).as("__id"),
        array_distinct(Text.shingles(col(textCol), shingleSize)).as("__sh"))

    val banded = shingleSets
      .select(col("__id"), V.minhash_signature(col("__sh"), k).as("__sig"))
      .select(
        col("__id"),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("__sig"), b * lit(r) + lit(1), lit(r))))))
      .toDF("__id", "__band", "__bh")

    val cand =
      if (neighborCap == Int.MaxValue)
        banded.select(col("__band"), col("__bh"), col("__id").as("id_a"))
          .join(banded.select(col("__band"), col("__bh"), col("__id").as("id_b")),
            Seq("__band", "__bh"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
          .distinct()
      else {
        // rank within the bucket, then pair rank i with ranks i+1..i+cap via
        // a pure equi-join on the rank — no range predicate, so no
        // within-bucket cross product is ever built. Rank order is id order,
        // hence id_a < id_b by construction.
        val ranked = banded.withColumn("__rk",
          row_number().over(Window.partitionBy("__band", "__bh").orderBy("__id")))
        ranked
          .select(col("__band"), col("__bh"), col("__id").as("id_a"),
            explode(sequence(col("__rk") + 1, col("__rk") + neighborCap)).as("__rk"))
          .join(
            ranked.select(col("__band"), col("__bh"), col("__id").as("id_b"), col("__rk")),
            Seq("__band", "__bh", "__rk"))
          .select("id_a", "id_b")
          .distinct()
      }

    cand
      .join(shingleSets.select(col("__id").as("id_a"), col("__sh").as("__sh_a")), Seq("id_a"))
      .join(shingleSets.select(col("__id").as("id_b"), col("__sh").as("__sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double") /
          size(array_union(col("__sh_a"), col("__sh_b"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT set-similarity self-join via the PREFIX FILTER (the
    * SSJoin/PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08):
    * every pair with distinct-shingle Jaccard ≥ `minJaccard`, with PROVABLY
    * COMPLETE candidates — the deterministic alternative to
    * [[lshJaccardPairs]]' banded MinHash gate, whose miss probability is
    * astronomically small but not zero. Shingles order canonically by
    * (global df, shingle) — rarest first — and each document exposes only
    * its first `|d| − ⌈t·|d|⌉ + 1` shingles in that order: if J(a,b) ≥ t
    * then |a∩b| ≥ ⌈t/(1+t)·(|a|+|b|)⌉, and the pigeonhole on the shared
    * canonical order forces the two prefixes to intersect (the PPJoin
    * prefix theorem; our doc-independent prefix is ≥ the pair-optimal one,
    * so it only widens candidates). Pairs that cannot reach t on sizes
    * alone (`|b| < t·|a|`) are cut before the distinct.
    *
    * Scale shape: candidates meet ONLY through prefix-shingle equi-joins —
    * and prefixes are mostly RARE shingles (low df ⇒ tiny join fan-out;
    * the boilerplate shingles that explode the exhaustive q46 oracle join
    * sit at the END of the canonical order and never enter a prefix unless
    * a document is almost all boilerplate). Verification is per-candidate
    * array arithmetic on the rejoined shingle sets — exactly
    * [[lshJaccardPairs]]' verify step, so emitted Jaccards are
    * bit-identical and the two kernels share one oracle. */
  def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1] (got $minJaccard)")
    def shingleSets = df
      .filter(Text.tokenCount(col(textCol)) >= shingleSize)
      .select(
        col(idCol).as("__id"),
        array_distinct(Text.shingles(col(textCol), shingleSize)).as("__sh"))
    val exploded = shingleSets
      .select(col("__id"), size(col("__sh")).as("__n"), explode(col("__sh")).as("__s"))
    val dfs = exploded.groupBy("__s").agg(count(lit(1)).as("__df"))
    // deliberately NOT materialized: the prefix frame feeds both sides of
    // the candidate self-join as an IDENTICAL subtree, so the planner
    // reuses its exchange (ReusedExchange — one execution); an eager
    // localCheckpoint was measured 2.2× SLOWER at sf0.1 (16.3 s vs 7.3 s —
    // block-manager round-trip of millions of string rows beats recompute
    // only when reuse is impossible, and here it isn't)
    val prefixes = exploded
      .join(dfs, Seq("__s"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("__s"))))
      .filter(col("__rk") <= col("__n") - ceil(col("__n") * minJaccard) + lit(1))
      .select(col("__s"), col("__id"), col("__n"))
    val cand = prefixes.toDF("__s", "id_a", "__na")
      .join(prefixes.toDF("__s", "id_b", "__nb"), Seq("__s"))
      .filter(col("id_a") < col("id_b") &&
        col("__nb").cast("double") >= col("__na") * minJaccard &&
        col("__na").cast("double") >= col("__nb") * minJaccard)
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(shingleSets.select(col("__id").as("id_a"), col("__sh").as("__sh_a")), Seq("id_a"))
      .join(shingleSets.select(col("__id").as("id_b"), col("__sh").as("__sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double") /
          size(array_union(col("__sh_a"), col("__sh_b"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric (two-table) form of [[lshJaccardPairs]]: every (new doc,
    * corpus doc) pair with exact distinct-shingle Jaccard ≥ `minJaccard`,
    * candidates gated by the same MinHash band equi-join — the TEXT
    * counterpart of [[graft.operators.Ann.blockPairsAboveJoin]] and the
    * kernel an incremental ingest runs per batch: screen the arriving
    * documents against the standing corpus WITHOUT re-pairing the corpus
    * with itself (the n² term a symmetric rerun would re-pay on every
    * batch). Output: (new_id, corpus_id, jaccard) — ids are NOT compared,
    * so the two tables may share an id space or not; within-side pairs are
    * never formed by construction.
    *
    * Scale shape: shingling and signatures are scan-local on both sides;
    * the only shuffles are the band equi-join keyed on (band, band-hash) —
    * with a daily-batch-sized `newDf` the banded new side falls under the
    * broadcast threshold (the build side is size-picked, AQE re-picks at
    * runtime), so THE CORPUS NEVER SHUFFLES — the candidate distinct, and
    * the candidates-only shingle rejoin. Same miss-probability math as the
    * symmetric form: at k=64/bands=32, P[miss] ≈ (1−J²)³² — 1e-14 at
    * J=0.8. */
  def lshJaccardPairsJoin(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 64,
      bands: Int = 32,
      minJaccard: Double = 0.5): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val r = k / bands
    def shingleSets(df: DataFrame) = df
      .filter(Text.tokenCount(col(textCol)) >= shingleSize)
      .select(
        col(idCol).as("__id"),
        array_distinct(Text.shingles(col(textCol), shingleSize)).as("__sh"))
    def banded(df: DataFrame) = shingleSets(df)
      .select(col("__id"), V.minhash_signature(col("__sh"), k).as("__sig"))
      .select(
        col("__id"),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("__sig"), b * lit(r) + lit(1), lit(r))))))
      .toDF("__id", "__band", "__bh")

    val cand = banded(newDf)
      .select(col("__band"), col("__bh"), col("__id").as("new_id"))
      .join(banded(corpusDf)
        .select(col("__band"), col("__bh"), col("__id").as("corpus_id")),
        Seq("__band", "__bh"))
      .select("new_id", "corpus_id")
      .distinct()

    cand
      .join(shingleSets(newDf)
        .select(col("__id").as("new_id"), col("__sh").as("__sh_a")), Seq("new_id"))
      .join(shingleSets(corpusDf)
        .select(col("__id").as("corpus_id"), col("__sh").as("__sh_b")), Seq("corpus_id"))
      .withColumn("jaccard",
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double") /
          size(array_union(col("__sh_a"), col("__sh_b"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** Portable 32-bit SimHash over the whitespace tokens of `textCol`,
    * appended as long column `outCol` (value in [0, 2³²)). Bit j is set iff
    * at least half of the document's tokens — multiset, duplicates vote once
    * per occurrence; ties round UP — carry bit j in the first 32 bits of
    * their md5. Built ONLY from expressions with bit-identical equivalents
    * in other engines (md5, hex-nibble arithmetic, shifts), so the q50
    * DuckDB oracle recomputes the fingerprint independently from the raw
    * text — unlike [[graft.functions.VectorExpressions.simhash64]], whose
    * FNV-1a inner hash needs 64-bit wrapping multiplication no SQL oracle
    * can restate. Production pipelines wanting 64-bit Manku-style
    * fingerprints feed simhash64 into [[hammingNearDupPairs]] (bits = 64)
    * instead; the banding kernel is width-agnostic.
    *
    * Evaluated by the native [[graft.functions.VectorExpressions.SimHash32Md5]]
    * kernel (one md5 + vote loop per token, inside WholeStageCodegen).
    * Oracle-ability is a property of the FORMULA, not the execution path: the
    * q50 DuckDB oracle restates the same md5-nibble arithmetic in SQL, and
    * VectorSpec pins frozen fingerprint constants so the native kernel cannot
    * drift from it. (The declarative 32-aggregate form this replaced was
    * CodegenFallback — 33 interpreted expression-tree walks per row — and
    * read 8.8× in the r11 driver bench.)
    */
  def withSimhash32(df: DataFrame, textCol: String, outCol: String): DataFrame =
    df.withColumn(outCol,
      graft.functions.VectorExpressions.simhash32md5(Text.tokens(col(textCol))))

  /** ALL pairs whose long fingerprints differ in at most `maxHamming` of the
    * low `bits` bits — EXACT output from a banded LSH plan: the fingerprint
    * is split into maxHamming+1 contiguous bit bands, and by pigeonhole any
    * pair within the Hamming budget agrees exactly on at least one band, so
    * the (band_index, band_value) self-equi-join has recall 1 BY CONSTRUCTION
    * (not probabilistically, like MinHash banding) and the exact
    * `bit_count(xor)` filter on candidates makes precision 1. This is the
    * classic web-dedup criterion (Manku et al., WWW'07: hamming ≤ 3 over
    * 64-bit SimHash) as a shuffle-bounded Spark plan.
    *
    * Output: (id_a, id_b, hamming) with id_a < id_b, hamming ≤ maxHamming.
    *
    * Scale shape: no all-pairs stage — the only shuffles are the band
    * equi-join (bands·n rows of ~24 bytes) and the candidate distinct. The
    * 8-byte fingerprint travels THROUGH the band join (unlike the MinHash
    * kernels' payload-free rejoin: there the payload is an 8·k-byte
    * signature; here carrying 8 bytes is cheaper than 2 extra corpus scans
    * + rejoins). Band width is bits/(maxHamming+1), so bucket count is
    * 2^width: at 64-bit fingerprints and maxHamming 3 that is 2¹⁶ buckets
    * per band — at crawl scale ADD leading id-salt rounds or raise `bits`
    * coverage per Manku's table-rotation scheme if a band's bucket grows
    * hot (AQE skew handling covers moderate skew).
    */
  def hammingNearDupPairs(
      fps: DataFrame,
      idCol: String,
      fpCol: String,
      bits: Int = 64,
      maxHamming: Int = 3): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64] (got $bits)")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, bits) (got $maxHamming for bits=$bits)")
    val bands = maxHamming + 1
    // widths as equal as possible; pigeonhole needs only "bands disjoint
    // pieces covering all compared bits", not equal widths
    val base = bits / bands
    val rem = bits % bands
    val widths = Seq.tabulate(bands)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val bandExprs = widths.zip(offsets).map { case (w, off) =>
      val shifted = shiftrightunsigned(col("__fp"), off)
      if (w == 64) shifted else shifted.bitwiseAND(lit((1L << w) - 1))
    }
    // mask to the declared width: callers may hand a 32-bit fingerprint in a
    // long column; bits outside the declared width must not affect hamming
    val fpMasked =
      if (bits == 64) col(fpCol).cast("long")
      else col(fpCol).cast("long").bitwiseAND(lit((1L << bits) - 1))
    val banded = fps.select(col(idCol).as("__id"), fpMasked.as("__fp"))
      .select(col("__id"), col("__fp"), posexplode(array(bandExprs: _*)))
      .toDF("__id", "__fp", "__band", "__bv")
    banded.select(col("__band"), col("__bv"), col("__id").as("id_a"), col("__fp").as("__fp_a"))
      .join(banded.select(col("__band"), col("__bv"), col("__id").as("id_b"),
        col("__fp").as("__fp_b")), Seq("__band", "__bv"))
      .filter(col("id_a") < col("id_b"))
      // exact hamming filter BEFORE the candidate distinct: band-value
      // collisions between far-apart fingerprints (the overwhelming majority
      // of candidates on a random corpus) die map-side in the join stage, so
      // the distinct exchange shuffles ~true-pair rows, not every collision
      .withColumn("hamming",
        bit_count(col("__fp_a").bitwiseXOR(col("__fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      // a pair within budget can agree on several bands (appears once per
      // band); hamming is a pure function of the pair, so this dedupes exactly
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** SimHash near-duplicate pairs over raw text: portable 32-bit fingerprint
    * ([[withSimhash32]]) + banded Hamming self-join ([[hammingNearDupPairs]]).
    * Exact for the stated criterion, hence DuckDB-oracle-able end-to-end
    * from the text (q50).
    *
    * The `(id, fp)` projection is pinned behind an id-keyed repartition so
    * the self-join's two sides share ONE exchange (ReuseExchange: identical
    * canonicalized subtrees below the differing aliases) — the text is
    * scanned and fingerprinted once, not once per side. The extra shuffle is
    * 16 bytes/row; the saving is a full corpus scan + md5-per-token pass. */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 2): DataFrame =
    hammingNearDupPairs(
      withSimhash32(df.select(col(idCol), col(textCol)), textCol, "__simhash32")
        .select(col(idCol), col("__simhash32"))
        .repartition(col(idCol)),
      idCol, "__simhash32", bits = 32, maxHamming = maxHamming)

  /** Connected components in O(log n) ROUNDS via alternating large-star /
    * small-star (the public two-phase MapReduce CC algorithm of Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SOCC'14): every
    * round each node re-links to the minimum of its closed neighborhood,
    * which at least halves path lengths — a 64-node chain converges in ~8
    * rounds where one-hop min-label propagation needs 63. Same output
    * contract as [[connectedComponents]]: (id, comp) with comp the smallest
    * reachable id, only ids appearing in some pair (including ids seen only
    * in self-pairs, which form singleton components), checkpoint-backed.
    * If `maxIter` rounds pass without reaching the fixed point the result
    * may be partial (components not fully merged): a warning is logged
    * (note a run that converges exactly on the last allowed round also
    * reports `maxIter` rounds — use [[connectedComponentsLogRoundsStrict]]
    * for an unambiguous programmatic signal).
    *
    * Use THIS for edge sets whose cluster diameter is unknown or large
    * (template-evolution chains over a whole crawl); the propagation form
    * stays the default for near-dup clusters, whose diameter is small and
    * whose per-round cost is lower (one join vs two grouped star steps).
    * Each round is two shuffle-bounded aggregations over the current edge
    * set — no driver-side graph, no adjacency materialization beyond the
    * grouped neighborhood mins.
    */
  /** Edge/node bound under which components run as a DRIVER union-find
    * instead of distributed star rounds. A 2^20-edge graph is ~16 MB of
    * (long, long) on the driver — the bounded-collect posture of centroid
    * tables and probed-cell sets — while the star rounds pay ~10 fixed-cost
    * jobs (two shuffled aggregations + checkpoint + convergence checksum per
    * round) that DOMINATE tiny graphs: the exact-gated near-dup pair graph
    * is usually orders of magnitude smaller than the corpus (measured: 4.8 s
    * of pure round overhead on a 256-edge graph at bench SF). Output is
    * IDENTICAL (comp = min reachable id, path-compressed union-by-min), the
    * gate is measured on the already-materialized edge cache (no extra
    * pass), and anything larger takes the distributed path unchanged — the
    * 100 TB shape. Pass `smallGraphMax = 0` to force the distributed path
    * (the spec dial). */
  val SmallGraphMaxEdges: Int = 1 << 20

  /** Driver union-find: comp = smallest reachable id (union-by-min roots +
    * path compression), exactly the distributed fixed point. */
  private def unionFindComp(
      edges: Array[(Long, Long)], nodes: Array[Long]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.map(n => (n, find(n)))
  }

  def connectedComponentsLogRounds(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 30,
      smallGraphMax: Int = SmallGraphMaxEdges): (DataFrame, Int) =
    logRoundsImpl(pairs, idA, idB, maxIter, strict = false, smallGraphMax) match {
      case (df, iter, _) => (df, iter)
    }

  /** [[connectedComponentsLogRounds]] that THROWS on `maxIter` exhaustion
    * instead of returning a possibly-partial clustering — the right form for
    * pipelines that feed the components into downstream decisions (canonical
    * id assignment) with no human looking at logs. Throws BEFORE the final
    * component join/checkpoint, so the failure path does no extra cluster
    * work beyond the rounds themselves. */
  def connectedComponentsLogRoundsStrict(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 30,
      smallGraphMax: Int = SmallGraphMaxEdges): DataFrame =
    connectedComponentsLogRoundsStrictWithStats(pairs, idA, idB, maxIter, smallGraphMax)._1

  /** [[connectedComponentsLogRoundsStrict]] plus the number of star rounds it
    * took to reach the fixed point — the observability handle for corpus-scale
    * runs, where the round count IS the cost model (two shuffled aggregations
    * per round) and a diameter regression should be visible, not silent. */
  def connectedComponentsLogRoundsStrictWithStats(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 30,
      smallGraphMax: Int = SmallGraphMaxEdges): (DataFrame, Int) =
    logRoundsImpl(pairs, idA, idB, maxIter, strict = true, smallGraphMax) match {
      case (df, iter, _) => (df, iter)
    }

  private def logRoundsImpl(
      pairs: DataFrame,
      idA: String,
      idB: String,
      maxIter: Int,
      strict: Boolean,
      smallGraphMax: Int = SmallGraphMaxEdges): (DataFrame, Int, Boolean) = {
    // star step: symmetrize, take each node's closed-neighborhood min, and
    // re-point the selected side of every edge at that min.
    //   large = true : neighbors v > u re-link to min(N(u) ∪ {u})
    //   large = false: neighbors v <= u (and u itself) re-link to the min
    def star(edges: DataFrame, large: Boolean): DataFrame = {
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val joined = sym.join(mins, Seq("u"))
      val relinked =
        if (large) joined.filter(col("v") > col("u")).select(col("v").as("u"), col("m").as("v"))
        else joined.filter(col("v") <= col("u")).select(col("v").as("u"), col("m").as("v"))
          .union(mins.select(col("u"), col("m").as("v")))
      relinked.filter(col("u") =!= col("v")).distinct()
    }
    def checksum(edges: DataFrame): (Long, Long) = {
      val r = edges.agg(
        count(lit(1)).as("n"),
        // bit_xor: order-independent and cannot overflow under ANSI mode
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // persist the cast input FIRST: nodes and edges both derive from it, and
    // without a shared cache the two actions below would each recompute the
    // full upstream pair pipeline (e.g. shingle → minhash → band join)
    val idPairs = pairs.select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
      .persist()
    // node set comes from the RAW pairs, BEFORE self-loops are dropped: an id
    // appearing only as (x, x) is a singleton component, same as in
    // [[connectedComponents]] — filtering first would silently lose it
    val nodes = idPairs.select(col("u").as("id"))
      .union(idPairs.select(col("v").as("id"))).distinct().persist()
    val nodeCount = nodes.count() // pin the input node set before edges start mutating
    var edges = idPairs.filter(col("u") =!= col("v")).distinct().persist()
    var sig = checksum(edges) // materializes the edges cache
    idPairs.unpersist() // nodes + edges are pinned; the input cache is done
    // small-graph fast path (see [[SmallGraphMaxEdges]]): both counts are
    // already materialized, so the gate costs nothing extra
    if (nodeCount <= smallGraphMax && sig._1 <= smallGraphMax) {
      val nodeArr = nodes.collect().map(_.getLong(0))
      val edgeArr = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist()
      nodes.unpersist()
      val spark = pairs.sparkSession
      import spark.implicits._
      val comp = spark.createDataset(unionFindComp(edgeArr, nodeArr).toIndexedSeq)
        .toDF("id", "comp")
      return (comp, 0, true)
    }
    var iter = 0
    var converged = false
    // superseded round frames are freed explicitly (r18): Dataset.unpersist
    // is a no-op on a checkpoint-backed frame, so the per-round checkpoints
    // used to live until the ContextCleaner noticed them
    while (!converged && iter < maxIter) {
      // checkpoint EVERY round: one star step references its input three
      // times (symmetrized edges, neighborhood mins, relink), so the logical
      // plan would multiply >10x per round and Catalyst analysis goes
      // exponential without a per-round lineage cut (measured: minutes of
      // pure planning by round ~5). The round output is just the edge set —
      // the localCheckpoint keeps every round's plan constant-size, and the
      // checksum right below is its materializing action (r18b: one job
      // per round where the eager checkpoint + checksum pair was two)
      val next = Loops.checkpoint(
        star(star(edges, large = true), large = false), eager = false)
      val nextSig = checksum(next)
      // round 1 releases the initial persisted frame
      if (iter == 0) edges.unpersist() else Loops.free(edges)
      edges = next
      converged = nextSig == sig
      sig = nextSig
      iter += 1
    }
    if (!converged) {
      if (strict) {
        // fail BEFORE the component join/checkpoint: the result would be
        // discarded anyway, and at crawl scale that final eager stage is
        // real cluster time
        edges.unpersist()
        nodes.unpersist()
        throw new IllegalStateException(
          s"connected components did not converge within $iter rounds — " +
            "raise maxIter (diameter after star-halving still too large) or inspect the edge set")
      }
      log.warn(s"connectedComponentsLogRounds exhausted maxIter=$maxIter without " +
        "converging — the returned components may be partial (unmerged). " +
        "Use connectedComponentsLogRoundsStrict to fail instead of warn.")
    }
    // at the fixed point every edge points a node at its component root (the
    // component min); roots themselves carry no outgoing edge, so default to
    // self for them (and for isolated-after-distinct nodes)
    val comp = nodes
      .join(edges.select(col("u").as("id"), col("v").as("__c")), Seq("id"), "left")
      .groupBy("id").agg(coalesce(min(col("__c")), first(col("id"))).as("comp"))
    val result = Loops.checkpoint(comp, eager = true)
    edges.unpersist()
    nodes.unpersist()
    (result, iter, converged)
  }

  /** Connected components over a pair list (small-id label propagation):
    * returns (id, comp) where comp is the smallest id reachable from id.
    * Iterative — O(diameter) joins, each a shuffle on id; near-dup clusters
    * are shallow (diameter is small), so this converges in a few rounds.
    * Only ids that appear in some pair are returned. The result frame is
    * checkpoint-backed (storage reclaimed by the ContextCleaner when it
    * becomes unreachable); `unpersist()` on it is a no-op — see
    * [[connectedComponentsWithStats]] for the full storage lifecycle.
    */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      smallGraphMax: Int = SmallGraphMaxEdges): DataFrame =
    connectedComponentsWithStats(pairs, idA, idB, maxIter, smallGraphMax)._1

  /** [[connectedComponents]] plus the number of propagation rounds it took to
    * converge (the round that observed zero changes included) — the handle
    * the iteration-count spec pins so a propagation regression (e.g. one that
    * stops converging in O(diameter)) fails in CI.
    *
    * Long chains grow the logical plan linearly per round; every 5th round
    * the frame is `localCheckpoint`ed (eager), truncating lineage so
    * planning cost and serialized task size stay bounded regardless of
    * iteration count.
    *
    * Storage lifecycle: the returned frame is checkpoint-backed, and every
    * loop-internal persist is released before returning — no session-
    * lifetime CacheManager entry leaks from repeated calls (registered query
    * q37 invokes this per run). Checkpoint blocks themselves are reclaimed
    * by the ContextCleaner once the returned frame becomes unreachable;
    * `unpersist()` on it is a no-op by design.
    */
  def connectedComponentsWithStats(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      smallGraphMax: Int = SmallGraphMaxEdges): (DataFrame, Int) = {
    val edges = pairs.select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
      .union(pairs.select(col(idB).cast("long").as("src"), col(idA).cast("long").as("dst")))
      .distinct()
      .persist()
    // small-graph fast path (see [[SmallGraphMaxEdges]]); symmetrized edge
    // count bounds the node count, so one materialized count gates both
    val symCount = edges.count()
    if (symCount <= smallGraphMax) {
      val edgeArr = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist()
      val nodeArr = edgeArr.map(_._1).distinct
      val spark = pairs.sparkSession
      import spark.implicits._
      return (spark.createDataset(unionFindComp(edgeArr, nodeArr).toIndexedSeq)
        .toDF("id", "comp"), 0)
    }
    var comp = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .persist()
    var iter = 0
    var changed = 1L
    var compCheckpointed = false
    while (changed > 0 && iter < maxIter) {
      val prop = edges.join(comp, edges("src") === comp("id"))
        .select(col("dst").as("id"), col("comp"))
      val grown = comp.select("id", "comp").union(prop)
        .groupBy("id").agg(min("comp").as("comp"))
      val checkpointRound = (iter + 1) % 5 == 0
      val next =
        if (checkpointRound) Loops.checkpoint(grown, eager = true) // cut lineage
        else grown.persist()
      changed = next.join(comp.withColumnRenamed("comp", "__old"), Seq("id"))
        .filter(col("comp") =!= col("__old")).count()
      comp.unpersist()
      comp = next
      compCheckpointed = checkpointRound
      iter += 1
    }
    edges.unpersist()
    // hand back a checkpoint-backed frame and drop the loop's cache entry:
    // storage then follows the result's reachability (ContextCleaner), not
    // the session lifetime. A loop that ENDED on a checkpoint round already
    // holds exactly that — don't re-materialize a second full copy.
    if (compCheckpointed) (comp, iter)
    else {
      val result = Loops.checkpoint(comp, eager = true)
      comp.unpersist()
      (result, iter)
    }
  }

  /** INCREMENTAL connected-component maintenance — the daily-crawl form of
    * dedup clustering: yesterday's labeling `existing` (id, comp — comp =
    * MIN member id, the invariant every CC in this file emits) is updated
    * with today's `newPairs` and `newNodes` WITHOUT re-running components
    * over the corpus. The iteration runs on the LABEL GRAPH only — one
    * node per label touched by the increment, one edge per new pair — so
    * its size is bounded by the increment and the components it touches,
    * never by corpus history; the corpus-sized `existing` frame is touched
    * by exactly ONE broadcast-map join (the relabel map is
    * increment-bounded, so the join is a broadcast hash, no shuffle of the
    * labeling). Because each old label IS its component's min id and new
    * ids label themselves, the min label of a merged label-component
    * equals the min member id of the merged component — the result is
    * IDENTICAL to recomputing components on the union graph (q186's
    * output-invariance oracle states exactly that).
    *
    * `newNodes`: today's node increment (id) — isolated new ids surface
    * with self-labels; pair endpoints are included automatically. */
  def updateComponents(
      existing: DataFrame,
      newPairs: DataFrame,
      newNodes: DataFrame): DataFrame = {
    val touched = newPairs.select(col("id_a").as("id"))
      .unionByName(newPairs.select(col("id_b").as("id")))
      .unionByName(newNodes.select(col("id")))
      .distinct()
    // each touched node's CURRENT label (unseen ids label themselves)
    val lbl = Loops.checkpoint(touched.join(existing, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("lbl")),
      eager = true)
    val lblEdges = newPairs
      .join(lbl.toDF("id_a", "__la"), Seq("id_a"))
      .join(lbl.toDF("id_b", "__lb"), Seq("id_b"))
      .select(col("__la").as("id_a"), col("__lb").as("id_b"))
    // components over the label graph — increment-sized, never the corpus
    val merged = connectedComponentsLogRoundsStrict(lblEdges)
    val relabel = Loops.checkpoint(lbl.select(col("lbl")).distinct()
      .join(merged.withColumnRenamed("id", "lbl"), Seq("lbl"), "left_outer")
      .select(col("lbl"), coalesce(col("comp"), col("lbl")).as("__new")),
      eager = true)
    val updatedOld = existing
      .join(broadcast(relabel.withColumnRenamed("lbl", "comp")),
        Seq("comp"), "left_outer")
      .select(col("id"), coalesce(col("__new"), col("comp")).as("comp"))
    val newIds = lbl.join(existing.select("id"), Seq("id"), "left_anti")
      .join(broadcast(relabel), Seq("lbl"), "left_outer")
      .select(col("id"), coalesce(col("__new"), col("lbl")).as("comp"))
    updatedOld.unionByName(newIds)
  }
}
