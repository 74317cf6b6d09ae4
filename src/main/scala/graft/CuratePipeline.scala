package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Curation, Heuristics, Text}
import graft.io.TableStore
import graft.operators.{Boilerplate, Budget, Decontamination, Dedup, DomainFilter, Packing, Repetition, SpanDedup, UnigramLm}

/** End-to-end corpus curation driver — the production composition the
  * individual q41/q45/q51–q56 kernels exist for, parallel to [[Main]] for
  * the choir ETL. One run takes a raw documents table through:
  *
  *  0. optional cross-document line-boilerplate rewrite (q64 kernel,
  *     `lineBoilerplateMaxDf`): lines occurring in more than the cap's
  *     worth of distinct documents are stripped BEFORE any content hashing,
  *     so the canonical-dedup key, the split assignment, and the
  *     decontamination shingles all see the cleaned bytes consistently (a
  *     post-split rewrite could migrate a document across the frozen
  *     train/eval boundary); documents reduced to blank fall to the quality
  *     gate's token minimum; then an optional exact repeated-span scrub
  *     (q72 kernel, `spanScrubN` > 0, Lee-et-al. all-but-one policy) on the
  *     line-cleaned text — sub-line duplication cut before anything hashes,
  *     with the total tokens removed logged as the run's span audit; then an
  *     optional domain-level source screen
  *     (q70 kernel, `minSourceGoodShare` > 0): sources whose good-doc share
  *     falls below the bar are dropped wholesale before any per-document
  *     screen;
  *  1. quality gate — language / quality-score / token-budget rules plus
  *     exact-dedup canonicalization ([[graft.functions.Curation.decisions]], the q41 kernel)
  *     AND the Gopher-style repetition screen (the q53 kernel: a doc whose
  *     top 2-gram or duplicated 2-grams exceed the shared Curation.GateRep*
  *     thresholds is dropped), with two optional companions: the C4
  *     heuristic page screen (q73 kernel, `c4MinGoodLines` > 0) before the
  *     gate, the statistical unigram-LM screen (q74 kernel,
  *     `unigramMinProb` > 0) after the rule screens in CCNet order, and the
  *     token-entropy screen (q94 kernel, `entropyMinBits` > 0) last;
  *  2. near-duplicate pruning — LSH candidates → exact-Jaccard gate → strict
  *     log-rounds connected components, keeping each cluster's smallest
  *     doc_id (the q45 pipeline; singletons pass through);
  *  3. content-hash split assignment on the RAW text (q51 kernel — the same
  *     bytes q52's decontamination screen hashes, so the two agree on every
  *     document's split and a scrub-regex change can never migrate documents
  *     across a frozen train/eval boundary), then the POST-split
  *     decontamination drop (q52 kernel: any train doc sharing a word
  *     8-gram with a val/test doc is removed — the benchmark-leakage screen
  *     run where it belongs, after the split boundary is frozen), then
  *     optional deterministic stratified sampling (q56 kernel, `sampleRate`
  *     < 1.0), then PII scrub (q54) replacing the text in place, then an
  *     optional per-stratum token budget on the TRAIN split only (q63
  *     kernel, `trainTokenBudget`): training mixes are planned in tokens
  *     per source, so train documents are admitted in salted content-hash
  *     priority order until each stratum's budget fills, while val/test
  *     are benchmarks and stay complete;
  *  4. a keyed-layout overwrite of the curated corpus (doc_id hash buckets
  *     outermost — the incremental-ingest rewrite unit — with split nested
  *     below, so a training job still reads train/ without touching eval
  *     bytes), PER-SPLIT sequence packing into context-window bins (q55 kernel —
  *     a window must never mix train and eval documents), packing stats
  *     ([[Packing.binStats]]), and an append-only run-log row with
  *     per-stage counts.
  *
  * Both tables are stamped with the run's `run_ts`, making cross-table
  * generation skew (a crash between the two overwrites leaving new corpus +
  * old bins) detectable at read time via [[checkGenerationParity]].
  *
  * Every stage is the already-oracled kernel — this driver adds NO new
  * semantics, only the composition, lifecycle, and counts. Lifecycle
  * contract mirrors [[Main]]: fail fast, but ALWAYS append the run-log row
  * (status `success` or `failed` + truncated error). Scale posture: stages
  * 1 and 3 are scan-local plus one content-hash window exchange (gate), one
  * repartition-by-doc reused by both repetition aggregations (q53), and a
  * shingle-keyed equi-join whose eval side is orders of magnitude smaller
  * than train (q52); stage 2 is the banded-join + bounded-round CC audited
  * in PERF.md; both writes go through the failure-atomic staged-swap
  * partitioned overwrite.
  */
object CuratePipeline {

  /** Default key-bucket count for the curated corpus's keyed layout
    * ([[graft.io.TableStore.overwriteKeyed]]). 64 keeps test-scale corpora
    * in a handful of files per bucket; at 100 TB size it as
    * corpus_bytes / ~1 GB (e.g. 65536) so an ingest batch of B documents
    * rewrites ≈ B buckets ≈ B GB regardless of corpus size. The count is a
    * WRITE-time layout decision recorded in the table dir; ingest inherits
    * it ([[graft.io.TableStore.keyedBuckets]]), so changing it takes effect
    * at the next full [[run]]. */
  val CorpusBuckets = 64

  final case class StageCounts(
      input: Long, gated: Long, deduped: Long, decontaminated: Long,
      written: Long, ccRounds: Int, nBins: Long, binWasteFrac: Double,
      spanRemoved: Long = 0L)

  /** CLI: `runMain graft.CuratePipeline <sfDir> <storeRoot>` — curate the
    * documents table at `sfDir` into a [[TableStore]] at `storeRoot`. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, storeRoot) = args
    val spark = Sessions.local(cores = 8)
    try {
      val counts = run(spark, Tables.load(spark, sfDir, "documents"),
        new TableStore(spark, storeRoot))
      println(s"curation run: $counts")
    } finally spark.stop()
  }

  /** Run the pipeline from `docs(doc_id, text, ...)` into `store`:
    * writes `curated_corpus` and `curated_bins` (partitioned by split, both
    * stamped with this run's `run_ts`) and appends one row to
    * `curation_log` — on success AND on failure; returns the per-stage
    * counts it logged. `sampleRate` < 1.0 keeps that deterministic
    * content-hash fraction of the post-decontamination corpus (q56).
    * `dedupNeighborCap` bounds the near-dup candidate fan-out per LSH
    * bucket ([[Dedup.lshJaccardPairs]]'s rank-chain cap) — set it (≥ 2)
    * for extreme-duplication corpora, where uncapped candidates grow
    * quadratically with cluster multiplicity (PERF.md 100× ramp);
    * clustering is unchanged whenever bucket-mates are genuinely mutually
    * similar. `deconMaxShingleDf` is the decontamination boilerplate cap —
    * shingles in more than that many TRAIN docs are treated as chrome, not
    * leakage. The pipeline runs the screen AFTER near-dup dedup, so a
    * verbatim eval item mass-duplicated across the crawl collapses to one
    * canonical train doc first and its DF stays far below any sane cap —
    * the mass-leak false negative a raw-corpus cap invites cannot arise
    * from duplication here. The residual case — an eval item embedded in
    * more than `deconMaxShingleDf` genuinely DISTINCT (non-near-dup) train
    * docs — IS whitelisted by the cap; audit such corpora with the cap at
    * `Long.MaxValue` (off).
    *
    * `normalizeText` enables the stage-0a q82 Unicode cleanup
    * ([[graft.functions.Normalize.cleanText]]): control-strip → NFC →
    * whitespace collapse, as the FIRST rewrite — before even the boilerplate
    * stage — so every later hash (dedup keys, split buckets, shingles,
    * sampling) sees canonical bytes; without it, an NFD and an NFC encoding
    * of the SAME text are distinct documents to every screen. Scan-local
    * projection, zero added shuffles, row-preserving.
    * `lineBoilerplateMaxDf` < Long.MaxValue enables the stage-0 q64 rewrite
    * (lines in more than that many distinct docs are chrome — stripped
    * before anything hashes the text). `spanScrubN` > 0 enables the stage-0c
    * q72 exact repeated-span scrub (Lee et al. all-but-one policy): every
    * `spanScrubN`-token window occurring in at least `spanMinDocs` distinct
    * documents keeps its lexicographically-first occurrence and loses the
    * rest, BEFORE anything hashes the text (same reasoning as stage 0 — the
    * dedup key, split bucket, and decontamination shingles must all see the
    * scrubbed bytes, or a later rewrite could migrate a document across the
    * frozen train/eval boundary). Note the kernel's normalization contract:
    * with the scrub on, every document's stored text is the lowercased
    * single-space token stream ([[operators.SpanDedup.scrubSpans]]) — the
    * same stream every downstream screen tokenizes anyway. The total tokens
    * cut lands in the run log as `n_span_removed` (0 when off) — the span-
    * duplication audit of the run. `minSourceGoodShare` > 0 enables the
    * domain-level source screen (q70 kernel): sources whose share of
    * good-quality docs falls below it are dropped wholesale before the
    * per-document gate; the cut is folded into the `gated` count.
    * `c4MinGoodLines` > 0 enables the C4 heuristic page screen (q73 kernel)
    * inside the gate stage: documents with fewer well-formed lines than the
    * bar, or any blacklist flag (brace / lorem-ipsum / javascript), are
    * dropped — scan-local, so it rides the gate's pass at zero extra
    * shuffles. `unigramMinProb` > 0 enables the statistical unigram-LM
    * screen (q74 kernel) AFTER the rule screens, in CCNet order: unigram
    * statistics are trained on the rule-gated survivors themselves and
    * documents whose mean token probability falls below the bar are
    * dropped. `entropyMinBits` > 0 enables the token-entropy screen (q94
    * kernel) after the statistical screen: documents whose unigram Shannon
    * entropy falls below the bits bar — repetitive, low-information text —
    * are dropped. All three cuts fold into `gated`.
    * `trainTokenBudget` < Long.MaxValue
    * caps the TRAIN split at that many stored (scrubbed) tokens per
    * `budgetStratumCol` stratum via the q63 admission order; `written` then
    * counts the post-budget corpus. `semDedupThreshold` > 0 enables the
    * SemDeDup embedding-dedup stage (q76 kernel) after the lexical near-dup
    * prune: same-k-means-cluster documents with cosine ≥ the threshold
    * collapse to their min doc_id; requires `embeddingCol` (array<float>)
    * on the input; rows the kernel cannot score (null/mismatched vectors)
    * are kept; the cut folds into `deduped`. `corpusBuckets` sets the
    * keyed layout's bucket count (see [[CorpusBuckets]]).
    *
    * Note on `curation_log` across engine versions: the row gained
    * n_decontaminated / n_bins / bin_waste_frac columns in round 9 and
    * n_span_removed in round 10. Parquet
    * append tolerates the drift, but a plain read infers ONE file's schema —
    * readers spanning a pre-upgrade log should enable `mergeSchema` (older
    * rows surface the new columns as null), and note the older rows'
    * n_deduped predates the decontamination stage. */
  def run(
      spark: SparkSession, docs: DataFrame, store: TableStore,
      binCapacity: Long = 2048, packGroupSize: Int = 64,
      sampleRate: Double = 1.0, dedupNeighborCap: Int = Int.MaxValue,
      deconMaxShingleDf: Long = Curation.DeconMaxShingleDf,
      normalizeText: Boolean = false,
      lineBoilerplateMaxDf: Long = Long.MaxValue,
      spanScrubN: Int = 0, spanMinDocs: Long = 2L,
      trainTokenBudget: Long = Long.MaxValue,
      budgetStratumCol: String = "source",
      minSourceGoodShare: Double = 0.0,
      sourceCol: String = "source",
      c4MinGoodLines: Int = 0,
      unigramMinProb: Double = 0.0,
      entropyMinBits: Double = 0.0,
      corpusBuckets: Int = CorpusBuckets,
      semDedupThreshold: Double = 0.0,
      embeddingCol: String = "embedding",
      semDedupClusters: Int = 16,
      binsBuckets: Int = 0): StageCounts = {
    import spark.implicits._
    require(sampleRate > 0.0 && sampleRate <= 1.0,
      s"sampleRate must be in (0, 1] (got $sampleRate)")
    require(semDedupThreshold <= 1.0,
      s"semDedupThreshold must be <= 1 (got $semDedupThreshold)")
    require(semDedupThreshold <= 0.0 || docs.columns.contains(embeddingCol),
      s"semDedupThreshold needs embedding column '$embeddingCol' on the input")
    require(spanScrubN >= 0, s"spanScrubN must be >= 0 (got $spanScrubN)")
    require(unigramMinProb >= 0.0 && unigramMinProb < 1.0,
      s"unigramMinProb must be in [0, 1) (got $unigramMinProb)")
    require(entropyMinBits >= 0.0,
      s"entropyMinBits must be >= 0 (got $entropyMinBits)")
    require(trainTokenBudget == Long.MaxValue ||
      docs.columns.contains(budgetStratumCol),
      s"trainTokenBudget needs stratum column '$budgetStratumCol' on the input")
    require(minSourceGoodShare <= 0.0 || docs.columns.contains(sourceCol),
      s"minSourceGoodShare needs source column '$sourceCol' on the input")
    val runTs = java.time.Instant.now.toString
    def log(status: String, c: StageCounts, error: String): Unit =
      store.append("curation_log",
        Seq((runTs, status, c.input, c.gated, c.deduped, c.decontaminated,
          c.written, c.ccRounds, c.nBins, c.binWasteFrac, c.spanRemoved, error))
          .toDF("run_ts", "status", "n_input", "n_gated", "n_deduped",
            "n_decontaminated", "n_written", "cc_rounds", "n_bins",
            "bin_waste_frac", "n_span_removed", "error"))
    var progress = StageCounts(-1L, -1L, -1L, -1L, -1L, -1, -1L, -1.0, -1L)
    try {
      val counts = runStages(spark, docs, store, binCapacity, packGroupSize,
        sampleRate, dedupNeighborCap, deconMaxShingleDf, normalizeText,
        lineBoilerplateMaxDf, spanScrubN, spanMinDocs,
        trainTokenBudget, budgetStratumCol, minSourceGoodShare, sourceCol,
        c4MinGoodLines, unigramMinProb, entropyMinBits, corpusBuckets,
        semDedupThreshold, embeddingCol, semDedupClusters, binsBuckets,
        runTs, p => progress = p)
      log("success", counts, "")
      counts
    } catch {
      case e: Throwable =>
        // the fail-fast-but-ALWAYS-log contract: record how far the run got
        try log("failed", progress,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
        catch { case e2: Throwable => e.addSuppressed(e2) }
        throw e
    }
  }

  final case class IngestCounts(
      batchIn: Long, gated: Long, selfDeduped: Long, corpusScreened: Long,
      decontaminated: Long, upserted: Long)

  /** Incremental ingest — the streaming-adjacent form of [[run]]: screen a
    * NEW batch against the STANDING curated corpus and upsert the survivors,
    * without rebuilding anything. Composition of the asymmetric kernels the
    * batch pipeline's symmetric stages mirror:
    *
    *  1. the q41 gate + q53 repetition screen on the batch alone, plus the
    *     batch pipeline's optional dials in the same order — C4 page screen
    *     (`c4MinGoodLines`), unigram-LM screen (`unigramMinProb`, scored
    *     against the STANDING CORPUS as the frozen reference — a batch
    *     carries no usable self-statistics), and token-entropy screen
    *     (`entropyMinBits`);
    *  2. within-batch near-dup prune (q45 shape: LSH → exact Jaccard → CC →
    *     keep min id);
    *  3. the asymmetric corpus screen (q66 kernel,
    *     [[graft.operators.Dedup.lshJaccardPairsJoin]]): any batch doc
    *     ≥ 0.5-Jaccard-similar to a DIFFERENT stored doc is dropped — the
    *     corpus stays canonical, the batch pays O(batch·bands), the corpus
    *     is never self-paired. SAME-id pairs are exempt: a batch doc
    *     carrying a stored doc_id is a correction and must reach the step-5
    *     upsert (it is near-identical to the row it replaces by
    *     construction). Re-ingesting stored content under a NEW id is still
    *     a cross-id Jaccard-1 hit and is dropped;
    *  4. content-hash split assignment on the raw batch text, then the
    *     asymmetric decontamination screen (q52 kernel): batch docs bound
    *     for TRAIN that share an 8-gram with any STORED eval doc are
    *     benchmark leakage — dropped;
    *  5. PII scrub in place, stored-token counts, and the upsert
    *     ([[graft.io.TableStore.upsertKeyed]] keyed on the id — re-ingesting a
    *     corrected doc replaces its stored row; the step-3 same-id
    *     exemption and the step-4 outgoing-generation exclusion are what
    *     guarantee a correction actually reaches this step).
    *
    * Generation semantics: upserted rows are stamped with the CORPUS's
    * current `run_ts` — `run_ts` means "generation", not "ingest time", so
    * [[checkGenerationParity]] keeps holding after any number of ingests.
    * The bins table is maintained separately: call [[maintainBins]] with
    * this ingest's doc ids (at whatever cadence training needs — packing
    * groups are id-bucket-local, so repair cost is O(touched groups), not
    * O(corpus)). Every ingest appends a `curation_log` row (status
    * `ingest`, its own timestamp, bins fields -1 = not regenerated here) —
    * same always-log contract as the batch driver.
    */
  def ingestBatch(
      spark: SparkSession, batchIn: DataFrame, store: TableStore,
      dedupNeighborCap: Int = Int.MaxValue,
      deconMaxShingleDf: Long = Curation.DeconMaxShingleDf,
      normalizeText: Boolean = false,
      c4MinGoodLines: Int = 0,
      unigramMinProb: Double = 0.0,
      entropyMinBits: Double = 0.0,
      semDedupThreshold: Double = 0.0,
      embeddingCol: String = "embedding",
      semDedupClusters: Int = 16): IngestCounts = {
    import spark.implicits._
    // stage-0a parity with run(): if the nightly pipeline normalizes, the
    // ingest path must normalize the SAME way, or an NFD re-encoding of a
    // stored doc would slip past every content-hash screen
    val batch =
      if (!normalizeText) batchIn
      else batchIn.withColumn("text",
        graft.functions.Normalize.cleanText(col("text")))
    require(store.exists("curated_corpus"),
      "ingestBatch needs an existing curated_corpus — run the batch pipeline first")
    require(semDedupThreshold <= 0.0 || batch.columns.contains(embeddingCol),
      s"semDedupThreshold needs embedding column '$embeddingCol' on the batch")
    require(unigramMinProb >= 0.0 && unigramMinProb < 1.0,
      s"unigramMinProb must be in [0, 1) (got $unigramMinProb)")
    require(entropyMinBits >= 0.0,
      s"entropyMinBits must be >= 0 (got $entropyMinBits)")
    val corpus = store.read("curated_corpus")
    val gens = corpus.select("run_ts").distinct().collect().map(_.getString(0))
    require(gens.length == 1,
      s"curated_corpus must hold exactly one generation (got ${gens.length})")
    val genTs = gens.head
    val ingestTs = java.time.Instant.now.toString

    def log(status: String, c: IngestCounts, error: String): Unit =
      store.append("curation_log",
        Seq((ingestTs, status, c.batchIn, c.gated, c.selfDeduped,
          c.decontaminated, c.upserted, -1, -1L, -1.0, 0L, error))
          .toDF("run_ts", "status", "n_input", "n_gated", "n_deduped",
            "n_decontaminated", "n_written", "cc_rounds", "n_bins",
            "bin_waste_frac", "n_span_removed", "error"))
    var progress = IngestCounts(-1L, -1L, -1L, -1L, -1L, -1L)
    try {
      val batchIn = batch.count()
      // 1. gate + repetition (the stage-1 kernels on the batch alone), with
      // the SAME optional dials as the batch pipeline — in the same order
      // (C4 before the gate, unigram after the rule screens, entropy last).
      // One deliberate asymmetry: the unigram reference here is the
      // STANDING CORPUS (scoreAgainst), not the batch itself — a small
      // batch carries no usable statistics, and "does this read like the
      // corpus we curated" is the question an ingest screen is asking.
      val c4Screened =
        if (c4MinGoodLines <= 0) batch
        else batch.filter(graft.functions.Heuristics.c4Keep(
          col("text"), minGoodLines = c4MinGoodLines))
      val q41Kept = c4Screened.join(
        Curation.decisions(c4Screened.select(col("doc_id"), col("text")))
          .filter(col("keep")).select("doc_id"),
        Seq("doc_id"), "left_semi").persist()
      val repetitive = Repetition
        .ngramRepetition(q41Kept, "doc_id", "text", Curation.GateRepNgram)
        .filter(col("top_frac") > Curation.GateRepTopFrac ||
          col("dup_frac") > Curation.GateRepDupFrac)
        .select("doc_id")
      // both optional screens below re-evaluate their input frame (once as
      // the join base, once inside the scorer); without a persist that
      // recomputes the Repetition pass up to three times per batch
      val optionalScreens = unigramMinProb > 0.0 || entropyMinBits > 0.0
      val ruleKept0 = q41Kept.join(repetitive, Seq("doc_id"), "left_anti")
      val ruleKept = if (optionalScreens) ruleKept0.persist() else ruleKept0
      val statKept =
        if (unigramMinProb <= 0.0) ruleKept
        else {
          val (freq, nTotal) = UnigramLm.stats(corpus, "text")
          ruleKept.join(
            UnigramLm.scoreAgainst(ruleKept, "doc_id", "text", freq, nTotal)
              .filter(col("mean_tok_prob") >= unigramMinProb)
              .select("doc_id"),
            Seq("doc_id"), "left_semi")
        }
      val kept = (
        if (entropyMinBits <= 0.0) statKept
        else statKept.join(
          UnigramLm.tokenEntropy(statKept.select(col("doc_id"), col("text")))
            .filter(col("entropy") >= entropyMinBits)
            .select("doc_id"),
          Seq("doc_id"), "left_semi")
        ).persist()
      val gated = kept.count()
      q41Kept.unpersist()
      if (optionalScreens) ruleKept.unpersist()
      progress = IngestCounts(batchIn, gated, -1L, -1L, -1L, -1L)

      // 2. within-batch near-dup prune
      val pairs = Dedup.lshJaccardPairs(kept, "doc_id", "text",
        neighborCap = dedupNeighborCap)
      val losers = Dedup.connectedComponentsLogRoundsStrict(pairs)
        .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
      // 2b. optional within-batch SemDeDup (same stage the batch pipeline
      // runs; folded into the self-dedup count like every optional screen)
      val selfDeduped = semDedupStage(
        kept.join(losers, Seq("doc_id"), "left_anti"),
        semDedupThreshold, embeddingCol, semDedupClusters).persist()
      val selfN = selfDeduped.count()
      kept.unpersist()
      progress = IngestCounts(batchIn, gated, selfN, -1L, -1L, -1L)

      // 3. asymmetric corpus screen: near-dups (incl. exact re-ingests) of
      // STORED docs are dropped; the corpus side is never self-paired.
      // SAME-ID pairs are exempt: a batch doc carrying a stored doc_id is a
      // CORRECTION, and by construction it is near-identical to the row it
      // replaces — screening it out would silently discard every small edit
      // and the step-5 upsert contract could never fire. Cross-id hits still
      // drop it (a "correction" that duplicates a DIFFERENT stored doc is
      // still a duplicate). Null-safe: <=> so a null-id pair can never slip
      // through as "different".
      val corpusHits = Dedup.lshJaccardPairsJoin(
        selfDeduped, corpus, "doc_id", "text")
        .filter(!(col("new_id") <=> col("corpus_id")))
        .select(col("new_id").as("doc_id")).distinct()
      val fresh = selfDeduped.join(corpusHits, Seq("doc_id"), "left_anti")
        .withColumn("split", Curation.splitAssign(col("text")))
        .persist()
      val freshN = fresh.count()
      selfDeduped.unpersist()
      progress = IngestCounts(batchIn, gated, selfN, freshN, -1L, -1L)

      // 4. asymmetric decontamination: train-bound batch docs vs STORED eval.
      // Stored rows carrying a BATCH key are excluded from the eval side:
      // they are about to be replaced by the upsert, and a correction whose
      // edit flips its split to train would otherwise be screened against
      // its own outgoing generation (sharing nearly every 8-gram with it)
      // and silently dropped. Tiny anti-join — the batch key set broadcasts.
      val batchKeys = fresh.select("doc_id").distinct()
      val contaminated = Decontamination.sharedShingleCounts(
        fresh.filter(col("split") === "train"),
        corpus.filter(col("split") =!= "train")
          .join(batchKeys, Seq("doc_id"), "left_anti"),
        "doc_id", "text", Curation.DeconNgram,
        maxShingleDf = deconMaxShingleDf)
        .select("doc_id")
      val clean = fresh.join(contaminated, Seq("doc_id"), "left_anti")
      val cleanN = clean.count()
      progress = IngestCounts(batchIn, gated, selfN, freshN, cleanN, -1L)

      // 5. scrub + stored-token counts + generation stamp + upsert
      val upRows = clean
        .withColumn("text", Curation.scrubPii(col("text")))
        .withColumn("n_tokens", Text.tokenCount(col("text")))
        .withColumn("run_ts", lit(genTs))
        .select(corpus.columns.map(col): _*)
      // Keyed upsert scoped to the buckets this batch touches; the bucket
      // count is INHERITED from the standing layout (a full run decides it),
      // with the default only covering a legacy pre-keyed corpus, which the
      // upsert migrates in one rewrite.
      store.upsertKeyed("curated_corpus", upRows, Seq("doc_id"),
        store.keyedBuckets("curated_corpus").getOrElse(CorpusBuckets),
        Seq("split"))
      fresh.unpersist()
      // upserted == cleanN: the scrub/stamp projection is row-preserving, and
      // counting upRows AFTER the swap would re-read the retired generation
      val counts = IngestCounts(batchIn, gated, selfN, freshN, cleanN, cleanN)
      log("ingest", counts, "")
      counts
    } catch {
      case e: Throwable =>
        try log("ingest_failed", progress,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
        catch { case e2: Throwable => e.addSuppressed(e2) }
        throw e
    }
  }

  /** Incremental bin maintenance — closes the "bins are batch-only" gap:
    * after an ingest upserts documents, repack ONLY the packing groups those
    * documents fall into and merge the rows back doc-keyed.
    *
    * Why this is sound: [[graft.operators.Packing.packBins]] packs within
    * consecutive-id buckets (`doc_id div groupSize`), and each bucket's
    * packing is a PURE FUNCTION of its members — an upserted doc invalidates
    * exactly its own (split, bucket), nothing else. Repacking those buckets
    * from the standing corpus therefore reproduces, row-for-row, what a full
    * [[run]]-style global repack would emit for them; untouched buckets'
    * stored rows are already identical to the global result (the E2E spec
    * asserts incremental == full-repack table equality). Because every doc
    * of a touched bucket gets a fresh row and bucket membership is
    * id-determined, the doc-keyed merge IS a whole-bucket replacement — no
    * orphan assignments can survive.
    *
    * Cost: repack compute is O(touched groups) (one broadcast semi-join
    * gates the corpus scan to member rows). Write cost follows the bins
    * table's layout: the KEYED layout (full run with `binsBuckets > 0`)
    * rewrites only the hash buckets the repacked doc ids route to —
    * O(batch), the [[graft.io.TableStore.upsertKeyed]] guarantee; the
    * legacy split-partitioned layout falls back to one staged merge-rewrite
    * of the table (correct, but O(corpus) write bytes — opt into the keyed
    * layout when ingest cadence matters).
    *
    * Returns (n_bins, waste_frac) over the maintained table and appends a
    * `curation_log` row (status `ingest_bins`). Bins are stamped with the
    * CORPUS's standing generation, so [[checkGenerationParity]] holds after
    * maintenance.
    */
  def maintainBins(
      spark: SparkSession, store: TableStore, upsertedKeys: DataFrame,
      binCapacity: Long = 2048, packGroupSize: Int = 64): (Long, Double) = {
    import spark.implicits._
    require(store.exists("curated_corpus"),
      "maintainBins needs a curated_corpus — run the batch pipeline first")
    require(store.exists("curated_bins"),
      "maintainBins needs a curated_bins generation — run the batch pipeline first")
    require(upsertedKeys.columns.contains("doc_id"),
      "upsertedKeys must carry doc_id")
    val corpus = store.read("curated_corpus")
    val gens = corpus.select("run_ts").distinct().collect().map(_.getString(0))
    require(gens.length == 1,
      s"curated_corpus must hold exactly one generation (got ${gens.length})")
    val genTs = gens.head
    val ingestTs = java.time.Instant.now.toString
    val grpOf = expr(s"(doc_id - pmod(doc_id, $packGroupSize)) div $packGroupSize")
    // the (split, group) buckets this ingest invalidated — tiny (≤ batch)
    val touched = corpus
      .join(upsertedKeys.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .select(col("split"), grpOf.as("__grp")).distinct()
    // member rows of the touched buckets only: the broadcast semi-join is a
    // partition-prunable gate at scale (split is a partition column; the
    // group predicate prunes row groups on sorted-by-id layouts)
    val members = corpus.withColumn("__grp", grpOf)
      .join(broadcast(touched), Seq("split", "__grp"), "left_semi")
    val binsCols = store.read("curated_bins").columns
    val repacked = Curation.Splits.map { sp =>
      Packing.packBins(
        members.filter(col("split") === sp), "doc_id", "n_tokens",
        capacity = binCapacity, groupSize = packGroupSize)
        .withColumn("split", lit(sp))
    }.reduce(_ unionAll _)
      .withColumn("run_ts", lit(genTs))
      .select(binsCols.map(col): _*)
    store.keyedBuckets("curated_bins") match {
      case Some(n) =>
        store.upsertKeyed("curated_bins", repacked, Seq("doc_id"), n, Seq("split"))
      case None =>
        // legacy layout: one staged merge-rewrite preserving the split
        // partitioning (correct at any size; O(corpus) write bytes)
        val current = store.read("curated_bins")
        val keys = repacked.select("doc_id").distinct()
        val merged = current.join(keys, Seq("doc_id"), "left_anti")
          .unionByName(repacked)
        store.overwritePartitioned("curated_bins", merged, Seq("split"))
    }
    val statsRow = Packing.binStats(
      store.read("curated_bins"), binCapacity,
      binCols = Seq("split", "bin_id")).head()
    val nBins = statsRow.getLong(0)
    val waste = if (statsRow.isNullAt(3)) 0.0 else statsRow.getDouble(3)
    store.append("curation_log",
      Seq((ingestTs, "ingest_bins", -1L, -1L, -1L, -1L, -1L, -1, nBins, waste,
        0L, ""))
        .toDF("run_ts", "status", "n_input", "n_gated", "n_deduped",
          "n_decontaminated", "n_written", "cc_rounds", "n_bins",
          "bin_waste_frac", "n_span_removed", "error"))
    (nBins, waste)
  }

  /** Read-time generation parity check — the guard for the one failure mode
    * the per-table atomic swaps cannot cover alone: a crash BETWEEN the
    * corpus and bins overwrites leaves a new corpus next to old bins, each
    * table individually consistent. Both tables carry the writing run's
    * `run_ts`; this verifies each holds exactly one generation and both hold
    * the SAME one, returning it. A table that is absent or empty (e.g. an
    * all-filtered corpus) reads as zero generations; parity then requires
    * the other table to be empty too. Cost: one column-pruned scan per
    * table aggregated to a handful of distinct stamps — safe at any size. */
  def checkGenerationParity(store: TableStore): Option[String] = {
    def gens(t: String): Set[String] = {
      if (!store.exists(t)) return Set.empty
      // an all-filtered run leaves a schema-less empty partitioned dir;
      // that is a legitimate empty generation, not a parity failure
      val df =
        try store.read(t)
        catch { case _: org.apache.spark.sql.AnalysisException => return Set.empty }
      // a READABLE table without the stamp is NOT empty — it is a populated
      // pre-run_ts generation whose parity cannot be verified; silently
      // treating it as empty would pass the exact skew this check exists for
      require(df.columns.contains("run_ts"),
        s"$t is populated but carries no run_ts column (written by a pre-stamp " +
          "engine version) — its generation cannot be verified; rerun the pipeline")
      df.select("run_ts").distinct().collect().map(_.getString(0)).toSet
    }
    val corpus = gens("curated_corpus")
    val bins = gens("curated_bins")
    require(corpus.size <= 1 && bins.size <= 1,
      s"mixed generations WITHIN a table: corpus=$corpus bins=$bins")
    require(corpus == bins,
      s"cross-table generation skew: curated_corpus=$corpus curated_bins=$bins " +
        "— a crash between the two writes left tables from different runs; rerun the pipeline")
    corpus.headOption
  }

  /** Optional SemDeDup stage shared by the batch pipeline (stage 2b) and
    * incremental ingest (stage 2b): keep every document whose embedding
    * survives [[graft.operators.SemDedup.assign]] at `threshold` —
    * same-cluster ≥-threshold cosine groups collapse to their min doc_id.
    * Documents with NULL / dimension-mismatched vectors are excluded from
    * the kernel's verdict and KEPT here (the must-surface policy: a row the
    * kernel cannot score must not be silently dropped). Threshold <= 0 is
    * the identity. `embeddingCol` must be array<float>. */
  private def semDedupStage(
      docs: DataFrame, threshold: Double, embeddingCol: String,
      nClusters: Int): DataFrame =
    if (threshold <= 0.0) docs
    else {
      val verdict = graft.operators.SemDedup.assign(
        docs, "doc_id", embeddingCol, threshold, nClusters = nClusters)
        .select(col("id").as("doc_id"), col("keep"))
      docs.join(verdict, Seq("doc_id"), "left")
        .filter(col("keep").isNull || col("keep"))
        .drop("keep")
    }

  private def runStages(
      spark: SparkSession, docsIn: DataFrame, store: TableStore,
      binCapacity: Long, packGroupSize: Int, sampleRate: Double,
      dedupNeighborCap: Int, deconMaxShingleDf: Long,
      normalizeText: Boolean,
      lineBoilerplateMaxDf: Long, spanScrubN: Int, spanMinDocs: Long,
      trainTokenBudget: Long,
      budgetStratumCol: String, minSourceGoodShare: Double, sourceCol: String,
      c4MinGoodLines: Int, unigramMinProb: Double, entropyMinBits: Double,
      corpusBuckets: Int,
      semDedupThreshold: Double, embeddingCol: String, semDedupClusters: Int,
      binsBuckets: Int,
      runTs: String,
      onProgress: StageCounts => Unit): StageCounts = {
    // 0a. optional Unicode normalization (q82 kernel) — the FIRST rewrite:
    // every later stage (including the boilerplate line hashes) must see
    // canonical bytes, or an NFD/NFC re-encoding of identical text defeats
    // every content-hash screen downstream. Pure scan-local projection —
    // recomputing it per reader is cheaper than caching the corpus.
    val docsRaw =
      if (!normalizeText) docsIn
      else docsIn.withColumn("text",
        graft.functions.Normalize.cleanText(col("text")))

    // 0. optional line-boilerplate rewrite (q64 kernel) — BEFORE any content
    // hashing, so dedup keys, split buckets, and decontamination shingles
    // all see the cleaned bytes (see the header scaladoc). Row-preserving:
    // docs reduced to blank are left for the gate's token minimum to drop.
    // Persisted when active: the input count plus the two stage-1 reads of
    // `docs` would otherwise each re-run the corpus-wide explode + DF
    // aggregation + rebuild; released as soon as `kept` materializes.
    val rewrote = lineBoilerplateMaxDf != Long.MaxValue
    val lineClean =
      if (!rewrote) docsRaw
      else docsRaw.drop("text").join(
        Boilerplate
          .removeFrequentLines(docsRaw, "doc_id", "text", lineBoilerplateMaxDf)
          .select(col("doc_id"), col("text_clean").as("text")),
        Seq("doc_id")).persist()

    // 0c. optional exact repeated-span scrub (q72 kernel, Lee et al.
    // all-but-one policy) — runs on the line-cleaned text, still BEFORE any
    // content hashing (same boundary-stability reasoning as stage 0).
    // Row-preserving; text becomes the kernel's normalized token stream.
    // Persisted when active for the same multi-reader reason as stage 0;
    // per-doc `n_removed` rides along only until the audit sum below.
    val spanActive = spanScrubN > 0
    val docs =
      if (!spanActive) lineClean
      else lineClean.drop("text").join(
        SpanDedup.scrubSpans(lineClean, "doc_id", "text", spanScrubN, spanMinDocs)
          .select(col("doc_id"), col("text_scrubbed").as("text"),
            col("n_removed").as("__span_removed")),
        Seq("doc_id")).persist()
    val input = docs.count()
    val spanRemoved =
      if (!spanActive) 0L
      else docs.agg(coalesce(sum("__span_removed"), lit(0L))).head().getLong(0)
    if (spanActive && rewrote) lineClean.unpersist() // span frame holds the rewrite
    val docsClean = if (spanActive) docs.drop("__span_removed") else docs
    onProgress(StageCounts(input, -1L, -1L, -1L, -1L, -1, -1L, -1.0, spanRemoved))

    // 0b. optional domain-level source screen (q70 kernel, RefinedWeb
    // family): sources whose good-doc share (quality >= 0.5, scored on the
    // stage-0-cleaned text like everything downstream) falls below
    // `minSourceGoodShare` are dropped WHOLESALE before any per-document
    // screen — the spam-farm cut per-doc gates can't make, and the cheapest
    // possible stage to run first (one rollup shuffle, rollup broadcast
    // back). Folded into `gated` in the counts: the gate stage below reads
    // the screened frame.
    val screened =
      if (minSourceGoodShare <= 0.0) docsClean
      else DomainFilter.filterBySource(docsClean, sourceCol, "text",
        minGoodShare = minSourceGoodShare)

    // 1. quality gate + exact-dedup canonicalization (q41 kernel) + the
    // repetition screen (q53 kernel, shared Gate* thresholds). The
    // repetition aggregation runs over the ALREADY-GATED subset — its
    // repartition(doc_id) exchanges raw text bytes, and on a raw crawl the
    // quality gate drops a large fraction; screening before gating would
    // shuffle all of it for nothing. The q41-kept frame is cached only
    // until `kept` (which several later actions reuse) materializes via the
    // gated count — a transient double-cache, not a second resident copy.
    // Optional C4 heuristic page screen (q73 kernel) — a scan-local
    // predicate, so it rides the gate pass at zero extra shuffles.
    val c4Screened =
      if (c4MinGoodLines <= 0) screened
      else screened.filter(Heuristics.c4Keep(col("text"), minGoodLines = c4MinGoodLines))
    val q41Kept = c4Screened.join(
      Curation.decisions(c4Screened.select(col("doc_id"), col("text")))
        .filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
      .persist()
    val repetitive = Repetition
      .ngramRepetition(q41Kept, "doc_id", "text", Curation.GateRepNgram)
      .filter(col("top_frac") > Curation.GateRepTopFrac ||
        col("dup_frac") > Curation.GateRepDupFrac)
      .select("doc_id")
    val ruleKept = q41Kept.join(repetitive, Seq("doc_id"), "left_anti")
    // Optional statistical unigram-LM screen (q74 kernel), CCNet order:
    // train the unigram stats on the rule-gated survivors, then drop
    // documents whose mean token probability falls below the bar.
    val statKept =
      if (unigramMinProb <= 0.0) ruleKept
      else ruleKept.join(
        UnigramLm.score(ruleKept, "doc_id", "text")
          .filter(col("mean_tok_prob") >= unigramMinProb)
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
    // Optional token-entropy screen (q94 kernel): repetitive low-information
    // documents fall below the bits bar; blank docs have NULL entropy and
    // are dropped here too (the rule gate already excludes them upstream).
    val kept = (
      if (entropyMinBits <= 0.0) statKept
      else statKept.join(
        UnigramLm.tokenEntropy(statKept.select(col("doc_id"), col("text")))
          .filter(col("entropy") >= entropyMinBits)
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
      ).persist()
    try {
      val gated = kept.count() // materializes `kept`; q41Kept is done
      q41Kept.unpersist()
      if (rewrote || spanActive) docs.unpersist() // all readers of the rewrites are done
      onProgress(StageCounts(input, gated, -1L, -1L, -1L, -1, -1L, -1.0, spanRemoved))

      // 2. near-dup clusters over the gated corpus (q45 kernel): LSH-banded
      // candidates -> exact Jaccard >= 0.5 -> strict log-rounds CC; keep each
      // cluster's smallest member, singletons (no edge) pass through. The
      // split rides along from here, assigned from the RAW text FIRST (must
      // match q51/q52 — see the scaladoc header); persisted because the
      // decontamination screen reads it twice (train and eval sides) and the
      // clean frame feeds both a count and the write.
      val pairs = Dedup.lshJaccardPairs(kept, "doc_id", "text",
        neighborCap = dedupNeighborCap)
      val (comp, rounds) = Dedup.connectedComponentsLogRoundsStrictWithStats(pairs)
      val losers = comp.filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
      val lexDeduped = kept.join(losers, Seq("doc_id"), "left_anti")
      // 2b. optional SemDeDup embedding-dedup stage (q76 kernel, Abbas et
      // al. 2023) on the lexical-dedup survivors: the semantic layer cuts
      // paraphrase-level duplication that shingle Jaccard cannot see. Runs
      // AFTER the lexical prune (cheapest order — the lexical stage already
      // collapsed exact/near-exact clusters, so the per-cluster quadratic
      // pair scan sees fewer rows). Folded into the `deduped` count, like
      // the source screen folds into `gated`.
      val deduped = semDedupStage(lexDeduped, semDedupThreshold, embeddingCol,
        semDedupClusters)
        .withColumn("split", Curation.splitAssign(col("text")))
        .persist()
      try {
        val dedupedN = deduped.count()
        onProgress(StageCounts(input, gated, dedupedN, -1L, -1L, rounds, -1L, -1.0, spanRemoved))

        // 3a. post-split decontamination (q52 kernel): now that the split
        // boundary is frozen, any TRAIN doc sharing a word 8-gram with a
        // val/test doc is benchmark leakage — drop it (eval rows stay; they
        // are the benchmark). Shingles hash the same raw bytes the split did.
        // The boilerplate DF cap is safe HERE because stage 2 already
        // collapsed duplicate clusters to canonical docs: a mass-duplicated
        // eval item cannot inflate its own DF past the cap (see run()'s
        // scaladoc for the residual distinct-docs case and the off switch).
        // persisted because TWO actions consume `clean` (the count below and
        // the corpus write) — without the cache each would re-run the full
        // shingle explode + DF-cap pass + match join; the cached frame is
        // just the contaminated ids' complement, tiny relative to the work
        val contaminated = Decontamination.sharedShingleCounts(
          deduped.filter(col("split") === "train"),
          deduped.filter(col("split") =!= "train"),
          "doc_id", "text", Curation.DeconNgram,
          maxShingleDf = deconMaxShingleDf)
          .select("doc_id")
          .persist()
        val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
        val deconN = clean.count()
        onProgress(StageCounts(input, gated, dedupedN, deconN, -1L, rounds, -1L, -1.0, spanRemoved))

        // 3b. optional deterministic stratified sampling (q56 kernel): a
        // salted content-hash domain independent of the split buckets, so
        // sampling thins every split proportionally instead of nesting
        // inside the test cut. rate 1.0 is the identity — no filter at all.
        val sampled =
          if (sampleRate >= 1.0) clean
          else clean.filter(Curation.sampleHit(col("text"),
            lit(Curation.rateThresholdHex(sampleRate))))

        // 3c. PII scrub REPLACES text (the stored corpus never holds raw
        // PII); token counts describe the stored (scrubbed) content
        val curated = sampled
          .withColumn("text", Curation.scrubPii(col("text")))
          .withColumn("n_tokens", Text.tokenCount(col("text")))
          .withColumn("run_ts", lit(runTs))

        // 3d. optional per-stratum token budget on the TRAIN split only (q63
        // kernel): mixes are planned in tokens per stratum; val/test are
        // benchmarks and stay complete. Counted on the STORED (scrubbed)
        // n_tokens — the tokens a training job will actually read — with
        // salted content-hash admission order, deterministic run-over-run
        // like the split and the sample.
        val budgeted =
          if (trainTokenBudget == Long.MaxValue) curated
          else Budget.selectWithinBudget(
            curated.filter(col("split") === "train")
              .withColumn("__prio", Curation.saltedHash(col("text"), "budget")),
            "doc_id", budgetStratumCol, "n_tokens", "__prio",
            lit(trainTokenBudget))
            .filter(col("kept"))
            .select(curated.columns.map(col): _*)
            .unionAll(curated.filter(col("split") =!= "train"))
        // KEYED layout write: doc_id hash buckets outermost, split nested
        // below — split-partition pruning still holds for training reads,
        // and incremental ingest ([[ingestBatch]] → TableStore.upsertKeyed)
        // rewrites only the buckets a batch touches instead of the corpus.
        store.overwriteKeyed("curated_corpus", budgeted, Seq("doc_id"),
          corpusBuckets, Seq("split"))
        // write → read-back barrier (same pattern as Main's marts): packing
        // reads the MATERIALIZED corpus, so the curation chain runs exactly
        // once and the bins provably match the stored table. An all-filtered
        // (empty) corpus leaves no schema-bearing parquet file — that read
        // fails schema inference and falls back to an empty frame.
        val corpus =
          (try Some(store.read("curated_corpus"))
          catch { case _: org.apache.spark.sql.AnalysisException => None })
            .map(_.select(curated.columns.map(col): _*))
            .getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], curated.schema))
        // == sampled count when the budget is off (scrub drops nothing);
        // the post-budget train subset + complete eval splits otherwise
        val written = corpus.count()
        contaminated.unpersist() // both consumers (count + write) are done
        onProgress(StageCounts(input, gated, dedupedN, deconN, written, rounds, -1L, -1.0, spanRemoved))

        // 4. sequence packing PER SPLIT (a context window must never mix
        // train and eval documents) — bin_id is unique within a split;
        // (split, bin_id) is the global bin key. Split-partition pruning
        // makes each pass read only its own split's files.
        val packed = Curation.Splits.map { sp =>
          Packing.packBins(
            corpus.filter(col("split") === sp), "doc_id", "n_tokens",
            capacity = binCapacity, groupSize = packGroupSize)
            .withColumn("split", lit(sp))
        }.reduce(_ unionAll _)
          .withColumn("run_ts", lit(runTs))
        // binsBuckets > 0 opts the bins table into the KEYED layout (split
        // still a nested partition, so split pruning holds) — the layout
        // [[maintainBins]] needs for O(touched-buckets) incremental repair
        // after ingests. Default stays the plain split-partitioned layout.
        if (binsBuckets > 0)
          store.overwriteKeyed("curated_bins", packed, Seq("doc_id"),
            binsBuckets, Seq("split"))
        else store.overwritePartitioned("curated_bins", packed, Seq("split"))

        // packing observability from the MATERIALIZED bins (what a training
        // job will actually read): bins count + wasted window fraction go to
        // the run log. (split, bin_id) is the global bin key. An all-filtered
        // run leaves a schema-less dir — a legitimate empty generation.
        val binsBack =
          try store.read("curated_bins")
          catch {
            case _: org.apache.spark.sql.AnalysisException =>
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], packed.schema)
          }
        val statsRow = Packing.binStats(
          binsBack, binCapacity, binCols = Seq("split", "bin_id")).head()
        val nBins = statsRow.getLong(0)
        val waste = if (statsRow.isNullAt(3)) 0.0 else statsRow.getDouble(3)

        StageCounts(input, gated, dedupedN, deconN, written, rounds, nBins, waste, spanRemoved)
      } finally deduped.unpersist()
    } finally kept.unpersist()
  }
}
