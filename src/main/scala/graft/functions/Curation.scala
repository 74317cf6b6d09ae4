package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation column functions a training-data pipeline runs at ingest:
  * deterministic content-hash dataset splitting and PII scrubbing. Like
  * [[Text]], everything is built-in Catalyst expressions (codegen'd, no UDFs)
  * restricted to the Java-regex ∩ RE2 dialect so the DuckDB oracles mirror the
  * semantics 1:1.
  *
  * The reference pipeline has no splitting/PII surface (its corpus is a choir
  * spreadsheet); these are the engine-addition operators that make the text
  * stack usable for LLM corpus preparation, same family as [[Text]] / the
  * dedup kernels.
  */
object Curation {

  /** The first two hex chars of the content md5 — a uniform 256-bucket
    * content-addressed partition of any corpus. Hashing the CONTENT (not the
    * id) means byte-identical documents land in the same split no matter how
    * many times or under which ids they appear, so exact duplicates can never
    * straddle a train/eval boundary — the property dataset decontamination
    * starts from. md5 here is the cross-engine stability choice (same reason
    * as the q41 canonical-dedup key): DuckDB computes the identical hex. */
  def splitBucket(c: Column): Column =
    substring(md5(coalesce(c, lit("")).cast("binary")), 1, 2)

  /** The label domain [[splitAssign]] emits — iterate THIS, never a
    * hand-written list, when processing per split (a literal list silently
    * skips a renamed or added split). */
  val Splits: Seq[String] = Seq("train", "val", "test")

  /** Deterministic train/val/test assignment from [[splitBucket]], by
    * lexicographic cut points on the hex bucket (hex compares identically as
    * ASCII in any engine): bucket < `testLt` → test, < `valLt` → val, else
    * train. Defaults "0d"/"1a" give 13/256 ≈ 5.1% each to test and val.
    * Scan-local, shuffle-free, and reproducible run-over-run — the split is a
    * pure function of document content. */
  def splitAssign(c: Column, testLt: String = "0d", valLt: String = "1a"): Column = {
    require(testLt < valLt, s"test cut '$testLt' must precede val cut '$valLt'")
    // the two splitBucket occurrences are one md5 at runtime: codegen
    // subexpression elimination shares them within the projection
    when(splitBucket(c) < testLt, lit("test"))
      .when(splitBucket(c) < valLt, lit("val"))
      .otherwise(lit("train"))
  }

  /** The curation gate thresholds shared by the batch decision
    * ([[decisions]], q41) and the streaming gate
    * ([[graft.streaming.EventStream.curateStream]]) — one definition so the
    * two paths cannot silently diverge (the streaming spec additionally
    * asserts per-batch equality against the batch gate). */
  val GateLang = "en"
  val GateMinQuality = 0.5
  val GateTokenMin = 5L
  val GateTokenMax = 1000L

  /** Repetition-gate thresholds shared by the q53 query flag
    * ([[graft.queries.TextQueries.repetitionStats]]) and the pipeline's repetition
    * screen ([[graft.CuratePipeline]]) — a doc whose top `GateRepNgram`-gram
    * claims more than `GateRepTopFrac` of all its n-gram occurrences, or
    * whose duplicated n-grams claim more than `GateRepDupFrac`, is dropped
    * (Gopher-family repetition filters). One definition so the reported flag
    * and the enforcement cannot diverge. */
  val GateRepNgram = 2
  val GateRepTopFrac = 0.1
  val GateRepDupFrac = 0.2

  /** Decontamination n-gram size shared by the q52/q57 screens and the
    * pipeline's post-split drop: one shared word 8-gram with an eval doc
    * marks a training doc contaminated. */
  val DeconNgram = 8

  /** Boilerplate cap for the decontamination screens: a shingle carried by
    * more than this many TRAINING documents is boilerplate (license
    * headers, site chrome), not benchmark leakage — it is dropped before
    * the match join, which also bounds the pair-level join fan-out.
    * Shared by q52/q57 and the pipeline drop; mirrored in the oracle SQL. */
  val DeconMaxShingleDf = 1000L

  /** Full salted content md5 (32 lowercase-hex chars) — the deterministic
    * per-document priority key behind [[saltedBucket]] and the token-budget
    * selection ([[graft.operators.Budget]]). Fixed-width lowercase hex means
    * lexicographic order IS numeric order, and any hex prefix decomposes
    * that order — the property the budget operator's bucketed prefix-sum
    * relies on. The salt puts independent pipeline decisions in independent
    * hash domains (see [[saltedBucket]]). */
  def saltedHash(c: Column, salt: String): Column =
    md5(concat(lit(salt + ":"), coalesce(c, lit(""))).cast("binary"))

  /** Salted content-hash bucket: the first `digits` hex chars of
    * md5("salt:" ++ text). The salt puts independent pipeline decisions in
    * independent hash domains — an unsalted sample at rate 0.05 would select
    * a strict SUBSET of the q51 test split (every sampled doc has an md5
    * below "0ccccc" < the "0d" test cut), silently nesting subsampling
    * inside split assignment; distinct salts make the decisions
    * uncorrelated. */
  def saltedBucket(c: Column, salt: String, digits: Int): Column = {
    require(digits >= 1 && digits <= 15, s"digits must be in 1..15 (got $digits)")
    substring(saltedHash(c, salt), 1, digits)
  }

  /** The lexicographic hex cut point selecting a `rate` fraction of a
    * `digits`-char [[saltedBucket]] domain: floor(rate·16^digits) zero-padded
    * hex. The realized rate is exact to 16^-digits (6 digits → 6e-8).
    * rate = 1.0 returns "g" — one char that sorts after every hex string, so
    * `bucket < "g"` selects everything (the naive "1000000" is LONGER than
    * the buckets and lexicographically smaller than most of them). */
  def rateThresholdHex(rate: Double, digits: Int = 6): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1] (got $rate)")
    require(digits >= 1 && digits <= 15, s"digits must be in 1..15 (got $digits)")
    val space = 1L << (4 * digits)
    val t = math.floor(rate * space).toLong
    if (t >= space) "g" else s"%0${digits}x".format(t)
  }

  /** Deterministic content-hash sampling predicate: true for a `rateHex`
    * ([[rateThresholdHex]]) fraction of documents, reproducibly — the same
    * text is selected or not in every run on every cluster. Pass a per-row
    * `rateHex` expression (e.g. a `when` ladder over a stratum column) for
    * stratified rates. */
  def sampleHit(c: Column, rateHex: Column, salt: String = "sample",
      digits: Int = 6): Column =
    saltedBucket(c, salt, digits) < rateHex

  /** Email pattern — local part, @, dotted domain, alphabetic TLD of ≥2.
    * Character classes and bounded quantifiers only: identical in Java regex
    * and RE2. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** International-format phone: '+' followed by 7–15 digits (E.164 bound). */
  val PhoneRe = "\\+[0-9]{7,15}"

  /** Dotted-quad IPv4 shape (syntactic — octet ranges not validated, which is
    * the standard scrubbing posture: over-redaction is safe, and range checks
    * cost a non-portable regex). \b is ASCII word boundary in both engines. */
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def emailCount(c: Column): Column =
    regexp_count(coalesce(c, lit("")), lit(EmailRe)).cast("long")

  def phoneCount(c: Column): Column =
    regexp_count(coalesce(c, lit("")), lit(PhoneRe)).cast("long")

  def ipv4Count(c: Column): Column =
    regexp_count(coalesce(c, lit("")), lit(Ipv4Re)).cast("long")

  /** Replace every PII match with a typed placeholder. Replacement order is
    * part of the contract (mirrored by the oracle): emails first (their
    * domains may contain IP-shaped dotted quads), then IPv4, then phones —
    * each pass runs on the output of the previous one. Idempotent: no
    * placeholder is itself matched by a later pattern. */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(coalesce(c, lit("")), EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** [[curation]] over any (doc_id, text) frame — split out so the planted
    * spec can drive every reason branch (the synthetic corpus happens to
    * trigger only lang/quality). */
  def decisions(docs: DataFrame): DataFrame = {
    val scored = docs.select(
      col("doc_id"),
      Text.langId(col("text")).as("lang_pred"),
      Text.qualityScore(col("text")).as("quality_score"),
      Text.tokenCount(col("text")).as("n_tokens"),
      coalesce(md5(col("text").cast("binary")), lit("")).as("__fp"))
    // canonical per content hash as ONE window aggregate — same shuffle key
    // as a groupBy+rejoin but a single exchange and no join stage
    scored
      .withColumn("__keep_id", min("doc_id").over(Window.partitionBy("__fp")))
      .withColumn("reason",
        // gate thresholds shared with the streaming curation gate — see
        // Curation.Gate* (one definition, so the paths cannot diverge)
        when(col("lang_pred") =!= graft.functions.Curation.GateLang, "lang")
          .when(col("quality_score") < graft.functions.Curation.GateMinQuality, "quality")
          .when(col("n_tokens") < graft.functions.Curation.GateTokenMin ||
            col("n_tokens") > graft.functions.Curation.GateTokenMax, "length")
          .when(col("doc_id") =!= col("__keep_id"), "duplicate")
          .otherwise("keep"))
      .select(
        col("doc_id"), col("lang_pred"), col("quality_score"), col("n_tokens"),
        (col("reason") === "keep").as("keep"), col("reason"))
      .orderBy("doc_id")
  }
}
