package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, word shingles, token/char statistics, a stopword-based
  * language-ID heuristic, and a composite quality score.
  *
  * Everything here is built-in Catalyst expressions (codegen'd, no UDFs) so the
  * scan→score path stays inside WholeStageCodegen at 100 TB. The regex dialect
  * is restricted to constructs that mean the same thing in Java regex and RE2,
  * so the DuckDB oracles in [[graft.Queries]] can mirror the semantics 1:1.
  */
object Text {

  /** Whitespace tokens of the lowercased, trimmed text. Empty text → [""]
    * (size 1) — callers that need 0-for-empty should guard on `trim(c) = ''`.
    *
    * The separator class is spelled out as `[ \t\n\f\r]` instead of `\s`:
    * Java's `\s` additionally matches vertical tab (\x0B) while RE2/DuckDB's
    * does not, so `\s` would tokenize a \x0B-bearing document differently in
    * the two engines. The explicit class means the same thing in both.
    */
  def tokens(c: Column): Column =
    split(lower(trim(coalesce(c, lit("")))), "[ \\t\\n\\f\\r]+")

  /** Token count; 0 for empty/blank text. */
  def tokenCount(c: Column): Column =
    when(trim(coalesce(c, lit(""))) === "", 0L)
      .otherwise(size(tokens(c)).cast("long"))

  /** BPE-style sub-word token count: runs of letters, runs of digits, and
    * runs of other non-space symbols each count as one token (the GPT-2
    * pre-tokenizer segmentation, minus contraction special-cases and the
    * trailing-space lookahead — kept RE2-compatible so the DuckDB oracle
    * computes the identical count). A cheap LLM-cost estimator: whitespace
    * counting undercounts punctuation-heavy and code-like text badly. */
  def subwordTokenCount(c: Column): Column =
    regexp_count(coalesce(c, lit("")),
      // explicit [ \t\n\f\r] rather than \s: Java-vs-RE2 \x0B divergence,
      // same reasoning as [[tokens]]
      lit("\\p{L}+|\\p{N}+|[^ \\t\\n\\f\\r\\p{L}\\p{N}]+")).cast("long")

  /** Word n-gram shingles (space-joined), the MinHash input unit. Texts with
    * fewer than `n` tokens yield the whole text as a single shingle.
    *
    * Built as n zipped slices of the token array rather than a
    * `transform(sequence(...), i => slice(tokens, i, n))` — inside a
    * higher-order-function lambda every outer reference re-evaluates per
    * element, so the transform form re-split the text O(tokens) times per row
    * (measured 3.3s for 5000 docs). The zip form evaluates the split a
    * constant number of times.
    */
  def shingles(c: Column, n: Int): Column = {
    require(n >= 1, s"shingle size must be >= 1 (got $n)")
    val t = tokens(c)
    val cnt = size(t) - (n - 1)
    val joined = (1 to n)
      .map(i => slice(t, lit(i), cnt))
      .reduce((acc, p) => zip_with(acc, p, (a, b) => concat(a, lit(" "), b)))
    when(size(t) <= n, array(concat_ws(" ", t))).otherwise(joined)
  }

  /** Strict word n-gram shingles: positionally complete n-grams ONLY — a text
    * with fewer than `n` tokens yields the EMPTY array (unlike [[shingles]],
    * which falls back to the whole text as one shingle). This is the span-
    * detection unit: element i of the result is the n-gram starting at token
    * index i, so `posexplode` over it yields (start-token-index, span) pairs
    * directly. Same zip construction as [[shingles]] (no per-element re-split).
    */
  def strictShingles(c: Column, n: Int): Column = {
    require(n >= 1, s"shingle size must be >= 1 (got $n)")
    val t = tokens(c)
    val cnt = size(t) - (n - 1)
    val joined = (1 to n)
      .map(i => slice(t, lit(i), cnt))
      .reduce((acc, p) => zip_with(acc, p, (a, b) => concat(a, lit(" "), b)))
    when(cnt <= 0, array().cast("array<string>")).otherwise(joined)
  }

  /** Count of regex matches in the lowercased text (RE2-compatible pattern). */
  def patternHits(c: Column, pattern: String): Column =
    regexp_count(lower(coalesce(c, lit(""))), lit(pattern))

  /** Sentence-ending punctuation count. */
  def punctCount(c: Column): Column =
    length(regexp_replace(coalesce(c, lit("")), "[^.!?]", "")).cast("long")

  // Stopword alternations per language — word-boundary anchored, high-frequency
  // function words. \b is identical in Java regex and RE2.
  val EnStop = "\\b(the|and|of|to|in|is|a)\\b"
  val EsStop = "\\b(el|la|los|las|de|que|y|en)\\b"
  val DeStop = "\\b(der|die|und|das|ist|von|den)\\b"
  val FrStop = "\\b(le|les|et|des|est|un|une)\\b"

  /** Heuristic language ID over {zh, en, es, de, fr}: CJK-dominant text → zh,
    * otherwise the language with the most stopword hits (ties resolved in the
    * fixed order en > es > de > fr). `und` when nothing matches.
    */
  def langId(c: Column): Column = {
    val s = coalesce(c, lit(""))
    val cjk = length(regexp_replace(s, "[^\\x{4e00}-\\x{9fff}]", "")).cast("long")
    val en = patternHits(s, EnStop)
    val es = patternHits(s, EsStop)
    val de = patternHits(s, DeStop)
    val fr = patternHits(s, FrStop)
    when(cjk * 5 > length(s), lit("zh"))
      .when(en === 0 && es === 0 && de === 0 && fr === 0, lit("und"))
      .when(en >= es && en >= de && en >= fr, lit("en"))
      .when(es >= de && es >= fr, lit("es"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Composite quality score in [0, 1]: length credit (saturating at 100
    * tokens), a chars-in-band credit, a stopword-presence credit, and a
    * punctuation-presence credit. Every term is an exact IEEE-754 operation on
    * integers-as-doubles, so any engine computing the same formula gets the
    * identical double.
    */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val nChars = length(coalesce(c, lit(""))).cast("long")
    val stop = patternHits(c, EnStop) + patternHits(c, EsStop) +
      patternHits(c, DeStop) + patternHits(c, FrStop)
    least(nTok / 100.0, lit(1.0)) * 0.4 +
      when(nChars.between(50, 5000), 0.3).otherwise(0.0) +
      when(stop > 0, 0.2).otherwise(0.0) +
      when(punctCount(c) > 0, 0.1).otherwise(0.0)
  }

  /** 64-bit content fingerprint of the normalized token stream — exact-dup
    * detection key that ignores case/whitespace variation. xxhash64 is Spark's
    * codegen'd hash; for cross-engine stability use [[VectorExpressions.simhash64]]
    * (FNV-based) instead.
    */
  def contentFingerprint(c: Column): Column =
    xxhash64(concat_ws(" ", tokens(c)))
}
