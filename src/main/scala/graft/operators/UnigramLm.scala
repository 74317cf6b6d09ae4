package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Corpus-trained unigram language-model scoring — the statistical quality
  * gate of the CCNet/RefinedWeb family (Wenzek et al. 2019 score documents
  * with a Wikipedia LM; the unigram form is the same signal one aggregation
  * cheaper): documents whose tokens are corpus-typical score high, documents
  * dominated by rare/garbled tokens score low. (Engine-addition family — the
  * reference has no statistical text surface.)
  *
  * Emitted per document: `n_tokens`, `sum_df` (sum over the document's tokens
  * of each token's corpus-wide occurrence count), `n_hapax` (tokens whose
  * corpus count is exactly 1 — the garbled-token detector), and
  * `mean_tok_prob` = sum_df / (n_tokens · N) with N the corpus token total —
  * the mean unigram probability of the document's tokens (the linear-space
  * analogue of mean log-likelihood; same ordering signal, but exact-integer
  * arithmetic until ONE final IEEE division, so any engine computing the
  * same formula gets the identical double — a log formulation would hang
  * bit-equality on libm rounding differences). Blank documents surface with
  * n_tokens = 0 and a NULL score, never dropped silently.
  *
  * Scale shape (100 TB): the token explode is scan-local; the vocabulary
  * aggregation is one map-side-combined groupBy(token) (vocabulary rows ≪
  * token occurrences); the occurrence→frequency join is keyed by token —
  * AQE broadcasts the vocabulary when it fits and degrades to a shuffled
  * hash join when a pathological corpus makes it huge (no OOM either way);
  * the per-document rollup is one groupBy(doc). The corpus total N is a
  * one-row aggregate broadcast back (the documented 1-row dim-probe
  * pattern). No window, no all-pairs, nothing driver-side.
  */
object UnigramLm {

  /** Train unigram statistics on a reference corpus: the token→count
    * vocabulary frame (columns `__tok`, `__df`) and the corpus token total.
    * The total is the one number that must leave the cluster (a 1-row
    * aggregate); the vocabulary stays distributed. Persist the returned
    * frame when scoring repeatedly against it (the streaming screen's
    * shape) — its lifecycle belongs to the caller. */
  def stats(corpus: DataFrame, textCol: String): (DataFrame, Long) = {
    val freq = corpus
      .filter(Text.tokenCount(col(textCol)) > 0L)
      .select(explode(Text.tokens(col(textCol))).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__df"))
    // coalesce: sum over an EMPTY vocabulary is SQL NULL — an all-blank
    // reference corpus must fail with a setup message, not an unboxing NPE
    val n = freq.agg(coalesce(sum("__df"), lit(0L))).head().getLong(0)
    require(n > 0L,
      "reference corpus has no tokens — unigram statistics cannot be trained " +
        "(every document is blank/whitespace)")
    (freq, n)
  }

  /** Score `df` against FROZEN reference statistics from [[stats]] — the
    * cross-corpus form (score a stream batch, a candidate crawl, or an
    * incremental delta against a trusted reference corpus). Same output
    * contract as [[score]] except `n_hapax` becomes `n_oov`: tokens absent
    * from the reference vocabulary (they contribute 0 to `sum_df` — the
    * natural unsmoothed estimate; a caller needing smoothing can add
    * +n_oov/N itself since every count is returned exact). */
  def scoreAgainst(
      df: DataFrame,
      idCol: String,
      textCol: String,
      freq: DataFrame,
      nTotal: Long): DataFrame = {
    require(nTotal > 0L, s"reference corpus is empty (nTotal=$nTotal)")
    val toks = df
      .filter(Text.tokenCount(col(textCol)) > 0L)
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("__tok"))
    val perDoc = toks.join(freq, Seq("__tok"), "left")
      .groupBy(idCol)
      .agg(
        sum(coalesce(col("__df"), lit(0L))).as("sum_df"),
        sum(when(col("__df").isNull, 1L).otherwise(0L)).as("n_oov"))
    df.select(col(idCol), Text.tokenCount(col(textCol)).as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_tokens"),
        coalesce(col("sum_df"), lit(0L)).as("sum_df"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(col("n_tokens") > 0L,
          col("sum_df").cast("double") /
            (col("n_tokens").cast("double") * lit(nTotal).cast("double")))
          .as("mean_tok_prob"))
  }

  /** Score `df(idCol, textCol, …)` against its own unigram statistics.
    * Tokens are the normalized whitespace stream ([[Text.tokens]]). */
  def score(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .filter(Text.tokenCount(col(textCol)) > 0L)
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("__tok"))
    val freq = toks.groupBy("__tok").agg(count(lit(1)).as("__df"))
    val total = freq.agg(sum("__df").as("__n_total"))
    val perDoc = toks.join(freq, Seq("__tok"))
      .groupBy(idCol)
      .agg(
        sum("__df").as("sum_df"),
        sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("n_hapax"))
    df.select(col(idCol), Text.tokenCount(col(textCol)).as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .crossJoin(broadcast(total))
      .select(
        col(idCol),
        col("n_tokens"),
        coalesce(col("sum_df"), lit(0L)).as("sum_df"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
        when(col("n_tokens") > 0L,
          col("sum_df").cast("double") /
            (col("n_tokens").cast("double") * col("__n_total").cast("double")))
          .as("mean_tok_prob"))
  }

  /** Per-document unigram (token) Shannon entropy + top-token fraction —
    * the information-density quality signal: low entropy flags repetitive
    * machine-generated text the way the Gopher fraction filters (q53) do,
    * but in one number with a natural threshold scale (bits). Computed as
    * log2(n) − (Σ c·log2 c)/n over the per-doc token counts.
    *
    * Determinism policy: counts and top_token_frac are exact (longs + one
    * division); entropy's cross-token float sum folds in SORTED token order
    * on BOTH engines (Spark `aggregate(array_sort(collect_list))`, DuckDB
    * `list_reduce(list(... ORDER BY tok))` — the 0.0-seeded and
    * first-element-seeded folds produce the identical addition sequence
    * since 0.0 + x = x bitwise), leaving only log2's last-ulp libm
    * variation, absorbed by the 6dp round (the q33 precedent). Blank
    * documents surface with n_tokens 0 and NULL entropy, never dropped.
    *
    * Scale shape: explode → (doc, tok) rollup → per-doc fold: two
    * partial-aggregated shuffles, both doc-keyed; the per-doc collect_list
    * is bounded by the doc's VOCABULARY (distinct tokens), not its
    * length. */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val toks = docs
      .filter(trim(coalesce(col("text"), lit(""))) =!= "")
      .select(col("doc_id"), explode(graft.functions.Text.tokens(col("text"))).as("tok"))
    val agg = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        max("c").as("__mx"),
        aggregate(
          array_sort(collect_list(struct(col("tok"), col("c")))),
          lit(0.0),
          (acc, x) => acc +
            x.getField("c").cast("double") * log2(x.getField("c").cast("double")))
          .as("__scc"))
    docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("vocab_size"), lit(0L)).as("vocab_size"),
        round(log2(col("n_tokens").cast("double")) - col("__scc") / col("n_tokens"), 6)
          .as("entropy"),
        (col("__mx").cast("double") / col("n_tokens")).as("top_token_frac"))
  }
}
