package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Hashed n-gram importance weighting — the data-selection family of DSIR
  * (Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw document by how target-like its hashed
  * feature profile is, where "target" is any deterministic predicate over the
  * corpus (a quality gate, a trusted domain, a reference corpus). Documents
  * scoring high are the ones importance resampling would keep.
  * (Engine-addition family — the reference has no statistical text surface.)
  *
  * Features are word unigrams + bigrams hashed to `16^digits` buckets by md5
  * prefix (the repo's portable-hash idiom, [[graft.functions.Curation]] — any
  * engine recomputes the identical buckets). Per document the emitted columns
  * are exact longs: `n_feats` (feature occurrences), `sum_target` / `sum_raw`
  * (the document's feature occurrences weighted by the bucket's target / raw
  * corpus counts). The score is the LINEAR-SPACE importance ratio
  *
  *   dsir_score = (sum_target / sum_raw) · (N_raw / N_target)
  *
  * — the per-feature-mass analogue of the paper's log-probability ratio
  * (§2.2), deliberately log-free like [[UnigramLm]]'s `mean_tok_prob`: the
  * internals stay exact integers, the score is TWO IEEE divisions and one
  * multiply in fixed order, so an independent engine reproduces the identical
  * double (a log formulation would hang bit-equality on libm rounding).
  * score > 1 ⇔ the document's feature mass is more target-typical than the
  * raw-corpus average. Blank documents surface with `n_feats = 0` and a NULL
  * score; an empty target set yields NULL scores everywhere (surfaced, not
  * thrown — the predicate, not the data, is wrong).
  *
  * Scale shape (100 TB): feature explode is scan-local, and the target flag
  * rides INLINE from the document row (isTarget is evaluated before the
  * explode — no target join, ever). ONE map-side-combined bucket rollup
  * carries both the raw and target counts, eagerly materialized as a
  * ≤ 16^digits-row dim (the bounded-dim posture — k-means centroids, probed
  * cells); the corpus totals aggregate that dim (never the corpus), and the
  * scoring pass streams the re-exploded features past the BROADCAST dim
  * straight into the per-document partial aggregate. Two corpus passes
  * total — the floor for "score each feature against global counts" without
  * caching the token stream — one id-keyed shuffle, zero bucket-keyed
  * shuffles, nothing unbounded driver-side, no window, no all-pairs. (An
  * earlier revision joined a target-id list and ran two lazy bucket rollups
  * — three-plus independent executions of the explode pipeline and two
  * bucket-keyed corpus shuffles.)
  */
object Dsir {

  /** Annotate every row of `df` with DSIR importance columns against the
    * target subset selected by `isTarget` (evaluated on `df`'s columns).
    *
    * @param digits md5-prefix hex chars per bucket (3 → 4096 buckets, the
    *               paper's 10k-bucket regime at the nearest power of 16)
    */
  def importanceWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      digits: Int = 3): DataFrame = {
    require(digits >= 1 && digits <= 8, s"digits must be in 1..8 (got $digits)")
    val base = df
      .filter(Text.tokenCount(col(textCol)) > 0L)
      // the target flag is computed HERE, on the document row, so it
      // explodes along with the features — no target-id join downstream
      .select(col(idCol), Text.tokens(col(textCol)).as("__t"),
        coalesce(isTarget, lit(false)).as("__is_t"))
    val uni = base.select(col(idCol), col("__is_t"), explode(col("__t")).as("__feat"))
    // guard size >= 2: sequence(0, -1) would DESCEND, not be empty
    val bi = base.filter(size(col("__t")) >= 2)
      .select(col(idCol), col("__is_t"), explode(
        transform(sequence(lit(0), size(col("__t")) - 2),
          i => concat(element_at(col("__t"), i + 1), lit(" "),
            element_at(col("__t"), i + 2)))).as("__feat"))
    val feats = uni.unionAll(bi)
      .select(col(idCol), col("__is_t"),
        substring(md5(col("__feat").cast("binary")), 1, digits).as("__bk"))
    // ONE vocabulary-sized rollup carries both counts, eagerly materialized
    // (≤ 16^digits rows — the bounded-dim posture): the corpus token stream
    // folds into it exactly once, and every downstream consumer (the totals
    // aggregate, the scoring join) reads the tiny materialized dim instead
    // of re-deriving it. The scoring join BROADCASTS the dim, so the second
    // (and last) corpus pass is scan-local straight into the per-document
    // partial aggregate — two corpus passes total, one id-keyed shuffle,
    // zero bucket-keyed shuffles.
    val counts = Loops.checkpoint(feats.groupBy("__bk").agg(
      count(lit(1)).as("__n_raw"),
      sum(when(col("__is_t"), 1L).otherwise(0L)).as("__n_t")), eager = true)
    val totals = counts.agg(
      coalesce(sum("__n_raw"), lit(0L)).as("__N_raw"),
      coalesce(sum("__n_t"), lit(0L)).as("__N_t"))
    val perDoc = feats
      .join(broadcast(counts), Seq("__bk"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_feats"),
        sum(col("__n_t")).as("sum_target"),
        sum("__n_raw").as("sum_raw"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .crossJoin(broadcast(totals))
      .select(
        col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("sum_target"), lit(0L)).as("sum_target"),
        coalesce(col("sum_raw"), lit(0L)).as("sum_raw"),
        when(col("sum_raw") > 0L && col("__N_t") > 0L,
          (col("sum_target").cast("double") / col("sum_raw").cast("double")) *
            (col("__N_raw").cast("double") / col("__N_t").cast("double")))
          .as("dsir_score"))
  }
}
