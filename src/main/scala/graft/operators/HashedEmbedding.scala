package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Feature-hashed document embeddings — the hashing-trick text vectorizer
  * (Weinberger et al. 2009): every document becomes an L2-normalized
  * `dim`-bucket token-count vector, with buckets assigned by md5 prefix (the
  * repo's portable-hash idiom — any engine recomputes identical vectors).
  * This is the model-free bridge from TEXT to the engine's vector surface:
  * corpora without neural embeddings can still flow through cosine ANN
  * ([[Ann]]) and semantic dedup ([[SemDedup]]), with cosine(identical
  * texts) = 1 by construction and near-duplicate texts mapping to nearby
  * vectors (the same signal bag-of-words retrieval runs on).
  *
  * Determinism end-to-end: counts are exact longs, the only floating ops are
  * one `sqrt` (IEEE-754 requires sqrt correctly rounded — both engines agree
  * bitwise) and one division per bucket, so the [[sparse]] form is
  * DuckDB-oracle-able bit-for-bit (q86).
  *
  * Scale shape: token explode scan-local; the (doc, bucket) count is one
  * map-side-combined groupBy; the norm is a per-doc rollup joined back by
  * id — no window, no all-pairs, nothing driver-side.
  */
object HashedEmbedding {

  /** 0..255 bucket from the first two md5 hex chars of the token —
    * [[graft.functions.Curation.splitBucket]]'s domain as an integer. */
  private def bucket256(tok: org.apache.spark.sql.Column) =
    conv(substring(md5(tok.cast("binary")), 1, 2), 16, 10).cast("long")

  /** Sparse form: one row per (id, non-empty bucket) with the L2-normalized
    * weight. Blank documents emit no rows (they have no direction). */
  def sparse(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .filter(Text.tokenCount(col(textCol)) > 0L)
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("__tok"))
    val cnt = toks
      .groupBy(col(idCol), bucket256(col("__tok")).as("bucket"))
      .agg(count(lit(1)).as("__cnt"))
    val ss = cnt.groupBy(idCol)
      .agg(sum(col("__cnt") * col("__cnt")).as("__ss"))
    cnt.join(ss, Seq(idCol))
      .select(col(idCol), col("bucket"),
        (col("__cnt").cast("double") / sqrt(col("__ss").cast("double")))
          .as("weight"))
  }
}
