package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Sketches, Text}

/** Frequency-threshold heavy hitters over word n-grams — "every phrase the
  * corpus repeats at least `minCount` times", the vocabulary/boilerplate-
  * mining primitive (the frequent-pattern stage of C4-style cleanup and
  * BPE-adjacent phrase vocabularies).
  *
  * The exact form is the textbook two-shuffle plan (explode → gram rollup).
  * Its 100 TB problem is not the rollup — it is that EVERY gram occurrence
  * shuffles, and n-gram streams are ~n× the token count with a heavy tail of
  * grams that occur once and could never reach any sensible threshold. The
  * sketched form removes exactly that tail before the exchange: a count-min
  * sketch of the gram stream (fixed `depth×width×8` bytes — one bounded
  * driver collect, the IVF/PQ-centroid posture) is probed scan-locally and
  * only grams whose ESTIMATE reaches the threshold shuffle at all. CMS
  * estimates are ≥ the true count always — collisions only ever add — so
  * the prescreen admits every true heavy hitter unconditionally (no false
  * negatives, not merely with high probability), and the surviving
  * overestimates die in the exact recount: the output is bit-identical to
  * the exact form, which the shared DuckDB oracle and the invariance spec
  * both check. `eps` tunes pruning power only (error ≤ eps×N): an undersized
  * sketch admits extra tail grams — slower, never wrong.
  *
  * Two full scans vs one is the CMS trade (a build-vs-probe split): at
  * scale the sketch build is a map-side-combined aggregate with a
  * constant-size result per partition, and the second scan
  * is the one that would have happened anyway — the win is replacing a
  * full-vocabulary exchange with a candidates-only exchange.
  */
object HeavyHitters {

  /** Exact heavy grams: complete word `n`-grams occurring ≥ `minCount`
    * times, with their exact counts. One data shuffle (gram rollup) + the
    * presentation sort. */
  def frequentGrams(docs: DataFrame, textCol: String, n: Int,
      minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1 (got $minCount)")
    grams(docs, textCol, n)
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
      .orderBy("gram")
  }

  /** [[frequentGrams]] with the count-min prescreen: same rows, same counts,
    * but only sketch-admitted grams reach the rollup exchange. */
  def frequentGramsSketched(docs: DataFrame, textCol: String, n: Int,
      minCount: Long, eps: Double = 1e-4,
      confidence: Double = 0.99): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1 (got $minCount)")
    val g = grams(docs, textCol, n)
    val sketch = g
      .agg(Sketches.countMinAgg(col("gram"), eps, confidence).as("__cms"))
      .head.getAs[Array[Byte]]("__cms")
    val admitted =
      if (sketch == null) g.filter(lit(false)) // empty corpus, empty report
      else g.filter(Sketches.cmsEstimate(sketch, col("gram")) >= minCount)
    admitted
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount) // sheds the CMS false positives
      .orderBy("gram")
  }

  /** The shared gram stream: strict (positionally complete) shingles, so a
    * short text contributes nothing rather than a padded pseudo-gram. */
  private def grams(docs: DataFrame, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"gram size must be >= 1 (got $n)")
    docs
      .select(explode(Text.strictShingles(col(textCol), n)).as("gram"))
      .filter(col("gram") =!= "")
  }
}
