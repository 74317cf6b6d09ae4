package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Text

/** Byte-pair-encoding merge-loop trainer (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the iterated
  * driver over the q78 pair kernel: count adjacent symbol pairs weighted by
  * word frequency, merge the heaviest pair corpus-wide, re-count, k times.
  * The result is the ordered merge table a BPE tokenizer IS. (Engine-
  * addition family — the reference has no tokenizer surface.)
  *
  * Design for scale: the corpus is touched ONCE (the word-frequency rollup —
  * map-side combined, output is the distinct vocabulary, corpus-size-
  * independent); every merge iteration runs on that vocabulary table alone —
  * pair explode + one tiny map-side-combined aggregation + a driver-side
  * top-1 (a single collected row, the merge decision every executor needs
  * next round — the same 1-row dim-probe pattern as the corpus totals). The
  * symbol rewrite is a native `aggregate` fold (no UDF): greedy leftmost
  * non-overlapping application, the classic single-pass semantics. Each
  * iteration's vocabulary is persisted and the previous one released, so
  * plan depth and memory stay O(1) in k.
  *
  * Determinism: ties on pair weight break by (left, right) ascending —
  * iteration 1 therefore reproduces exactly the head of q78's pair table
  * (`TextQueries.bpePairs` orders by weight desc, pair asc; for single-char
  * symbols the concatenated pair string orders identically to the tuple).
  *
  * Simplification vs the paper: no end-of-word marker symbol — merges
  * never cross word boundaries here either (pairs are within-word), but a
  * trained tokenizer wanting word-final distinctions should append its own
  * marker to `initialSymbols`.
  */
object Bpe {

  private val mergeSchema = StructType(Seq(
    StructField("step", IntegerType, nullable = false),
    StructField("left", StringType, nullable = false),
    StructField("right", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("weight", LongType, nullable = false)))

  /** One merge decision. */
  final case class Merge(step: Int, left: String, right: String, weight: Long) {
    def merged: String = left + right
  }

  /** The corpus word-frequency vocabulary with each word split into its
    * initial single-character symbols: (`__syms` array<string>, `__n` long).
    * The ONLY corpus-sized computation in the trainer. */
  def initialSymbols(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(Text.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("__n"))
      .select(
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("__syms"),
        col("__n"))

  /** Adjacent-pair weights of a symbol vocabulary: (left, right, weight),
    * weight = Σ word-frequency over occurrences. Single-symbol words
    * contribute nothing. */
  def pairWeights(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("__syms")) >= 2)
      .select(col("__n"), explode(
        transform(sequence(lit(0), size(col("__syms")) - 2),
          j => struct(
            element_at(col("__syms"), j + 1).as("left"),
            element_at(col("__syms"), j + 2).as("right")))).as("__p"))
      .groupBy(col("__p").getField("left").as("left"),
        col("__p").getField("right").as("right"))
      .agg(sum("__n").as("weight"))

  /** Rewrite every word's symbols applying ONE merge greedily left-to-right
    * (non-overlapping, the classic single-pass): each adjacent (left,
    * right) becomes the concatenated symbol. Native `aggregate` fold —
    * state is (rebuilt array, pending symbol). */
  def applyMerge(vocab: DataFrame, m: Merge): DataFrame = {
    val nullStr = lit(null).cast("string")
    val folded = aggregate(
      col("__syms"),
      struct(array().cast("array<string>").as("res"), nullStr.as("pend")),
      (acc, s) => {
        val res = acc.getField("res")
        val pend = acc.getField("pend")
        when(pend.isNull, struct(res.as("res"), s.as("pend")))
          .when(pend === lit(m.left) && s === lit(m.right),
            struct(concat(res, array(lit(m.merged))).as("res"), nullStr.as("pend")))
          .otherwise(struct(concat(res, array(pend)).as("res"), s.as("pend")))
      },
      acc => when(acc.getField("pend").isNull, acc.getField("res"))
        .otherwise(concat(acc.getField("res"), array(acc.getField("pend")))))
    vocab.select(folded.as("__syms"), col("__n"))
  }

  /** Train `merges` BPE merges over the corpus. Returns the ordered merge
    * table (step, left, right, merged, weight) — fewer rows than requested
    * if the vocabulary runs out of adjacent pairs first. Each iteration's
    * top pair is chosen by (weight desc, left asc, right asc) —
    * deterministic and engine-independent. */
  def train(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges >= 1, s"merges must be >= 1 (got $merges)")
    val spark = docs.sparkSession
    var vocab = initialSymbols(docs, textCol).persist()
    vocab.count()
    val out = scala.collection.mutable.ListBuffer.empty[Merge]
    try {
      var step = 1
      var exhausted = false
      while (step <= merges && !exhausted) {
        val top = pairWeights(vocab)
          .orderBy(desc("weight"), col("left"), col("right"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val m = Merge(step, top(0).getString(0), top(0).getString(1),
            top(0).getLong(2))
          out += m
          val next = applyMerge(vocab, m).persist()
          next.count()
          vocab.unpersist()
          vocab = next
          step += 1
        }
      }
    } finally vocab.unpersist()
    spark.createDataFrame(
      java.util.Arrays.asList(
        out.map(m => Row(m.step, m.left, m.right, m.merged, m.weight)).toSeq: _*),
      mergeSchema)
  }

  /** Tokenize `textCol` with a trained merge table: split each word into
    * characters and replay every merge in ORDER — the inference half of BPE
    * (the trained table is the tokenizer). Adds `outCol` as the per-text
    * symbol array. Merge table is collected (it is k rows by construction)
    * and replayed scan-locally — zero shuffles. */
  def encode(
      docs: DataFrame, textCol: String, mergeTable: DataFrame,
      outCol: String = "bpe_tokens"): DataFrame = {
    val ms = mergeTable.orderBy("step").collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    val nullStr = lit(null).cast("string")
    def applyOne(symsCol: org.apache.spark.sql.Column, m: Merge) =
      aggregate(
        symsCol,
        struct(array().cast("array<string>").as("res"), nullStr.as("pend")),
        (acc, s) => {
          val res = acc.getField("res")
          val pend = acc.getField("pend")
          when(pend.isNull, struct(res.as("res"), s.as("pend")))
            .when(pend === lit(m.left) && s === lit(m.right),
              struct(concat(res, array(lit(m.merged))).as("res"), nullStr.as("pend")))
            .otherwise(struct(concat(res, array(pend)).as("res"), s.as("pend")))
        },
        acc => when(acc.getField("pend").isNull, acc.getField("res"))
          .otherwise(concat(acc.getField("res"), array(acc.getField("pend")))))
    val words = Text.tokens(col(textCol))
    val encodedWords = transform(words, w =>
      ms.foldLeft(transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))))(
        (acc, m) => applyOne(acc, m)))
    docs.withColumn(outCol, flatten(
      when(trim(coalesce(col(textCol), lit(""))) === "",
        array().cast("array<array<string>>"))
        .otherwise(encodedWords)))
  }
}
