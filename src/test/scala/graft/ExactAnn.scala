package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorExpressions => V}

/** Exact nearest-neighbour references the specs compare the production
  * kernels against: the declarative joins ([[bruteForceTopK]],
  * [[cosinePairsAbove]]) materialize O(n²) rows through a nested-loop join,
  * and the broadcast-index kernel ([[bruteForceTopKBroadcast]]) bounds n by
  * driver memory. [[graft.operators.Ann]]'s block-partitioned kernels are
  * proven row-identical to these. */
object ExactAnn {

  /** Majority length wins; ties break toward the smaller dimension. Using the
    * majority — not the first row — means one corrupt (mismatched) vector can
    * never silently disqualify the whole well-formed corpus. */
  private def majorityDim(lengths: Iterator[Int]): Int = {
    val counts = scala.collection.mutable.Map.empty[Int, Long]
    lengths.foreach(l => counts(l) = counts.getOrElse(l, 0L) + 1L)
    require(counts.nonEmpty, "majorityDim of an empty corpus")
    counts.maxBy { case (d, c) => (c, -d.toLong) }._1
  }

  /** Exact cosine top-k per vector: (id, neighbor_id, cosine, rank). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val a = emb.select(col(idCol).as("id"), col(vecCol).as("__va"))
    val b = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("__vb"))
    val w = Window.partitionBy("id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    a.join(b, col("id") =!= col("neighbor_id"))
      .withColumn("cosine", V.vec_cosine(col("__va"), col("__vb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("id", "neighbor_id", "cosine", "rank")
  }

  /** Exact cosine top-k via a broadcast index matrix: the corpus (id, vector)
    * is collected and broadcast, and each partition scans its queries against
    * it with a bounded top-k selection — no join, no shuffle, no O(n²) row
    * materialization. On a well-formed corpus (non-null, uniform-dimension
    * vectors, unique ids) the output is row-identical to [[bruteForceTopK]]
    * (same double arithmetic, same (cosine desc, id asc) tie-break; proven by
    * an identity spec); null or dimension-mismatched vectors are EXCLUDED
    * from both sides (the join formulation instead ranks them with null
    * cosine — exclusion is this kernel's contract).
    *
    * Bounds: the index must fit in DRIVER memory (one collect) and executor
    * memory (the broadcast) — the inherent limit of exact brute force; past
    * it, use [[graft.operators.Ann.lshTopK]] or [[graft.operators.Ivf.ivfTopK]].
    * Broadcasts are reclaimed by Spark's ContextCleaner once the returned
    * frame becomes unreachable.
    */
  def bruteForceTopKBroadcast(
      emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val pairs = emb.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Seq[Float])]
    val collected = pairs.collect().collect {
      case (id, v) if v != null => (id, v.toArray)
    }
    val dim =
      if (collected.isEmpty) 0 else majorityDim(collected.iterator.map(_._2.length))
    val index = collected.filter(_._2.length == dim)
    val bc = spark.sparkContext.broadcast(index)
    pairs.mapPartitions { it =>
      val idx = bc.value
      it.flatMap {
        case (_, null) => Iterator.empty
        case (qid, qSeq) if qSeq.length == dim =>
          val q = qSeq.toArray
          var qn = 0.0
          var i = 0
          while (i < q.length) { qn += q(i).toDouble * q(i); i += 1 }
          val qNorm = math.sqrt(qn)
          // bounded selection: k best by (cosine desc, id asc); the index
          // position breaks ties so duplicate corpus ids are all retained
          val best = new java.util.TreeSet[(Double, Long, Int)](
            Ordering.Tuple3(Ordering[Double].reverse, Ordering[Long], Ordering[Int]))
          var j = 0
          while (j < idx.length) {
            val (nid, v) = idx(j)
            if (nid != qid) {
              var dot = 0.0; var vn = 0.0
              var x = 0
              while (x < v.length) {
                dot += q(x).toDouble * v(x); vn += v(x).toDouble * v(x); x += 1
              }
              val cos = if (qn == 0.0 || vn == 0.0) 0.0 else dot / (qNorm * math.sqrt(vn))
              best.add((cos, nid, j))
              if (best.size > k) best.remove(best.last)
            }
            j += 1
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
          val iter = best.iterator()
          var rank = 1L
          while (iter.hasNext) {
            val (cos, nid, _) = iter.next()
            out += ((qid, nid, cos, rank))
            rank += 1
          }
          out.iterator
        case _ => Iterator.empty
      }
    }.toDF("id", "neighbor_id", "cosine", "rank")
  }

  /** All pairs with cosine >= `threshold` — the exact near-duplicate pair
    * scan, O(n²·d): the recall oracle for threshold dedup, not the production
    * path. At scale, run [[graft.operators.Ann.lshTopK]]-style bucketing
    * first and apply the threshold to candidates. */
  def cosinePairsAbove(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", V.vec_cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
