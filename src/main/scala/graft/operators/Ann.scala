package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorExpressions => V}

/** Nearest-neighbor search over an embedding column (`array<float>`).
  *
  * Three tiers, by scale:
  *  - EXACT: the block-partitioned kernels ([[blockTopK]] /
  *    [[blockTopKJoin]] / [[blockPairsAbove]]) — O(n·m·d) arithmetic fully
  *    distributed with bounded per-task memory, no driver collect, no BNLJ.
  *    These are the registered/benched exact paths; the join form is the
  *    asymmetric batch-vs-corpus shape.
  *  - APPROXIMATE, extreme scale: multi-table hyperplane LSH ([[lshTopK]] /
  *    [[lshPairsAbove]]) and IVF ([[Ivf.ivfTopK]]) — bucket equi-joins, cost
  *    O(n · bucket-width · d); recall bought with `tables`/`nProbe`. Tune
  *    nBits up with log₂(n) to hold bucket width constant.
  */
object Ann {

  /** Majority vector dimension of a frame plus the number of rows carrying
    * it, computed distributed (one count-by-length aggregation — a narrow
    * scan even at lake scale). The count comes free with the dim (it IS the
    * majority group's count), so callers needing both — e.g. the IVF
    * trainer's sample-rate computation — pay one job, not two.
    * Returns None for an empty / all-null corpus. */
  private[graft] def majorityDimAndCountOf(
      emb: DataFrame, vecCol: String): Option[(Int, Long)] = {
    val rows = emb.filter(col(vecCol).isNotNull)
      .groupBy(size(col(vecCol)).as("__d")).count()
      .orderBy(col("count").desc, col("__d").asc).limit(1).collect()
    rows.headOption.map(r => (r.getInt(0), r.getLong(1)))
  }

  /** SplitMix64 finalizer (same mix as VectorExpressions) — block assignment
    * must not depend on id patterns (sequential, strided) for balance. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("id", "neighbor_id", "cosine", "rank")
  }

  /** Candidate pairs sharing an LSH bucket in at least one of `tables`
    * independent hyperplane families, deduplicated. `ordered` keeps only
    * id < neighbor_id (one row per unordered pair) BEFORE the distinct, so
    * the dedup shuffle carries half the rows.
    *
    * `flips` > 0 turns on multi-probe (Lv et al., VLDB'07): the PROBE side
    * additionally visits the buckets reached by flipping its `flips`
    * least-confident hyperplane bits, while the index side stays single-
    * bucket — recall close to (1+flips)× more tables for one hash pass and
    * no extra index rows. Probing is asymmetric, so for pair semantics a
    * pair is caught when EITHER endpoint probes into the other's home
    * bucket (the join stays an equi-join on (table, bucket)). */
  private def lshCandidates(
      emb: DataFrame, idCol: String, vecCol: String,
      nBits: Int, tables: Int, ordered: Boolean, flips: Int = 0): DataFrame = {
    require(tables >= 1, s"tables must be >= 1 (got $tables)")
    val home = emb.select(
      col(idCol).as("id"),
      explode(array((0 until tables).map(s =>
        struct(lit(s).as("t"), V.lsh_bucket(col(vecCol), nBits, s.toLong).as("b"))): _*))
        .as("__tb"))
    val probe =
      if (flips == 0) home
      else emb.select(
        col(idCol).as("id"),
        explode(flatten(array((0 until tables).map(s =>
          transform(V.lsh_probes(col(vecCol), nBits, s.toLong, flips),
            b => struct(lit(s).as("t"), b.as("b")))): _*)))
          .as("__tb"))
    val joined = probe
      .join(home.select(col("id").as("neighbor_id"), col("__tb")), Seq("__tb"))
    // ordered + multi-probe must canonicalize AFTER the join: a pair caught
    // only by the HIGHER id probing into the lower id's home bucket would be
    // dropped by a pre-distinct id<neighbor filter. Without probing the two
    // join rows of a pair are mirror images, so the old half-shuffle filter
    // stays.
    (if (ordered && flips == 0) joined.filter(col("id") < col("neighbor_id"))
     else if (ordered)
       joined.filter(col("id") =!= col("neighbor_id"))
         .select(least(col("id"), col("neighbor_id")).as("id"),
           greatest(col("id"), col("neighbor_id")).as("neighbor_id"))
     else joined.filter(col("id") =!= col("neighbor_id")))
      .select("id", "neighbor_id")
      .distinct()
  }

  /** LSH-bucketed cosine top-k: candidates are pairs sharing a bucket in at
    * least one of `tables` independent hyperplane families; each candidate is
    * scored once (distinct before the vector rejoin).
    */
  def lshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nBits: Int = 12,
      tables: Int = 2,
      flips: Int = 0): DataFrame = {
    val cand = lshCandidates(emb, idCol, vecCol, nBits, tables, ordered = false, flips = flips)
    val va = emb.select(col(idCol).as("id"), col(vecCol).as("__va"))
    val vb = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("__vb"))
    topK(
      cand.join(va, Seq("id")).join(vb, Seq("neighbor_id"))
        .withColumn("cosine", V.vec_cosine(col("__va"), col("__vb"))),
      k)
  }

  /** LSH-gated near-duplicate pairs: bucket candidates (no all-pairs stage),
    * then the TRUE cosine thresholded on candidates only — the production
    * form of the exact thresholded pair scan at extreme scale. Approximate
    * solely by candidate recall (a pair above threshold sharing no bucket is missed);
    * every emitted cosine is exact. Recall-tested against the exact scan. */
  def lshPairsAbove(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBits: Int = 6,
      tables: Int = 8,
      flips: Int = 0): DataFrame = {
    val cand = lshCandidates(emb, idCol, vecCol, nBits, tables, ordered = true, flips = flips)
    val va = emb.select(col(idCol).as("id"), col(vecCol).as("__va"))
    val vb = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("__vb"))
    cand.join(va, Seq("id")).join(vb, Seq("neighbor_id"))
      .withColumn("cosine", V.vec_cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id").as("id_a"), col("neighbor_id").as("id_b"), col("cosine"))
  }

  // ---- Block-partitioned exact kernels ---------------------------------------
  //
  // Exact kNN / exact thresholded pairs are inherently O(n²·d) arithmetic; the
  // scale question is only WHERE that arithmetic runs. A broadcast index
  // bounds n by driver + executor memory; a non-equi join formulation
  // materializes O(n²) rows through a BroadcastNestedLoopJoin. The block form
  // has neither choke point: the corpus is hash-split into `blocks` index
  // blocks (one shuffle), queries are replicated to every block (a `blocks`×
  // fan-out shuffle of the vector column), and a cogroup scans each block
  // in-memory exactly once per task while queries STREAM past it — per-task
  // memory is one block (n/blocks · d · 4 bytes, tuned by `blocks`), no
  // driver collect, no broadcast, no O(n²) row materialization. The final
  // top-k combine shuffles only n·blocks·k candidate triples.

  /** Per-task index-memory budget for the auto block count (~64 MB of
    * decoded float vectors — well inside any sane executor heap while big
    * enough that block scans stay compute-bound, not scheduling-bound). */
  private[graft] val DefaultBlockBytes: Long = 64L << 20

  /** Block count when the caller doesn't pin one: enough blocks that (a) one
    * index block fits [[DefaultBlockBytes]] and (b) the scan stage can use
    * every core (`parallelism` — locally the core count; on a real cluster
    * `defaultParallelism` = total executor cores, which is exactly the
    * fan-out the cogroup stage should have). Memory wins when the corpus is
    * large: blocks grows LINEARLY with corpus size, so the forgotten-knob
    * failure mode — 100× corpus → 100× per-task index memory — cannot
    * happen; per-task memory is flat and only the (cheap, shuffle-bounded)
    * query fan-out grows. Capped at n (more blocks than rows is waste). */
  private[graft] def autoBlocks(n: Long, dim: Int, parallelism: Int): Int = {
    val rowBytes = 4L * dim + 24L // float payload + id + per-object overhead
    val byMemory = (n * rowBytes + DefaultBlockBytes - 1) / DefaultBlockBytes
    val target = math.max(byMemory, math.max(1, parallelism).toLong)
    math.max(1L, math.min(target, math.max(1L, n))).toInt
  }

  /** Resolve the `blocks` parameter: positive = caller-pinned; 0 = derive
    * via [[autoBlocks]] from `n`, passed BY NAME — kernels that already hold
    * the majority-dim row count (free with the dim from
    * [[majorityDimAndCountOf]]) pass it directly and auto-resolution costs
    * NO extra job. */
  private def resolveBlocks(blocks: Int, n: => Long, dim: Int, df: DataFrame): Int = {
    require(blocks >= 0, s"blocks must be >= 0 (0 = auto; got $blocks)")
    if (blocks > 0) blocks
    else autoBlocks(n, dim, df.sparkSession.sparkContext.defaultParallelism)
  }

  /** Per-vector L2 norms of an index block — same accumulation order as the
    * reference kernels' fused loop, so downstream cosines are bit-identical. */
  private def indexNorms(index: Array[(Long, Array[Float])]): Array[Double] = {
    val norms = new Array[Double](index.length)
    var j = 0
    while (j < index.length) {
      val v = index(j)._2
      var vn = 0.0
      var x = 0
      while (x < v.length) { vn += v(x).toDouble * v(x); x += 1 }
      norms(j) = math.sqrt(vn)
      j += 1
    }
    norms
  }

  private def emptyTopK(emb: DataFrame, idCol: String): DataFrame =
    emb.select(
      col(idCol).cast("long").as("id"), col(idCol).cast("long").as("neighbor_id"),
      lit(0.0).as("cosine"), lit(0L).as("rank")).limit(0)

  /** Valid (id, vector) rows with block-grouped index side and block-replicated
    * query side; the caller's `scan` consumes one materialized index block and
    * the streaming queries of that block. Index and query sides may be the
    * same frame (self-kNN) or different frames (batch-vs-corpus). */
  private def cogroupBlocks(
      indexDf: DataFrame, iId: String, iVec: String,
      queryDf: DataFrame, qId: String, qVec: String,
      blocks: Int, dim: Int)(
      scan: (Array[(Long, Array[Float])], Iterator[(Long, Array[Float])]) => Iterator[(Long, Long, Double)])
      : DataFrame = {
    val spark = indexDf.sparkSession
    import spark.implicits._
    def valid(df: DataFrame, id: String, vec: String) =
      df.select(col(id).cast("long"), col(vec)).as[(Long, Seq[Float])]
        .filter(t => t._2 != null && t._2.length == dim)
    val idxKV = valid(indexDf, iId, iVec).groupByKey { case (id, _) =>
      java.lang.Math.floorMod(mix64(id), blocks.toLong).toInt
    }
    val qKV = valid(queryDf, qId, qVec)
      .flatMap { case (id, v) => (0 until blocks).iterator.map(b => (b, id, v)) }
      .groupByKey(_._1)
    idxKV.cogroup(qKV) { (_, idxIt, qIt) =>
      val index = idxIt.map { case (nid, v) => (nid, v.toArray) }.toArray
      if (index.isEmpty) Iterator.empty
      else scan(index, qIt.map { case (_, qid, q) => (qid, q.toArray) })
    }.toDF("id", "neighbor_id", "cosine")
  }

  /** Shared per-block top-k scan. `excludeSelf` skips index rows whose id
    * equals the query id (self-kNN); the asymmetric join form keeps them
    * (distinct id spaces, or intentional self-hits at cosine 1). */
  private def topKScan(k: Int, excludeSelf: Boolean)(
      index: Array[(Long, Array[Float])],
      queries: Iterator[(Long, Array[Float])]): Iterator[(Long, Long, Double)] = {
    val norms = indexNorms(index)
    queries.flatMap { case (qid, q) =>
      var qn = 0.0
      var i = 0
      while (i < q.length) { qn += q(i).toDouble * q(i); i += 1 }
      val qNorm = math.sqrt(qn)
      val best = new java.util.TreeSet[(Double, Long, Int)](
        Ordering.Tuple3(Ordering[Double].reverse, Ordering[Long], Ordering[Int]))
      var j = 0
      while (j < index.length) {
        val (nid, v) = index(j)
        if (!excludeSelf || nid != qid) {
          var dot = 0.0
          var x = 0
          while (x < v.length) { dot += q(x).toDouble * v(x); x += 1 }
          val cos = if (qn == 0.0 || norms(j) == 0.0) 0.0 else dot / (qNorm * norms(j))
          best.add((cos, nid, j))
          if (best.size > k) best.remove(best.last)
        }
        j += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val iter = best.iterator()
      while (iter.hasNext) {
        val (cos, nid, _) = iter.next()
        out += ((qid, nid, cos))
      }
      out.iterator
    }
  }

  /** Generic per-block top-k scan over an arbitrary pair scorer (HIGHER =
    * better; ascending metrics negate — IEEE negation is exact). The
    * cosine-specific [[topKScan]] stays verbatim: its accumulation order is
    * frozen by the q21/q136 oracles. */
  private def topKScanBy(k: Int, excludeSelf: Boolean)(
      scorer: (Array[Float], Array[Float]) => Double)(
      index: Array[(Long, Array[Float])],
      queries: Iterator[(Long, Array[Float])]): Iterator[(Long, Long, Double)] =
    queries.flatMap { case (qid, q) =>
      val best = new java.util.TreeSet[(Double, Long, Int)](
        Ordering.Tuple3(Ordering[Double].reverse, Ordering[Long], Ordering[Int]))
      var j = 0
      while (j < index.length) {
        val (nid, v) = index(j)
        if (!excludeSelf || nid != qid) {
          best.add((scorer(q, v), nid, j))
          if (best.size > k) best.remove(best.last)
        }
        j += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val iter = best.iterator()
      while (iter.hasNext) { val (s, nid, _) = iter.next(); out += ((qid, nid, s)) }
      out.iterator
    }

  /** Exact INNER-PRODUCT top-k — the MIPS form of [[blockTopK]]: retrieval
    * models trained with dot-product scoring rank by raw ⟨q, v⟩, and MIPS
    * is NOT reducible to cosine when vector norms carry signal (document
    * importance/length live in the norm). Same block decomposition and
    * flat-index-order double accumulation; output (id, neighbor_id, dot,
    * rank), dot descending. */
  def blockTopKDot(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, blocks: Int = 0): DataFrame = {
    require(blocks >= 0, s"blocks must be >= 0 (0 = auto; got $blocks)")
    val (dim, n) = majorityDimAndCountOf(emb, vecCol).getOrElse(
      return emptyTopK(emb, idCol).withColumnRenamed("cosine", "dot"))
    val b = resolveBlocks(blocks, n, dim, emb)
    topK(
      cogroupBlocks(emb, idCol, vecCol, emb, idCol, vecCol, b, dim)(
        topKScanBy(k, excludeSelf = true) { (q, v) =>
          var dot = 0.0; var x = 0
          while (x < v.length) { dot += q(x).toDouble * v(x); x += 1 }
          dot
        }),
      k).withColumnRenamed("cosine", "dot")
  }

  /** Exact EUCLIDEAN (L2) top-k — ascending distance, the metric of
    * L2-trained embedding spaces: per-pair Σ(q−v)² accumulated in flat
    * index order THEN one sqrt (mirroring the elementwise form engines
    * state it in — not the norms-minus-2·dot identity, whose different op
    * sequence drifts in the last ulps). Internally scored as −distance so
    * the shared descending heap keeps the k nearest; the final negation is
    * exact. Output (id, neighbor_id, distance, rank), distance
    * ascending. */
  def blockTopKL2(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, blocks: Int = 0): DataFrame = {
    require(blocks >= 0, s"blocks must be >= 0 (0 = auto; got $blocks)")
    val (dim, n) = majorityDimAndCountOf(emb, vecCol).getOrElse(
      return emptyTopK(emb, idCol).withColumnRenamed("cosine", "distance"))
    val b = resolveBlocks(blocks, n, dim, emb)
    topK(
      cogroupBlocks(emb, idCol, vecCol, emb, idCol, vecCol, b, dim)(
        topKScanBy(k, excludeSelf = true) { (q, v) =>
          var ss = 0.0; var x = 0
          while (x < v.length) {
            val d = q(x).toDouble - v(x); ss += d * d; x += 1
          }
          -math.sqrt(ss)
        }),
      k)
      .select(col("id"), col("neighbor_id"),
        (-col("cosine")).as("distance"), col("rank"))
  }

  /** Exact cosine top-k, block-partitioned (see block comment above): row-for-
    * row identical to an exact broadcast-index scan on a well-formed corpus
    * (same double arithmetic, same (cosine desc, neighbor_id asc) order —
    * identity spec), with no driver collect and no broadcast: the production
    * registration of exact kNN. `blocks` trades per-task memory for query
    * fan-out; the default 0 auto-scales it with the corpus ([[autoBlocks]]),
    * so per-task memory stays flat as the corpus grows. */
  def blockTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      blocks: Int = 0): DataFrame = {
    require(blocks >= 0, s"blocks must be >= 0 (0 = auto; got $blocks)")
    val (dim, n) = majorityDimAndCountOf(emb, vecCol).getOrElse(return emptyTopK(emb, idCol))
    val b = resolveBlocks(blocks, n, dim, emb)
    topK(
      cogroupBlocks(emb, idCol, vecCol, emb, idCol, vecCol, b, dim)(
        topKScan(k, excludeSelf = true)),
      k)
  }

  /** ASYMMETRIC exact cosine top-k: each row of `queries` against the whole
    * `corpus` — the batch-vs-index shape production actually runs (dedupe a
    * new crawl slice against the existing store, serve a query batch against
    * an embedding table). Same block decomposition and arithmetic as
    * [[blockTopK]], but no self-exclusion: the two id spaces are unrelated
    * (and when they do coincide, a query finding itself at cosine 1 is the
    * correct answer). Corpus rows define the vector dimension (majority);
    * queries of any other dimension are excluded like corrupt corpus rows. */
  def blockTopKJoin(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int,
      blocks: Int = 0): DataFrame = {
    require(blocks >= 0, s"blocks must be >= 0 (0 = auto; got $blocks)")
    val (dim, n) = majorityDimAndCountOf(corpus, cVec).getOrElse(return emptyTopK(queries, qId))
    val b = resolveBlocks(blocks, n, dim, corpus)
    topK(
      cogroupBlocks(corpus, cId, cVec, queries, qId, qVec, b, dim)(
        topKScan(k, excludeSelf = false)),
      k)
  }

  /** Shared per-block thresholded pair scan. `emitPair` gates which
    * (query, index) pairs are considered: `nid > qid` for the symmetric
    * self-scan (one row per unordered pair), always-true for the
    * asymmetric batch-vs-corpus scan. */
  private def pairScan(threshold: Double, emitPair: (Long, Long) => Boolean)(
      index: Array[(Long, Array[Float])],
      queries: Iterator[(Long, Array[Float])]): Iterator[(Long, Long, Double)] = {
    val norms = indexNorms(index)
    queries.flatMap { case (qid, q) =>
      var qn = 0.0
      var i = 0
      while (i < q.length) { qn += q(i).toDouble * q(i); i += 1 }
      val qNorm = math.sqrt(qn)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var j = 0
      while (j < index.length) {
        val (nid, v) = index(j)
        if (emitPair(qid, nid)) {
          var dot = 0.0
          var x = 0
          while (x < v.length) { dot += q(x).toDouble * v(x); x += 1 }
          val cos = if (qn == 0.0 || norms(j) == 0.0) 0.0 else dot / (qNorm * norms(j))
          if (cos >= threshold) out += ((qid, nid, cos))
        }
        j += 1
      }
      out.iterator
    }
  }

  /** Exact thresholded cosine pairs, block-partitioned — same decomposition as
    * [[blockTopK]], emitting (id_a, id_b, cosine) with id_a < id_b and
    * cosine >= `threshold`. Each unordered pair is scored exactly once (the
    * smaller id is always the query side; the index side holds the larger id).
    * Replaces an O(n²)-row non-equi join as the registered exact pair scan;
    * at extreme scale, prefer [[lshPairsAbove]] (candidate-gated). */
  def blockPairsAbove(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      blocks: Int = 0): DataFrame = {
    require(blocks >= 0, s"blocks must be >= 0 (0 = auto; got $blocks)")
    val (dim, n) = majorityDimAndCountOf(emb, vecCol).getOrElse(
      return emb.select(col(idCol).cast("long").as("id_a"),
        col(idCol).cast("long").as("id_b"), lit(0.0).as("cosine")).limit(0))
    val b = resolveBlocks(blocks, n, dim, emb)
    cogroupBlocks(emb, idCol, vecCol, emb, idCol, vecCol, b, dim)(
      pairScan(threshold, (qid, nid) => nid > qid))
      .select(col("id").as("id_a"), col("neighbor_id").as("id_b"), col("cosine"))
  }

  /** ASYMMETRIC exact thresholded pair scan: every `queries` row whose
    * cosine against some `corpus` row reaches `threshold` — the "is this
    * new document a near-duplicate of anything already in the store" shape,
    * which is how threshold dedup actually runs in an incremental pipeline.
    * Same block decomposition as [[blockPairsAbove]]; no id-ordering gate
    * (the id spaces are unrelated). Corpus rows define the vector dimension
    * (majority); query rows of any other dimension are EXCLUDED like
    * corrupt corpus rows — such new-batch docs get no verdict and must be
    * handled upstream. Output: (query_id, corpus_id, cosine).
    */
  def blockPairsAboveJoin(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      threshold: Double,
      blocks: Int = 0): DataFrame = {
    require(blocks >= 0, s"blocks must be >= 0 (0 = auto; got $blocks)")
    val (dim, n) = majorityDimAndCountOf(corpus, cVec).getOrElse(
      return queries.select(col(qId).cast("long").as("query_id"),
        col(qId).cast("long").as("corpus_id"), lit(0.0).as("cosine")).limit(0))
    require(dim >= 1, s"dim must be >= 1 (got $dim)")
    val b = resolveBlocks(blocks, n, dim, corpus)
    cogroupBlocks(corpus, cId, cVec, queries, qId, qVec, b, dim)(
      pairScan(threshold, (_, _) => true))
      .select(col("id").as("query_id"), col("neighbor_id").as("corpus_id"), col("cosine"))
  }
}
