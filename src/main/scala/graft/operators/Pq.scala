package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze & Schmid 2011, "Product Quantization
  * for Nearest Neighbor Search") composed with the IVF coarse index — the
  * IVFADC system of that paper, non-residual variant: vectors are split into
  * `m` subvectors, each quantized to one of `codebookSize` learned centroids,
  * so a d-dim float vector (4·d bytes) is stored, shuffled, and scored as an
  * m-BYTE code. At 100 TB the index side of every ANN join moves 32× fewer
  * bytes (d=64, m=8) than [[Ivf.ivfTopK]] while keeping the same
  * candidate-generation shape: coarse-centroid equi-join, never cartesian.
  *
  * Scoring is asymmetric (ADC): the query stays an exact float vector and is
  * scored against the candidate's RECONSTRUCTED subvectors, so the only error
  * is the index side's quantization error — the paper's argument for ADC over
  * symmetric code-to-code distances.
  *
  * Training reuses the deterministic distributed-k-means skeleton of
  * [[Ivf]]: hash-gated sample, fixed-order partial combine, bounded driver
  * state (m · codebookSize · d/m floats = one codebook per subspace — the
  * whole model is k·d floats regardless of corpus size).
  */
object Pq {

  /** Per-subspace L2 k-means over the RAW sample vectors — all `m`
    * subspaces trained in ONE pass per iteration (a row contributes one
    * partial to each subspace), partials collected per partition and
    * combined in partition-index order for bit-reproducible codebooks (the
    * [[Ivf.trainCentroidsDistributed]] determinism contract). Plain L2
    * means, NOT spherical: subvector quantization minimizes reconstruction
    * error, and scoring computes a full cosine of the reconstruction, so
    * the mean is the right centroid. Raw (unnormalized) vectors are
    * quantized so the reconstruction lives in the ORIGINAL vector space and
    * the ADC cosine replays [[graft.functions.VectorExpressions]]'
    * CosineSimilarity arithmetic verbatim — exact reconstruction implies
    * bit-identical scores to the exact kernel. Empty clusters keep their
    * previous centroid. */
  private[operators] def trainCodebooks(
      sample: org.apache.spark.sql.Dataset[(Long, Seq[Float])],
      seeds: Array[Array[Array[Float]]],
      m: Int,
      dsub: Int,
      iters: Int): Array[Array[Array[Float]]] = {
    val sc = sample.sparkSession.sparkContext
    val k = seeds(0).length
    var books = seeds
    for (_ <- 1 to iters) {
      val bc = sc.broadcast(books)
      val partials = sample.rdd.mapPartitionsWithIndex { (pid, it) =>
        val bks = bc.value
        val sums = Array.fill(m, k)(new Array[Double](dsub))
        val counts = Array.fill(m)(new Array[Long](k))
        it.foreach { case (_, sv) =>
          val v = sv.toArray
          var s = 0
          while (s < m) {
            val c = nearestSub(bks(s), v, s * dsub, dsub)
            counts(s)(c) += 1
            var i = 0
            while (i < dsub) { sums(s)(c)(i) += v(s * dsub + i); i += 1 }
            s += 1
          }
        }
        Iterator.single((pid, sums, counts))
      }.collect().sortBy(_._1)
      val sums = Array.fill(m, k)(new Array[Double](dsub))
      val counts = Array.fill(m)(new Array[Long](k))
      partials.foreach { case (_, ps, pc) =>
        var s = 0
        while (s < m) {
          var c = 0
          while (c < k) {
            counts(s)(c) += pc(s)(c)
            var i = 0
            while (i < dsub) { sums(s)(c)(i) += ps(s)(c)(i); i += 1 }
            c += 1
          }
          s += 1
        }
      }
      books = Array.tabulate(m, k) { (s, c) =>
        if (counts(s)(c) == 0L) books(s)(c)
        else Array.tabulate(dsub)(i => (sums(s)(c)(i) / counts(s)(c)).toFloat)
      }
      bc.destroy()
    }
    books
  }

  /** Index of the L2-nearest subspace centroid for `v(off until off+dsub)`.
    * Strict `<` keeps the lowest index on exact ties — deterministic under
    * duplicate seeds. */
  @inline private[operators] def nearestSub(
      book: Array[Array[Float]], v: Array[Float], off: Int, dsub: Int): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      var d = 0.0
      var i = 0
      val ctr = book(c)
      while (i < dsub) {
        val x = v(off + i).toDouble - ctr(i)
        d += x * x
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  @inline private def encodeOne(
      books: Array[Array[Array[Float]]], v: Array[Float], m: Int, dsub: Int): Array[Byte] = {
    val codes = new Array[Byte](m)
    var s = 0
    while (s < m) {
      codes(s) = (nearestSub(books(s), v, s * dsub, dsub) & 0xFF).toByte
      s += 1
    }
    codes
  }

  /** ADC score: the cosine of the exact query vector with the candidate's
    * reconstruction, accumulated in EXACTLY the CosineSimilarity expression's
    * loop (interleaved dot/na/nb in flat index order, then
    * dot/(√na·√nb)) — the subspace-blocked walk visits indices 0..d-1 in the
    * same sequence, so when the quantizer reconstructs a vector exactly the
    * ADC score is bit-identical to the exact kernel's. */
  @inline private def adcCosine(
      books: Array[Array[Array[Float]]], q: Array[Float], codes: Array[Byte],
      m: Int, dsub: Int): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var s = 0
    while (s < m) {
      val ctr = books(s)(codes(s) & 0xFF)
      var i = 0
      while (i < dsub) {
        val x = q(s * dsub + i).toDouble
        val y = ctr(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      s += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Deterministic hash-gated distributed sample + the seed rows (the only
    * rows that ever reach the driver) — the [[Ivf.ivfTopK]] sampling
    * contract, shared by the coarse and PQ trainers. */
  private def sampleAndSeeds(
      validVecs: DataFrame, n: Long, sampleSize: Int, nSeeds: Int)
      : (org.apache.spark.sql.Dataset[(Long, Seq[Float])], Array[Array[Float]]) = {
    val spark = validVecs.sparkSession
    import spark.implicits._
    val trainPartitions = 16
    def mkSample(rate: Long) = validVecs
      .filter(pmod(xxhash64(col("_1")), lit(rate)) === 0)
      .repartition(trainPartitions, col("_1"))
      .sortWithinPartitions("_1")
      .as[(Long, Seq[Float])]
    // RAW seed vectors — the PQ trainer quantizes raw subvectors; the coarse
    // trainer normalizes its copy (spherical k-means)
    def seedsOf(s: org.apache.spark.sql.Dataset[(Long, Seq[Float])]) =
      s.toDF("__id", "__v").orderBy(xxhash64(col("__id")), col("__id")).limit(nSeeds)
        .collect().map(r => r.getSeq[Float](1).toArray)
    val rate = math.max(1L, n / math.max(1, sampleSize))
    var sample = mkSample(rate).persist()
    var seeds = seedsOf(sample)
    if (seeds.isEmpty && rate > 1) {
      sample.unpersist()
      sample = mkSample(1).persist()
      seeds = seedsOf(sample)
    }
    (sample, seeds)
  }

  /** IVF-PQ cosine top-k (IVFADC): the index side lives under its nearest
    * coarse centroid as an m-byte code; queries probe `nProbe` coarse
    * centroids and score candidates by ADC (cosine of the exact query with
    * the candidate's reconstruction). Same output contract as
    * [[Ivf.ivfTopK]] — (id, neighbor_id, cosine, rank).
    *
    * With `rerank = 0`, `cosine` is the pure ADC approximation (exact iff
    * the quantizer reconstructs the corpus exactly, e.g. codebookSize ≥
    * distinct subvectors — the q92 fixture regime). With `rerank = R > 0`,
    * the ADC pass only SHORTLISTS the top R per query and the emitted
    * cosine is the EXACT score of the shortlist — the standard two-stage
    * retrieval: candidate generation and shortlist ranking pay m-byte
    * codes, and only |queries|·R exact vectors are ever fetched (an
    * id-keyed equi-join), so recall recovers to the coarse index's
    * candidate-coverage ceiling while the corpus-sized shuffle stays
    * compressed. */
  def ivfPqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nClusters: Int = 16,
      nProbe: Int = 4,
      m: Int = 8,
      codebookSize: Int = 16,
      rerank: Int = 0,
      sampleSize: Int = 2048,
      iters: Int = 8): DataFrame = {
    require(nProbe >= 1 && nProbe <= nClusters, s"nProbe $nProbe out of [1, $nClusters]")
    require(rerank == 0 || rerank >= k, s"rerank depth $rerank must be 0 or >= k=$k")
    require(codebookSize >= 1 && codebookSize <= 256,
      s"codebookSize $codebookSize out of [1, 256]: codes are single bytes, " +
        "a larger codebook would silently wrap indices to wrong centroids")
    val spark = emb.sparkSession
    val (dim, n) = Ann.majorityDimAndCountOf(emb, vecCol).getOrElse(
      return emb.select(
        col(idCol).as("id"), col(idCol).as("neighbor_id"),
        lit(0.0).as("cosine"), lit(0L).as("rank")).limit(0))
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val validVecs = emb
      .select(col(idCol).cast("long").as("_1"), col(vecCol).as("_2"))
      .filter(col("_2").isNotNull && size(col("_2")) === dim)
    val (sample, seedRows) = sampleAndSeeds(
      validVecs, n, sampleSize, math.max(nClusters, codebookSize))
    val coarse = Ivf.trainCentroidsDistributed(
      sample, seedRows.take(nClusters).map(Ivf.normalize), dim, iters)
    val pqSeeds = Array.tabulate(m, math.min(codebookSize, seedRows.length)) {
      (s, j) => java.util.Arrays.copyOfRange(seedRows(j), s * dsub, (s + 1) * dsub)
    }
    val books = trainCodebooks(sample, pqSeeds, m, dsub, iters)
    sample.unpersist()
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val bcBooks = spark.sparkContext.broadcast(books)

    import spark.implicits._

    // Cell-cogrouped ADC scan (the classic IVFADC access pattern, and the
    // same block-cogroup architecture as Ann.blockTopK): the index side is
    // (cell, id, m-byte code) — the 32× byte shrink vs shipping floats —
    // grouped per (cell, split); queries carry their raw vector to their
    // nProbe cells and STREAM past the materialized cell codes in a tight
    // primitive loop that emits only each query's per-cell top-shortlist.
    //
    // The r11 shape joined queries to codes on the cell id and scored the
    // JOIN OUTPUT: every candidate materialized a ~280-byte row (256-byte
    // query vector + code) through the exchange and paid a Row encode —
    // measured 2.5× the IVF kernel's cost on identical candidates. Here a
    // cell's codes cross the wire once per split (8-byte codes, not rows ×
    // queries), per-task memory is one cell split (|cell|/splits × ~40 B —
    // bounded by nClusters at any corpus size), and the shortlist shuffle is
    // |queries| × nProbe × shortR triples instead of the full candidate set.
    // `cellSplits` spreads one cell's query load across tasks (replicating
    // the small code side per split), so 16 coarse cells still use every
    // core — the same skew dial as the banded kernels. Capped: replication
    // cost is |codes| × splits, and the RIGHT scale move when cells ≪ cores
    // is more coarse cells (thousands at lake scale), not more replicas.
    val cellSplits = math.min(64, math.max(1,
      spark.sparkContext.defaultParallelism / math.max(1, nClusters)) * 4)
    val shortR = if (rerank == 0) k else rerank
    val validT = validVecs.as[(Long, Seq[Float])]
    val idxKV = validT.mapPartitions { it =>
      val ctrs = bcCoarse.value
      val bks = bcBooks.value
      it.flatMap { case (id, s) =>
        val raw = s.toArray
        val c = Ivf.nearest(ctrs, Ivf.normalize(raw))
        val codes = encodeOne(bks, raw, m, dsub)
        (0 until cellSplits).iterator.map(sp => (c * cellSplits + sp, id, codes))
      }
    }.groupByKey(_._1)
    val qryKV = validT.mapPartitions { it =>
      val ctrs = bcCoarse.value
      it.flatMap { case (id, s) =>
        val raw = s.toArray
        val sp = java.lang.Math.floorMod(id, cellSplits.toLong).toInt
        Ivf.probes(ctrs, Ivf.normalize(raw), nProbe).iterator
          .map(c => (c * cellSplits + sp, id, s))
      }
    }.groupByKey(_._1)
    val scored = idxKV.cogroup(qryKV) { (_, idxIt, qIt) =>
      val cell = idxIt.map { case (_, nid, codes) => (nid, codes) }.toArray
      if (cell.isEmpty) Iterator.empty
      else {
        val bks = bcBooks.value
        qIt.flatMap { case (_, qid, qs) =>
          val q = qs.toArray
          val best = new java.util.TreeSet[(Double, Long)](
            Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long]))
          var j = 0
          while (j < cell.length) {
            val (nid, codes) = cell(j)
            if (nid != qid) {
              // adcCosine replays CosineSimilarity's interleaved loop on the
              // reconstruction — bit-for-bit the r11 scores (q92 fixture)
              best.add((adcCosine(bks, q, codes, m, dsub), nid))
              if (best.size > shortR) best.remove(best.last)
            }
            j += 1
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          val iter = best.iterator()
          while (iter.hasNext) { val (cos, nid) = iter.next(); out += ((qid, nid, cos)) }
          out.iterator
        }
      }
    }.toDF("id", "neighbor_id", "cosine")

    def topBy(df: DataFrame, limit: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("cosine").desc, col("neighbor_id").asc)
      df.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= limit)
    }

    if (rerank == 0) topBy(scored, k).select("id", "neighbor_id", "cosine", "rank")
    else {
      // two-stage: ADC shortlist -> fetch the R exact vectors per query
      // (id-keyed equi-joins) -> exact cosine -> final top-k
      val shortlist = topBy(scored, rerank).select("id", "neighbor_id")
      val va = validVecs.toDF("id", "__va")
      val vb = validVecs.toDF("neighbor_id", "__vb")
      val exact = shortlist.join(va, Seq("id")).join(vb, Seq("neighbor_id"))
        .withColumn("cosine",
          graft.functions.VectorExpressions.vec_cosine(col("__va"), col("__vb")))
      topBy(exact, k).select("id", "neighbor_id", "cosine", "rank")
    }
  }
}
