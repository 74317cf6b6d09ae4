package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.TableStore

/** Disk-backed IVF ANN index lifecycle: build once, serve many query
  * batches, maintain with O(batch) upserts — the production shape of
  * [[Ivf.ivfTopK]], which retrains and rescans per call.
  *
  *  - [[build]] trains the coarse quantizer ([[Ivf.trainCentroidsDistributed]]
  *    — per-partition partial sums, no data collect) and writes TWO tables:
  *    `{name}__centroids` (nClusters rows) and `{name}__postings`
  *    PARTITIONED BY centroid_id, so each inverted list is its own
  *    directory.
  *  - [[query]] probes each query's nProbe nearest cells; the DISTINCT
  *    probed-cell set (bounded by nClusters, never by data) becomes an
  *    `isin` PartitionFilter on the postings scan — unprobed inverted lists
  *    are pruned at PLANNING time, before a byte of 100 TB is listed into
  *    tasks. Candidates meet probes in a centroid-keyed equi-join; every
  *    emitted cosine is exact; with nProbe = nClusters the result IS exact
  *    top-k (oracle-checked end-to-end through the disk layout).
  *  - [[upsert]] is assign-only (no retrain; the quantizer drifts only as
  *    the distribution does — rebuild policy is the caller's): new vectors
  *    read the bounded centroid table and APPEND into exactly the cell
  *    directories they touch ([[TableStore.appendPartitioned]]).
  *
  * Driver-side state is bounded by the INDEX STRUCTURE, never the corpus:
  * nClusters centroid vectors and the probed-cell id set.
  */
object AnnIndex {

  private def centroidsTable(name: String) = s"${name}__centroids"
  private def postingsTable(name: String) = s"${name}__postings"
  private def metaTable(name: String) = s"${name}__meta"
  private def clockDir(store: TableStore, name: String) =
    new org.apache.hadoop.fs.Path(store.path(s"${name}__clock"))

  /** The index's ingest clock: the max batch sequence number ever written
    * (0 = build only / post-compact). Carried in generation-stamped EMPTY
    * FILES (`gen<G>_seq<S>`) under `{name}__clock/` — the FILENAME is the
    * value, so a read is one driver-side directory listing (ZERO Spark
    * jobs; the earlier one-row parquet `__meta` table cost a whole scan
    * job on every query, even at clock 0 — the measured q136 keep-latest
    * premium) and a write is one atomic file create.
    *
    * Crash safety without any read-modify-write: a BUMP (upsert) creates
    * `gen<G>_seq<S+1>` beside the old files — readers take the max seq
    * within the max gen, so a torn write can only HIDE the bump (a skipped
    * seq, the documented-benign case). A RESET (build/compact) creates
    * `gen<G+1>_seq0` FIRST and only then sweeps older generations — a
    * crash between the two leaves both on disk and max-gen-wins still
    * reads 0. Single-writer, like the rest of the index lifecycle. */
  private val ClockName = "gen(\\d+)_seq(\\d+)".r

  private def listClock(store: TableStore, name: String): Seq[(Long, Long)] = {
    val dir = clockDir(store, name)
    val fs = dir.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case ClockName(g, s) => (g.toLong, s.toLong)
    }
  }

  private def createClockFile(store: TableStore, name: String,
      gen: Long, seq: Long): Unit = {
    val dir = clockDir(store, name)
    val fs = dir.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    fs.create(new org.apache.hadoop.fs.Path(dir, s"gen${gen}_seq$seq"), true).close()
  }

  private def readMaxSeq(store: TableStore, name: String): Long = {
    val entries = listClock(store, name)
    if (entries.nonEmpty) {
      val maxGen = entries.map(_._1).max
      entries.filter(_._1 == maxGen).map(_._2).max
    } else if (store.exists(metaTable(name))) {
      // migrate a pre-sidecar index whose clock lives in the one-row
      // `__meta` parquet table: read it ONCE, seed the sidecar, and the
      // parquet path never runs again for this index
      val seq = store.read(metaTable(name)).collect()(0).getLong(0)
      createClockFile(store, name, gen = 1L, seq = seq)
      seq
    } else throw new IllegalStateException(
      s"index '$name' has no ingest clock — build it first")
  }

  /** Upsert's clock bump: one atomic file create in the current generation. */
  private def bumpClock(store: TableStore, name: String, seq: Long): Unit = {
    val entries = listClock(store, name)
    val gen = if (entries.isEmpty) 1L else entries.map(_._1).max
    createClockFile(store, name, gen, seq)
  }

  /** Build/compact's clock reset to 0: new generation first (readers see 0
    * the moment it lands), then sweep the superseded files best-effort. */
  private def resetClock(store: TableStore, name: String): Unit = {
    val dir = clockDir(store, name)
    val fs = dir.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    val entries = listClock(store, name)
    val gen = (if (entries.isEmpty) 0L else entries.map(_._1).max) + 1L
    createClockFile(store, name, gen, 0L)
    entries.filter(_._1 < gen).foreach { case (g, s) =>
      try { fs.delete(new org.apache.hadoop.fs.Path(dir, s"gen${g}_seq$s"), false); () }
      catch { case _: java.io.IOException => () } // swept on the next reset
    }
    // retire a migrated-from parquet clock so the table can't shadow a
    // future rebuild (best-effort; the sidecar wins once it exists anyway)
    val metaPath = new org.apache.hadoop.fs.Path(store.path(metaTable(name)))
    try { fs.delete(metaPath, true); () }
    catch { case _: java.io.IOException => () }
  }

  private def enc(schema: StructType): ExpressionEncoder[Row] =
    ExpressionEncoder(RowEncoder.encoderFor(schema))

  private def readCentroids(
      store: TableStore, name: String): (Array[Array[Float]], Int) = {
    val rows = store.read(centroidsTable(name))
      .orderBy("centroid_id").collect()
    require(rows.nonEmpty, s"index '$name' has no centroids — build it first")
    val ctrs = rows.map(_.getSeq[Float](1).toArray)
    (ctrs, ctrs.head.length)
  }

  /** Assign every valid (dim-matching) vector to its single nearest
    * centroid: (centroid_id, id, vector), one narrow pass. */
  private def assign(
      emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], dim: Int): DataFrame = {
    val bc = emb.sparkSession.sparkContext.broadcast(centroids)
    val idIdx = emb.schema.fieldIndex(idCol)
    val vecIdx = emb.schema.fieldIndex(vecCol)
    val schema = StructType(Seq(
      StructField("centroid_id", IntegerType, nullable = false),
      StructField("id", LongType),
      StructField("vector", ArrayType(FloatType))))
    emb.mapPartitions { it =>
      val ctrs = bc.value
      it.flatMap { r =>
        val s = r.getSeq[Float](vecIdx)
        if (s == null || s.length != dim) Iterator.empty
        else Iterator.single(Row(Ivf.nearest(ctrs, s.toArray), r.getLong(idIdx), s))
      }
    }(enc(schema))
  }

  /** Train and persist the index. Training mirrors [[Ivf.ivfTopK]]:
    * deterministic hash-gated sample, hash-spread seeds (a bounded
    * nClusters-row collect), fixed-order distributed k-means. Returns the
    * indexed row count. */
  def build(
      store: TableStore, name: String, emb: DataFrame,
      idCol: String, vecCol: String,
      nClusters: Int, sampleSize: Int = 2048, iters: Int = 8): Long = {
    require(nClusters >= 1, s"nClusters must be >= 1 (got $nClusters)")
    val spark = emb.sparkSession
    import spark.implicits._
    val (dim, n) = Ann.majorityDimAndCountOf(emb, vecCol).getOrElse(
      throw new IllegalArgumentException("no valid vectors to index"))
    val validVecs = emb
      .select(col(idCol).cast("long").as("_1"), col(vecCol).as("_2"))
      .filter(col("_2").isNotNull && size(col("_2")) === dim)
    val trainPartitions = 16
    def mkSample(rate: Long) = validVecs
      .filter(pmod(xxhash64(col("_1")), lit(rate)) === 0)
      .repartition(trainPartitions, col("_1"))
      .sortWithinPartitions("_1")
      .as[(Long, Seq[Float])]
    val rate = math.max(1L, n / math.max(1, sampleSize))
    var sample = mkSample(rate).persist()
    def seedsOf(s: org.apache.spark.sql.Dataset[(Long, Seq[Float])]) =
      s.toDF("__id", "__v").orderBy(xxhash64(col("__id")), col("__id")).limit(nClusters)
        .collect().map(r => Ivf.normalize(r.getSeq[Float](1).toArray))
    var seeds = seedsOf(sample)
    if (seeds.isEmpty && rate > 1) {
      sample.unpersist()
      sample = mkSample(1).persist()
      seeds = seedsOf(sample)
    }
    val centroids = Ivf.trainCentroidsDistributed(sample, seeds, dim, iters)
    sample.unpersist()
    val cdf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        centroids.zipWithIndex.map { case (v, i) => Row(i, v.toSeq) }, 1),
      StructType(Seq(
        StructField("centroid_id", IntegerType, nullable = false),
        StructField("vector", ArrayType(FloatType)))))
    store.overwrite(centroidsTable(name), cdf)
    val posted = assign(emb.select(col(idCol).cast("long").as(idCol), col(vecCol)),
      idCol, vecCol, centroids, dim)
      .withColumn("seq", lit(0L))
    store.overwritePartitioned(postingsTable(name), posted, Seq("centroid_id"))
    resetClock(store, name)
    store.read(postingsTable(name)).count()
  }

  /** Assign-only maintenance: the batch reads the bounded centroid table and
    * appends into the cell directories it touches — O(batch) I/O regardless
    * of index size (the one O(1) extra is the sidecar clock-file create).
    *
    * Duplicate-id policy (replacing the r12 append-only contract):
    *  - ACROSS batches: KEEP-LATEST. Every batch is stamped with a
    *    monotonically increasing `seq`; [[query]] resolves an id that
    *    appears under multiple seqs to its highest — an updated vector
    *    supersedes the stored one without a compaction pass (storage stays
    *    append-only; the winner is decided at read time, the
    *    log-structured-merge posture).
    *  - WITHIN a batch: REJECTED loudly. Two rows for one id in the same
    *    batch carry the same seq — "latest" would be arbitrary, and an
    *    arbitrary answer from an index is corruption, not policy. */
  def upsert(
      store: TableStore, name: String, batch: DataFrame,
      idCol: String, vecCol: String): Long = {
    val (centroids, dim) = readCentroids(store, name)
    val seq = readMaxSeq(store, name) + 1L
    // one assignment pass serves the dup check, the write, and the count
    val posted = Loops.checkpoint(
      assign(batch.select(col(idCol).cast("long").as(idCol), col(vecCol)),
        idCol, vecCol, centroids, dim)
        .withColumn("seq", lit(seq)), eager = true)
    val dup = posted.groupBy("id").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"upsert batch contains id ${if (dup.isEmpty) "" else dup(0).getLong(0)} " +
        "more than once — within-batch duplicates have no defined latest " +
        "version; dedup the batch before ingesting")
    // CLOCK FIRST, append second (single-writer contract — concurrent
    // upserts are the caller's exclusion problem): a crash between the two
    // then only SKIPS a seq, and an at-least-once retry (the foreachBatch
    // shape) re-stamps the same rows at a HIGHER seq, which keep-latest
    // resolves to the identical content — benign. The reverse order would
    // let a retry reuse the crashed batch's seq and create same-seq
    // duplicate versions whose "latest" is arbitrary: silent corruption.
    bumpClock(store, name, seq)
    store.appendPartitioned(postingsTable(name), posted, Seq("centroid_id"))
    posted.count()
  }

  /** Offline COMPACTION — the LSM merge completing the keep-latest story:
    * rewrites the postings keeping only each id's highest-seq version,
    * re-stamps the survivors at seq 0, and resets the meta clock — so
    * [[query]] takes its no-rollup fast path again and the dead versions'
    * storage is reclaimed. O(index) by nature (it's the offline half of the
    * read-time policy — run it on the maintenance cadence, not the ingest
    * path): ONE id-keyed rollup over the postings plus one partitioned
    * overwrite; driver state stays bounded by the index structure (nothing
    * collects). Keep-latest here is GLOBAL (all cells), so a post-compact
    * index is exactly the latest corpus state even under partial probe —
    * the stale-version-in-probed-cell approximation [[query]] documents
    * disappears until the next upsert. Returns the surviving row count. */
  def compact(store: TableStore, name: String): Long = {
    val survivors = store.read(postingsTable(name))
      .groupBy("id")
      .agg(max_by(struct(col("centroid_id"), col("vector")), col("seq")).as("__w"))
      .select(col("__w.centroid_id").as("centroid_id"), col("id"),
        col("__w.vector").as("vector"))
      .withColumn("seq", lit(0L))
    // safe self-overwrite: overwritePartitioned STAGES the new generation in
    // a side directory and swaps only after the write — the rollup streams
    // from the live files the whole time (nothing materializes in memory;
    // the index never fits an executor at 100 TB)
    store.overwritePartitioned(postingsTable(name), survivors, Seq("centroid_id"))
    resetClock(store, name)
    // count from the swapped-in generation (the pre-swap plan's files are
    // retired — re-executing it would read directories that no longer exist)
    store.read(postingsTable(name)).count()
  }

  /** RETRAIN — the staleness answer replacing "centroids are frozen
    * forever": [[upsert]] is assign-only, so as upserted vectors drift from
    * the build-time distribution, the frozen quantizer's cells stop
    * matching the data and partial-probe recall DECAYS (q174 measures that
    * decay as a number). Retraining resolves the current corpus state
    * (keep-latest over all versions — the [[compact]] rollup) and rebuilds
    * the index FROM ITS OWN CONTENT through [[build]]: same deterministic
    * sampling/seeding/k-means, fresh centroids fit to today's distribution,
    * every surviving vector reassigned, clock reset to 0. O(index) like
    * compact — run it on the maintenance cadence (e.g. when q174's
    * staleness row crosses a floor), never the ingest path. The rebuild
    * streams from the live generation while the staged swap writes the next
    * (the compact argument); a crash between the centroid and postings
    * swaps leaves a torn pairing — rerun retrain (idempotent), the
    * single-writer maintenance contract. Returns the surviving row count. */
  def retrain(
      store: TableStore, name: String,
      nClusters: Int, sampleSize: Int = 2048, iters: Int = 8): Long = {
    val latest = store.read(postingsTable(name))
      .groupBy("id")
      .agg(max_by(struct(col("vector")), col("seq")).as("__w"))
      .select(col("id"), col("__w.vector").as("vector"))
    build(store, name, latest, "id", "vector", nClusters, sampleSize, iters)
  }

  /** The outcome of one [[maybeRetrain]] policy evaluation. `recallAfter`
    * is present only when a retrain actually ran. */
  final case class RetrainDecision(
      recallBefore: Double, retrained: Boolean, recallAfter: Option[Double])

  /** Partial-probe RECALL of the index's current state — q174's staleness
    * number as a reusable primitive: the production-shaped query
    * (`nProbe` cells) measured against the full-probe twin on the SAME
    * index state, which is exact by construction (the q147 device).
    * `probes` is a SAMPLED query batch (idCol, vecCol) — the measurement
    * costs two query passes over the probed cells, so keep it the
    * monitoring sample, not the corpus. Returns hits/exact over the
    * probes' top-k lists; an empty probe batch is rejected loudly (a
    * recall of an empty set would read as healthy 0/0). */
  def partialProbeRecall(
      store: TableStore, name: String, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): Double = {
    val approx = Loops.checkpoint(
      query(store, name, probes, idCol, vecCol, k, nProbe), eager = true)
    val exact = Loops.checkpoint(query(store, name, probes, idCol, vecCol, k,
      nProbe = Int.MaxValue), eager = true)
    val nExact = exact.count()
    require(nExact > 0,
      "partialProbeRecall: the probe batch produced no exact neighbors — " +
        "an empty measurement would read as a healthy index")
    val nHit = exact.select("id", "neighbor_id")
      .join(approx.select("id", "neighbor_id"),
        Seq("id", "neighbor_id"), "left_semi").count()
    nHit.toDouble / nExact.toDouble
  }

  /** SCHEDULED-RETRAIN POLICY — the decision end of q174's staleness
    * report: measure [[partialProbeRecall]] on the probe sample; if it
    * sits at or above `recallFloor`, do nothing (the cheap steady-state
    * path — two probe-sized query passes); below the floor, run the full
    * [[compact]] + [[retrain]] maintenance pass (O(index), the q174
    * recovery) and re-measure so the decision record carries the recovery
    * evidence. Returns [[RetrainDecision]]. The measurement is
    * deterministic for a fixed index state and probe batch, so the policy
    * never flaps on noise — only on real drift. Single-writer contract as
    * [[compact]]/[[retrain]]: run it on the maintenance cadence, never
    * concurrently with ingest. */
  def maybeRetrain(
      store: TableStore, name: String, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      recallFloor: Double, nClusters: Int,
      sampleSize: Int = 2048, iters: Int = 8): RetrainDecision = {
    require(recallFloor > 0.0 && recallFloor <= 1.0,
      s"recallFloor must be in (0, 1] (got $recallFloor)")
    val before = partialProbeRecall(store, name, probes, idCol, vecCol, k,
      nProbe)
    if (before >= recallFloor) RetrainDecision(before, retrained = false, None)
    else {
      compact(store, name)
      retrain(store, name, nClusters, sampleSize, iters)
      val after = partialProbeRecall(store, name, probes, idCol, vecCol, k,
        nProbe)
      RetrainDecision(before, retrained = true, Some(after))
    }
  }

  /** Top-k cosine neighbors of each query from the persisted index:
    * (id, neighbor_id, cosine, rank). Rows whose neighbor id equals the
    * query id are excluded (self-join convention shared with the exact
    * kernels). A (query, posting) pair can meet in at most ONE cell — each
    * posting lives under its single nearest centroid and the probe set is
    * distinct — so no candidate dedup pass is needed.
    *
    * Scoring is the CELL-COGROUPED scan (the [[Ann.blockTopK]] /
    * [[Pq.ivfPqTopK]] kernel shape): each probed inverted list is
    * materialized once per task and the query batch STREAMS past it in a
    * tight primitive loop that emits only per-cell top-k shortlists. An
    * earlier revision scored `probed.join(postings)` output rows — the query
    * vector replicated through the exchange once per CANDIDATE, the exact
    * shape the PQ kernel's rewrite measured ~3× slower on identical
    * candidates. Here the corpus-sized postings cross the wire exactly once
    * (cell-split keyed — never replicated), only the tiny query batch fans
    * out (nProbe × splits rows per query), and the shortlist shuffle is
    * |queries| × nProbe × splits × k rows instead of the full candidate set.
    * `cellSplits` shards one cell's postings across tasks, so per-task
    * memory is |cell|/splits and a handful of probed cells still uses every
    * core. The loop's accumulation order replays [[graft.functions
    * .VectorExpressions]]' CosineSimilarity exactly (each accumulator adds
    * in flat index order), so scores are bit-identical to the joined form
    * the q136 oracle froze.
    *
    * The probed frame is eagerly checkpointed BEFORE the cell set collect:
    * centroid assignment runs once, not once for the collect and again for
    * the scan. The probed-cell set is bounded by nClusters (index
    * structure, not data); pushed as a literal isin it becomes a
    * PartitionFilter — the scan never lists the unprobed inverted lists. */
  def query(
      store: TableStore, name: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"k and nProbe must be >= 1 (got $k, $nProbe)")
    val spark = queries.sparkSession
    import spark.implicits._
    val (centroids, dim) = readCentroids(store, name)
    val bc = spark.sparkContext.broadcast(centroids)
    val p = math.min(nProbe, centroids.length)
    val cellSplits = math.min(64, math.max(1,
      spark.sparkContext.defaultParallelism / math.max(1, centroids.length)) * 4)

    val probed = Loops.checkpoint(queries
      .select(col(idCol).cast("long").as(idCol), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val ctrs = bc.value
        it.flatMap { case (id, s) =>
          if (s == null || s.length != dim) Iterator.empty
          else Ivf.probes(ctrs, s.toArray, p).iterator.map(c => (c, id, s))
        }
      }, eager = true) // one assignment pass serves collect + scan
    val cells = probed.map(_._1).distinct().collect().sorted

    // keep-latest resolution (see [[upsert]]'s duplicate-id policy): an id
    // written under several seqs resolves to its highest AMONG THE PROBED
    // CELLS — with full probe that is exact keep-latest; under partial probe
    // a stale version whose cell is probed while the latest's isn't can
    // surface, the same approximation class as ANN recall itself. The keyed
    // rollup runs over PROBED postings only and is skipped entirely for a
    // never-upserted index (meta clock still 0 — the build-only fast path,
    // no extra exchange in q136's plan).
    val probedPostings = store.read(postingsTable(name))
      .filter(col("centroid_id").isin(cells.map(Integer.valueOf): _*))
      .select(col("centroid_id"), col("id").as("neighbor_id"),
        col("vector"), col("seq"))
    val latest =
      if (readMaxSeq(store, name) == 0L)
        probedPostings.select("centroid_id", "neighbor_id", "vector")
      else probedPostings
        .groupBy("neighbor_id")
        .agg(max_by(struct(col("centroid_id"), col("vector")), col("seq")).as("__w"))
        .select(col("__w.centroid_id").as("centroid_id"), col("neighbor_id"),
          col("__w.vector").as("vector"))

    // postings are SHARDED within each probed cell (split = hash of the
    // posting id) and never replicated; each query visits every split of
    // its probed cells — the corpus-heavy side moves once, the batch fans out
    val postingsKV = latest
      .as[(Int, Long, Seq[Float])]
      .groupByKey { case (c, nid, _) =>
        c * cellSplits + java.lang.Math.floorMod(nid, cellSplits.toLong).toInt
      }
    val probesKV = probed
      .flatMap { case (c, id, v) =>
        (0 until cellSplits).iterator.map(sp => (c * cellSplits + sp, id, v))
      }
      .groupByKey(_._1)

    val scored = postingsKV.cogroup(probesKV) { (_, idxIt, qIt) =>
      val cell = idxIt.map { case (_, nid, v) => (nid, v.toArray) }.toArray
      if (cell.isEmpty) Iterator.empty
      else {
        // per-vector norms once per materialized shard, then the
        // CosineSimilarity loop verbatim per (query, posting)
        val norms = new Array[Double](cell.length)
        var j = 0
        while (j < cell.length) {
          val v = cell(j)._2
          var vn = 0.0; var x = 0
          while (x < v.length) { vn += v(x).toDouble * v(x); x += 1 }
          norms(j) = math.sqrt(vn)
          j += 1
        }
        qIt.flatMap { case (_, qid, qs) =>
          val q = qs.toArray
          var qn = 0.0; var i = 0
          while (i < q.length) { qn += q(i).toDouble * q(i); i += 1 }
          val qNorm = math.sqrt(qn)
          val best = new java.util.TreeSet[(Double, Long)](
            Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long]))
          var m = 0
          while (m < cell.length) {
            val (nid, v) = cell(m)
            if (nid != qid) {
              var dot = 0.0; var x = 0
              while (x < v.length) { dot += q(x).toDouble * v(x); x += 1 }
              val cos = if (qn == 0.0 || norms(m) == 0.0) 0.0
                else dot / (qNorm * norms(m))
              best.add((cos, nid))
              if (best.size > k) best.remove(best.last)
            }
            m += 1
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          val iter = best.iterator()
          while (iter.hasNext) { val (cos, nid) = iter.next(); out += ((qid, nid, cos)) }
          out.iterator
        }
      }
    }.toDF("id", "neighbor_id", "cosine")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("id", "neighbor_id", "cosine", "rank")
  }
}
