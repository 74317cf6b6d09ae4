package graft

import scala.util.Try

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession,
  SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{array, col, lit, round}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType,
  IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorExpressions._

/** SparkSessionExtensions registering the native kernels as SQL functions, so
  * a pure-SQL user (spark.sql, thrift, notebooks) can call them without the
  * Scala column API:
  *
  * {{{
  *   SELECT vec_cosine(a.embedding, b.embedding)      -- double, null on dim mismatch
  *   SELECT minhash_signature(shingles, 64)            -- array<bigint>
  *   SELECT simhash64(tokens)                          -- bigint
  *   SELECT lsh_bucket(embedding, 12), lsh_bucket(embedding, 12, 3)
  * }}}
  *
  * Activate with `spark.sql.extensions=graft.GraftExtensions` (set by
  * [[Sessions.tune]]) or `SparkSession.builder.withExtensions(new GraftExtensions)`.
  * Parameters that shape the expression (k, nBits, seed) must be integer
  * literals — they are plan-time constants, not per-row values.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got: $other")
  }

  // SQL `0.5` parses as a DECIMAL literal, `0.5D` as DOUBLE, `1` as INT —
  // a numeric shape parameter must accept all three
  private def doubleLit(e: Expression, what: String): Double = e match {
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Double, _) => v
    case Literal(v: Int, IntegerType) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got: $other")
  }

  private def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got: $other")
  }


  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** The table or view a string-literal argument names. A missing one, or
    * one without `cols`, fails resolution with a message naming `what`. */
  private def table(e: Expression, what: String, cols: String*): DataFrame = {
    val name = strLit(e, what)
    val df = try SparkSession.active.table(name) catch {
      case ex: AnalysisException => throw new IllegalArgumentException(
        s"$what: no table or view '$name' (${ex.getMessage})", ex)
    }
    val missing = cols.filter(c => Try(df.col(c)).isFailure)
    require(missing.isEmpty, s"$what '$name' has no column " +
      s"${missing.mkString(", ")}; its columns: ${df.columns.mkString(", ")}")
    df
  }

  /** A node id's type in a graph operator's output: `src`, `dst` and
    * `extra` widened as `array()` widens them. */
  private def nodeType(edges: DataFrame, extra: Long*): DataType =
    edges.select(array(extra.map(lit) :+ col("src") :+ col("dst"): _*))
      .schema.head.dataType.asInstanceOf[ArrayType].elementType

  // a community label after at least one sweep: the argmax negates labels,
  // and a negated string id reads as a double
  private def labelType(edges: DataFrame, sweeps: Int): DataType =
    nodeType(edges) match {
      case StringType if sweeps > 0 => DoubleType
      case t => t
    }

  /** An iterative table function: its `fields` are fixed at resolution and
    * `run` executes the operator's loop when the query does
    * ([[graft.plans.IterativeOp]]). */
  private def iterative(name: String, fields: (String, DataType)*)(
      run: => DataFrame): LogicalPlan =
    graft.plans.IterativeOp(name, StructType(fields.map { case (n, t) => StructField(n, t) }))(run)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two float arrays"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_cosine(a, b) takes 2 arguments")
        CosineSimilarity(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(shingles, k) - k-slot MinHash signature"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "minhash_signature(shingles, k) takes 2 arguments")
        MinHashSignature(children(0), intLit(children(1), "k"))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash fingerprint"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash64(tokens) takes 1 argument")
        SimHash64(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("lsh_bucket"),
      info("lsh_bucket", "lsh_bucket(vec, nBits[, seed]) - hyperplane LSH bucket"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 3,
          "lsh_bucket(vec, nBits[, seed]) takes 2 or 3 arguments")
        val seed = if (children.length == 3) intLit(children(2), "seed").toLong else 0L
        HyperplaneLshBucket(children.head, intLit(children(1), "nBits"), seed)
      }))
    // bounded top-k aggregate — the SQL surface of graft.functions.TopK
    // (Spark ships CollectTopK but SQL-registers it only for its pandas
    // layer); k is a plan-time literal like every shape parameter here.
    ext.injectFunction((
      FunctionIdentifier("top_k_asc"),
      info("top_k_asc",
        "top_k_asc(expr, k) - the k smallest values per group, ascending; " +
          "O(k) buffer, equivalent to slice(sort_array(collect_list(expr)), 1, k)"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "top_k_asc(expr, k) takes 2 arguments")
        new org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
          children.head, intLit(children(1), "k"), true)
      }))
    ext.injectFunction((
      FunctionIdentifier("top_k_desc"),
      info("top_k_desc",
        "top_k_desc(expr, k) - the k largest values per group, descending; " +
          "O(k) buffer, equivalent to slice(sort_array(collect_list(expr), false), 1, k)"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "top_k_desc(expr, k) takes 2 arguments")
        new org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
          children.head, intLit(children(1), "k"), false)
      }))

    // optimizer rule: the declarative Hamming near-dup join (crossJoin +
    // bit_count(a^b) <= k) rewrites to the pigeonhole banded equi-join
    // union — the naive O(n²) form gets the scalable physical shape.
    ext.injectOptimizerRule(_ => graft.plans.HammingJoinRewrite)
    // the iterative table functions' leaves run their loops at execution
    ext.injectPlannerStrategy(_ => graft.plans.IterativeOpStrategy)

    // ---- table functions: the flagship pipeline OPERATORS, reachable from
    // pure SQL. Each takes catalog/temp-view names and column names as
    // string literals (plan-time constants — a TVF's shape cannot depend on
    // row values) and returns the operator's logical plan over
    // SparkSession.active's catalog: a declarative operator's lazy plan, or
    // for an iterative one an IterativeOp leaf (see `iterative`). Either
    // way, resolving the call runs no job.
    ext.injectTableFunction((
      FunctionIdentifier("edit_distance_pairs"),
      info("edit_distance_pairs",
        "edit_distance_pairs(table, idCol, strCol, k) - pairs within edit distance k"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "edit_distance_pairs(table, idCol, strCol, k) takes 4 arguments")
        graft.operators.EditDistance.editDistancePairs(
          table(children(0), "table"),
          strLit(children(1), "idCol"), strLit(children(2), "strCol"),
          intLit(children(3), "k"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("bm25_topk"),
      info("bm25_topk",
        "bm25_topk(docs, idCol, textCol, queries, qidCol, qtextCol, k) - " +
          "top-k BM25 retrieval per query"),
      (children: Seq[Expression]) => {
        require(children.length == 7 || children.length == 8,
          "bm25_topk(docs, idCol, textCol, queries, qidCol, qtextCol, k" +
            "[, maxQueryTerms]) takes 7 or 8 arguments")
        graft.operators.Bm25.topK(
          table(children(0), "docs"),
          strLit(children(1), "idCol"), strLit(children(2), "textCol"),
          table(children(3), "queries"),
          strLit(children(4), "qidCol"), strLit(children(5), "qtextCol"),
          intLit(children(6), "k"),
          maxQueryTerms =
            if (children.length == 8) intLit(children(7), "maxQueryTerms") else 0)
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("mixture_resample"),
      info("mixture_resample",
        "mixture_resample(table, idCol, stratumCol, k) - one GLOBAL " +
          "deterministic weighted draw of k rows whose expected stratum mix " +
          "is UNIFORM (weight = target/actual share; Efraimidis-Spirakis " +
          "through the bounded heap)"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "mixture_resample(table, idCol, stratumCol, k) takes 4 arguments")
        graft.operators.Mixture.resampleUniform(
          table(children(0), "table"),
          strLit(children(1), "idCol"), strLit(children(2), "stratumCol"),
          intLit(children(3), "k"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("table_profile"),
      info("table_profile",
        "table_profile(table) - ANALYZE-style per-column profile (rows, " +
          "nulls, exact distinct, min/max as strings) in one scan; plans " +
          "LAZILY (the declarative explode reshape — nothing runs until " +
          "the query does)"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "table_profile(table) takes 1 argument")
        graft.operators.Profile.table(
          table(children(0), "table"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("quality_lr_scores"),
      info("quality_lr_scores",
        "quality_lr_scores(table, idCol, textCol, iters) - train the " +
          "logistic quality classifier (C4-gate label, heuristic page " +
          "features, softsign link) by full-batch gradient descent and " +
          "score every row; training (one text scan + iters " +
          "aggregations) runs when the query executes"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "quality_lr_scores(table, idCol, textCol, iters) takes 4 arguments")
        val idCol = strLit(children(1), "idCol")
        val textCol = strLit(children(2), "textCol")
        val docs = table(children(0), "table", idCol, textCol)
        val iters = intLit(children(3), "iters")
        iterative("quality_lr_scores", "id" -> docs.select(idCol).schema.head.dataType,
            "label" -> LongType, "score" -> DoubleType, "predicted" -> BooleanType) {
          val txt = col(textCol)
          // the SHARED canonical recipe — one definition for the oracled
          // queries, this TVF, and the specs
          val feats = graft.operators.Classifier.heuristicPageFeatures(txt)
          val label = graft.operators.Classifier.c4Label(txt)
          val model = graft.operators.Classifier.trainOnFeatures(
            docs, feats, label, iters = iters, lr = 0.5,
            link = graft.operators.Classifier.Link.Softsign)
          val scored = round(model.score(feats.map { case (n, c) => c }), 6)
          docs.select(
            col(idCol).as("id"), label.cast("long").as("label"),
            scored.as("score"), (scored >= lit(0.5)).as("predicted"))
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("weighted_sample"),
      info("weighted_sample",
        "weighted_sample(table, idCol, weightCol, strataCsv, k) - k rows per " +
          "stratum, inclusion odds proportional to the weight (deterministic " +
          "Efraimidis-Spirakis); empty strataCsv = one global sample"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          "weighted_sample(table, idCol, weightCol, strataCsv, k) takes 5 arguments")
        val strata = strLit(children(3), "strataCsv")
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        graft.operators.Sampling.weightedSample(
          table(children(0), "table"),
          strLit(children(1), "idCol"), strLit(children(2), "weightCol"),
          strata, intLit(children(4), "k"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("ann_topk"),
      info("ann_topk",
        "ann_topk(table, idCol, vecCol, k) - exact cosine top-k neighbors per row " +
          "(block-cogrouped scan, no corpus broadcast); resolving the call runs " +
          "one light corpus pass (majority dimension + block count)"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "ann_topk(table, idCol, vecCol, k) takes 4 arguments")
        graft.operators.Ann.blockTopK(
          table(children(0), "table"),
          strLit(children(1), "idCol"), strLit(children(2), "vecCol"),
          intLit(children(3), "k"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("snapshot_diff"),
      info("snapshot_diff",
        "snapshot_diff(oldTable, newTable, keyColsCsv, valueColsCsv) - " +
          "added/removed/changed keys between two snapshots"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "snapshot_diff(oldTable, newTable, keyColsCsv, valueColsCsv) takes 4 arguments")
        def cols(e: Expression, what: String): Seq[String] = {
          val names = strLit(e, what).split(',').map(_.trim).filter(_.nonEmpty).toSeq
          require(names.nonEmpty, s"$what must list at least one column")
          names
        }
        graft.operators.SnapshotDiff.diff(
          table(children(0), "oldTable"),
          table(children(1), "newTable"),
          cols(children(2), "keyColsCsv"), cols(children(3), "valueColsCsv"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("pagerank"),
      info("pagerank",
        "pagerank(edgesTable, iters[, damping[, deterministic]]) - damped " +
          "PageRank over (src, dst, w) edges, returning (node, rank). " +
          "deterministic defaults to FALSE (the production sum-fold shape; " +
          "O(1) aggregation buffers); true swaps in the bit-deterministic " +
          "sorted folds. Each iteration is materialized when the query " +
          "executes"),
      (children: Seq[Expression]) => {
        require(children.length >= 2 && children.length <= 4,
          "pagerank(edgesTable, iters[, damping[, deterministic]]) takes 2-4 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst", "w")
        val iters = intLit(children(1), "iters")
        val damping =
          if (children.length >= 3) doubleLit(children(2), "damping") else 0.85
        val det =
          if (children.length == 4) boolLit(children(3), "deterministic") else false
        iterative("pagerank", "node" -> nodeType(edges), "rank" -> DoubleType) {
          graft.operators.PageRank.run(edges, iters, damping, deterministic = det)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("video_neardup_pairs"),
      info("video_neardup_pairs",
        "video_neardup_pairs(table[, minJaccard[, maxFrameDf]]) - video " +
          "near-dup pairs (id_a, id_b, n_shared, jaccard) over a " +
          "(media_id, kind, payload) table via frame-sampled perceptual " +
          "hashes; frame hashes in more than maxFrameDf videos (default " +
          "1000) are dropped as chrome before the candidate join"),
      (children: Seq[Expression]) => {
        require(children.length >= 1 && children.length <= 3,
          "video_neardup_pairs(table[, minJaccard[, maxFrameDf]]) takes 1-3 arguments")
        val minJ =
          if (children.length >= 2) doubleLit(children(1), "minJaccard") else 0.5
        val cap =
          if (children.length == 3) intLit(children(2), "maxFrameDf") else 1000
        graft.multimodal.Multimodal.videoNearDupPairs(
          table(children(0), "table"),
          minJaccard = minJ, maxFrameDf = cap)
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("audio_neardup_pairs"),
      info("audio_neardup_pairs",
        "audio_neardup_pairs(table[, maxHamming]) - audio near-dup pairs " +
          "(id_a, id_b, hamming) over a (media_id, kind, payload) table: " +
          "channel-layout-invariant 64-bit envelope hash, banded-Hamming " +
          "equi-join at distance <= maxHamming (default 0)"),
      (children: Seq[Expression]) => {
        require(children.length >= 1 && children.length <= 2,
          "audio_neardup_pairs(table[, maxHamming]) takes 1-2 arguments")
        val maxH = if (children.length == 2) intLit(children(1), "maxHamming") else 0
        val hashes = graft.multimodal.Multimodal
          .audioHash(table(children(0), "table"))
          .filter(org.apache.spark.sql.functions.col("valid"))
          .select("media_id", "ahash")
        graft.operators.Dedup.hammingNearDupPairs(
          hashes, "media_id", "ahash", bits = 64, maxHamming = maxH)
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("jaccard_pairs"),
      info("jaccard_pairs",
        "jaccard_pairs(table, idCol, textCol, minJaccard) - all pairs with " +
          "exact word-shingle Jaccard >= minJaccard via the prefix filter " +
          "(provably complete candidates, never all-pairs)"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "jaccard_pairs(table, idCol, textCol, minJaccard) takes 4 arguments")
        graft.operators.Dedup.prefixJaccardPairs(
          table(children(0), "table"),
          strLit(children(1), "idCol"), strLit(children(2), "textCol"),
          minJaccard = doubleLit(children(3), "minJaccard"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_bfs"),
      info("graph_bfs",
        "graph_bfs(edgesTable, sourcesTable[, maxDepth]) - (node, dist) hop " +
          "distances from the source set over (src, dst) edges; each " +
          "frontier round is materialized"),
      (children: Seq[Expression]) => {
        require(children.length >= 2 && children.length <= 3,
          "graph_bfs(edgesTable, sourcesTable[, maxDepth]) takes 2-3 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val sources = table(children(1), "sourcesTable", "node")
        val depth = if (children.length == 3) intLit(children(2), "maxDepth") else 50
        iterative("graph_bfs", "node" -> nodeType(edges), "dist" -> LongType) {
          graft.operators.Bfs.distances(edges, sources, maxDepth = depth)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_sssp"),
      info("graph_sssp",
        "graph_sssp(edgesTable, sourcesTable[, maxRounds]) - (node, dist) " +
          "min-plus weighted shortest path from the source set over " +
          "(src, dst, w>=0) edges; each relaxation round is materialized"),
      (children: Seq[Expression]) => {
        require(children.length >= 2 && children.length <= 3,
          "graph_sssp(edgesTable, sourcesTable[, maxRounds]) takes 2-3 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst", "w")
        val sources = table(children(1), "sourcesTable", "node")
        val rounds = if (children.length == 3) intLit(children(2), "maxRounds") else 100
        iterative("graph_sssp", "node" -> nodeType(edges), "dist" -> LongType) {
          graft.operators.Sssp.distances(edges, sources, maxRounds = rounds)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_kcore"),
      info("graph_kcore",
        "graph_kcore(edgesTable, k[, maxRounds]) - (node, core_deg) " +
          "members of the k-core (iterative peeling) over (src, dst) " +
          "edges; each peel round is materialized"),
      (children: Seq[Expression]) => {
        require(children.length >= 2 && children.length <= 3,
          "graph_kcore(edgesTable, k[, maxRounds]) takes 2-3 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val k = intLit(children(1), "k")
        val rounds = if (children.length == 3) intLit(children(2), "maxRounds") else 100
        iterative("graph_kcore", "node" -> nodeType(edges), "core_deg" -> LongType) {
          graft.operators.KCore.core(edges, k = k, maxRounds = rounds)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_lpa"),
      info("graph_lpa",
        "graph_lpa(edgesTable, rounds) - (node, label) synchronous " +
          "label-propagation communities after exactly `rounds` majority " +
          "sweeps over (src, dst) edges (deterministic: smallest-label " +
          "ties); each sweep is materialized"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graph_lpa(edgesTable, rounds) takes 2 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val rounds = intLit(children(1), "rounds")
        iterative("graph_lpa", "node" -> nodeType(edges),
            "label" -> labelType(edges, rounds)) {
          graft.operators.LabelProp.communities(edges, rounds = rounds)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_scc"),
      info("graph_scc",
        "graph_scc(edgesTable[, maxRounds]) - (id, scc) strongly connected " +
          "components (mutual reachability, scc = min member id) over " +
          "DIRECTED (src, dst) edges; each coloring wave is materialized, " +
          "and once the live graph of integer ids has at most 1M nodes " +
          "plus edges, one job collects it and the driver finishes the " +
          "rounds"),
      (children: Seq[Expression]) => {
        require(children.length >= 1 && children.length <= 2,
          "graph_scc(edgesTable[, maxRounds]) takes 1-2 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val rounds = if (children.length == 2) intLit(children(1), "maxRounds") else 100
        // the labels widen to long: the peel unions onto a (long, long) frame
        val id = nodeType(edges, 0L)
        iterative("graph_scc", "id" -> id, "scc" -> id) {
          graft.operators.Scc.components(edges, maxRounds = rounds)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_clustering"),
      info("graph_clustering",
        "graph_clustering(edgesTable) - (node, deg, n_triangles, " +
          "clustering) Watts-Strogatz local clustering coefficient over " +
          "(src, dst) edges (degree-ordered triangle orientation); LAZY — " +
          "one declarative plan, nothing runs until the query executes"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graph_clustering(edgesTable) takes 1 argument")
        graft.operators.Triangles.localClustering(
          table(children(0), "edgesTable"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("functional_deps"),
      info("functional_deps",
        "functional_deps(table, colsCsv) - (determinant, dependent, " +
          "n_determinant, n_pair, holds) candidate-key rows (dependent = " +
          "'*') and pairwise FD tests (a -> b iff distinct(a) = " +
          "distinct(a,b)) over the listed columns; ONE scan, Expand " +
          "multi-count-distinct (quadratic in the column-set size — keep " +
          "it the candidates under study); LAZY — one declarative plan"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "functional_deps(table, colsCsv) takes 2 arguments")
        val cols = strLit(children(1), "colsCsv")
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        graft.operators.Profile.functionalDeps(
          table(children(0), "table"), cols)
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("link_prediction"),
      info("link_prediction",
        "link_prediction(edgesTable) - (u, v, cn, deg_u, deg_v, jaccard) " +
          "non-adjacent pairs sharing a neighbor over (src, dst) edges — " +
          "the open wedges a recommender scores; meant for degree-bounded " +
          "(rank-capped kNN) graphs; LAZY — one declarative plan, nothing " +
          "runs until the query executes"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "link_prediction(edgesTable) takes 1 argument")
        graft.operators.LinkPredict.jaccardCandidates(
          table(children(0), "edgesTable"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_truss"),
      info("graph_truss",
        "graph_truss(edgesTable, k[, maxRounds]) - (u, v, support) edges " +
          "of the k-truss (every edge in >= k-2 triangles within the " +
          "surviving subgraph) over (src, dst) edges; each peel round is " +
          "materialized"),
      (children: Seq[Expression]) => {
        require(children.length >= 2 && children.length <= 3,
          "graph_truss(edgesTable, k[, maxRounds]) takes 2-3 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val k = intLit(children(1), "k")
        val rounds = if (children.length == 3) intLit(children(2), "maxRounds") else 100
        val node = nodeType(edges)
        iterative("graph_truss", "u" -> node, "v" -> node, "support" -> LongType) {
          graft.operators.Truss.edges(edges, k = k, maxRounds = rounds)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("temporal_reach"),
      info("temporal_reach",
        "temporal_reach(edgesTable, sourcesTable[, maxRounds]) - " +
          "(node, arrival) earliest time-respecting arrival from the " +
          "source set over (src, dst, ts>=0) temporal edges (paths may " +
          "only traverse non-decreasing timestamps; sources at -1); each " +
          "relaxation round is materialized"),
      (children: Seq[Expression]) => {
        require(children.length >= 2 && children.length <= 3,
          "temporal_reach(edgesTable, sourcesTable[, maxRounds]) takes 2-3 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst", "ts")
        val sources = table(children(1), "sourcesTable", "node")
        val rounds = if (children.length == 3) intLit(children(2), "maxRounds") else 100
        iterative("temporal_reach", "node" -> nodeType(edges), "arrival" -> LongType) {
          graft.operators.TemporalReach.earliestArrival(edges, sources, maxRounds = rounds)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_betweenness"),
      info("graph_betweenness",
        "graph_betweenness(edgesTable, pivotsTable[, maxDepth]) - " +
          "(node, betweenness) Brandes betweenness centrality over " +
          "(src, dst) edges from the pivot set (all nodes = exact; a " +
          "sampled subset = the Brandes-Pich estimator, ranking-faithful);" +
          " each BFS and dependency level is materialized"),
      (children: Seq[Expression]) => {
        require(children.length >= 2 && children.length <= 3,
          "graph_betweenness(edgesTable, pivotsTable[, maxDepth]) takes 2-3 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val pivots = table(children(1), "pivotsTable", "node")
        val depth = if (children.length == 3) intLit(children(2), "maxDepth") else 50
        iterative("graph_betweenness", "node" -> nodeType(edges),
            "betweenness" -> DoubleType) {
          graft.operators.Betweenness.fromPivots(edges, pivots, maxDepth = depth)
        }
      }))
    // mixer selector shared by the kmv TVFs: 'lcg' = the portable oracled
    // hash (default), 'xx' = the production xxhash64 mixer
    def kmvMixer(arg: Option[Expression]):
        (org.apache.spark.sql.Column => org.apache.spark.sql.Column, Long) =
      arg.map(strLit(_, "mixer")) match {
        case None | Some("lcg") =>
          (graft.operators.Kmv.hash _, graft.operators.Kmv.Modulus)
        case Some("xx") =>
          (graft.operators.Kmv.hashXx _, graft.operators.Kmv.XxModulus)
        case Some(other) => throw new IllegalArgumentException(
          s"mixer must be 'lcg' or 'xx', got '$other'")
      }
    ext.injectTableFunction((
      FunctionIdentifier("kmv_distinct"),
      info("kmv_distinct",
        "kmv_distinct(table, groupColsCsv, valueCol, k[, mixer]) - " +
          "(groupCols..., n_kept, est_distinct) per-group KMV (bottom-k) " +
          "distinct-count estimate: exact cardinality while unsaturated, " +
          "(k-1)*M/h_k once full; mixer 'lcg' (default, the portable " +
          "oracled hash) or 'xx' (production xxhash64); LAZY — one " +
          "declarative plan (distinct pass + bounded-heap rollup)"),
      (children: Seq[Expression]) => {
        require(children.length >= 4 && children.length <= 5,
          "kmv_distinct(table, groupColsCsv, valueCol, k[, mixer]) takes 4-5 arguments")
        import org.apache.spark.sql.functions.{col, size}
        val groupCols = strLit(children(1), "groupColsCsv")
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val k = intLit(children(3), "k")
        val (hasher, modulus) = kmvMixer(children.lift(4))
        graft.operators.Kmv.sketch(
            table(children(0), "table"),
            groupCols, strLit(children(2), "valueCol"), k, hasher)
          .select(groupCols.map(col) :+
            size(col("kmv")).cast("long").as("n_kept") :+
            graft.operators.Kmv.estimate(col("kmv"), k, modulus)
              .as("est_distinct"): _*)
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("kmv_sliding"),
      info("kmv_sliding",
        "kmv_sliding(table, ordCol, valueCol, window, k[, mixer]) - " +
          "(ordCol, n_periods, n_kept, est_distinct) trailing-window " +
          "distinct-count estimate from merged per-period KMV sketches " +
          "(row t merges periods [t-window+1, t]; n_periods counts how " +
          "many existed — gate on n_periods = window for full windows); " +
          "mixer 'lcg' (default) or 'xx' (production xxhash64); LAZY — " +
          "one declarative plan (exploded offset equi-group, never a " +
          "range join)"),
      (children: Seq[Expression]) => {
        require(children.length >= 5 && children.length <= 6,
          "kmv_sliding(table, ordCol, valueCol, window, k[, mixer]) takes 5-6 arguments")
        import org.apache.spark.sql.functions.{col, size}
        val ordCol = strLit(children(1), "ordCol")
        val k = intLit(children(4), "k")
        val (hasher, modulus) = kmvMixer(children.lift(5))
        graft.operators.Kmv.mergeTrailing(
            graft.operators.Kmv.sketch(
              table(children(0), "table"),
              Seq(ordCol), strLit(children(2), "valueCol"), k, hasher),
            ordCol, intLit(children(3), "window"), k)
          .select(col(ordCol), col("n_periods"),
            size(col("kmv")).cast("long").as("n_kept"),
            graft.operators.Kmv.estimate(col("kmv"), k, modulus)
              .as("est_distinct"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("categorical_drift"),
      info("categorical_drift",
        "categorical_drift(tableA, tableB, keyCol) - (key, cnt_a, cnt_b, " +
          "n_a, n_b, drift_num, drift) per-key total-variation drift " +
          "between two snapshots (exact cross-multiplied integers; keys " +
          "absent from one side zero-filled); LAZY — one declarative plan"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "categorical_drift(tableA, tableB, keyCol) takes 3 arguments")
        graft.operators.Drift.categoricalDrift(
          table(children(0), "tableA"),
          table(children(1), "tableB"),
          strLit(children(2), "keyCol"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("ewma_deviation"),
      info("ewma_deviation",
        "ewma_deviation(table, keyColsCsv, ordCol, valueCol, lags, " +
          "alarmNum, alarmDenom) - the input plus (ewma, dev, alarm): each " +
          "point vs the power-of-two-weighted mean of its `lags` " +
          "predecessors, alarm when |x*D - S|*denom > num*S (all-integer; " +
          "NULL under a partial window); LAZY — one keyed window plan"),
      (children: Seq[Expression]) => {
        require(children.length == 7,
          "ewma_deviation(table, keyColsCsv, ordCol, valueCol, lags, " +
            "alarmNum, alarmDenom) takes 7 arguments")
        val keys = strLit(children(1), "keyColsCsv")
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(keys.nonEmpty, "keyColsCsv must list at least one column")
        graft.operators.TimeSeries.ewmaDeviation(
          table(children(0), "table"),
          keys, strLit(children(2), "ordCol"), strLit(children(3), "valueCol"),
          lags = intLit(children(4), "lags"),
          alarmNum = intLit(children(5), "alarmNum").toLong,
          alarmDenom = intLit(children(6), "alarmDenom").toLong)
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("autocorrelation"),
      info("autocorrelation",
        "autocorrelation(table, keyColsCsv, ordCol, valueCol, lag) - per " +
          "key (n_days, n_pairs, acf_num, acf_den, acf): lag-k sample " +
          "autocorrelation with exact DECIMAL terms and the 9dp-rounded " +
          "ratio; gap semantics (missing ordinates break pairs); LAZY — " +
          "keyed joins and rollups only"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          "autocorrelation(table, keyColsCsv, ordCol, valueCol, lag) " +
            "takes 5 arguments")
        val keys = strLit(children(1), "keyColsCsv")
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(keys.nonEmpty, "keyColsCsv must list at least one column")
        graft.operators.TimeSeries.autocorrelation(
          table(children(0), "table"),
          keys, strLit(children(2), "ordCol"),
          strLit(children(3), "valueCol"),
          lag = intLit(children(4), "lag"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("seasonal_deviation"),
      info("seasonal_deviation",
        "seasonal_deviation(table, keyColsCsv, ordCol, valueCol, period, " +
          "alarmNum, alarmDenom) - the input plus (baseline, dev, alarm): " +
          "each point vs the value exactly `period` back in ordinate " +
          "units (the seasonal-naive forecast; gap-exact — a missing " +
          "baseline emits NULL, never a slid row), alarm when " +
          "|dev|*denom > num*baseline (all-integer); LAZY — one keyed " +
          "window plan"),
      (children: Seq[Expression]) => {
        require(children.length == 7,
          "seasonal_deviation(table, keyColsCsv, ordCol, valueCol, " +
            "period, alarmNum, alarmDenom) takes 7 arguments")
        val keys = strLit(children(1), "keyColsCsv")
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(keys.nonEmpty, "keyColsCsv must list at least one column")
        graft.operators.TimeSeries.seasonalDeviation(
          table(children(0), "table"),
          keys, strLit(children(2), "ordCol"), strLit(children(3), "valueCol"),
          period = intLit(children(4), "period"),
          alarmNum = intLit(children(5), "alarmNum").toLong,
          alarmDenom = intLit(children(6), "alarmDenom").toLong)
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_louvain"),
      info("graph_louvain",
        "graph_louvain(edgesTable, sweeps) - (node, label) one-level " +
          "Louvain communities after exactly `sweeps` alternating-parity " +
          "greedy modularity-gain half-sweeps over (src, dst) edges " +
          "(deterministic: (gain desc, label asc) ties, strict-improve " +
          "moves); each sweep is materialized"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graph_louvain(edgesTable, sweeps) takes 2 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val sweeps = intLit(children(1), "sweeps")
        iterative("graph_louvain", "node" -> nodeType(edges),
            "label" -> labelType(edges, sweeps)) {
          graft.operators.Louvain.communities(edges, sweeps = sweeps)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_louvain_refine"),
      info("graph_louvain_refine",
        "graph_louvain_refine(edgesTable, sweeps) - (node, label, " +
          "refined) Leiden-style connectivity refinement of the " +
          "one-level Louvain partition: each community split into the " +
          "connected components of its induced subgraph (refined = " +
          "component min node; never lowers modularity); runs the sweeps " +
          "and the refinement closure"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graph_louvain_refine(edgesTable, sweeps) takes 2 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val sweeps = intLit(children(1), "sweeps")
        val node = nodeType(edges)
        iterative("graph_louvain_refine", "node" -> node,
            "label" -> labelType(edges, sweeps), "refined" -> node) {
          val labels = graft.operators.Louvain.communities(edges, sweeps = sweeps)
          graft.operators.Louvain.refine(edges, labels.select("node", "label"))
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_louvain2"),
      info("graph_louvain2",
        "graph_louvain2(edgesTable, sweeps1, sweeps2) - (node, label) " +
          "TWO-LEVEL Louvain: one-level local moves, communities " +
          "contracted to a weighted supergraph (intra weight as " +
          "self-loop degrees), weighted local moves there, mapped back " +
          "(never lowers Q vs one level); runs both levels"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graph_louvain2(edgesTable, sweeps1, sweeps2) takes 3 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val sweeps1 = intLit(children(1), "sweeps1")
        val sweeps2 = intLit(children(2), "sweeps2")
        iterative("graph_louvain2", "node" -> nodeType(edges),
            "label" -> labelType(edges, sweeps1 + sweeps2)) {
          graft.operators.Louvain.twoLevel(edges, sweeps1 = sweeps1, sweeps2 = sweeps2)
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_jaccard"),
      info("kmv_jaccard",
        "kmv_jaccard(sketchA, sketchB, k) - Jaccard similarity estimated " +
          "from two bottom-k KMV sketches (array<long>): |M ∩ A ∩ B| / " +
          "|M| with M the bottom-k of the sketch union; NULL when both " +
          "sketches are empty"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "kmv_jaccard(sketchA, sketchB, k) takes 3 arguments")
        // built as resolved Catalyst nodes (a Column-DSL composition would
        // arrive as an opaque ColumnNodeExpression the analyzer can't run)
        import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect,
          ArraySort, ArrayUnion, CaseWhen, Cast, Divide, GreaterThan, Size,
          Slice}
        import org.apache.spark.sql.types.DoubleType
        val k = intLit(children(2), "k")
        val merged = Slice(new ArraySort(ArrayUnion(children(0), children(1))),
          Literal(1), Literal(k))
        val inter = new Size(ArrayIntersect(
          ArrayIntersect(merged, children(0)), children(1)))
        val szm = new Size(merged)
        CaseWhen(Seq((GreaterThan(szm, Literal(0)),
          new Divide(Cast(inter, DoubleType), Cast(szm, DoubleType)))), None)
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_coreness"),
      info("graph_coreness",
        "graph_coreness(edgesTable[, maxK]) - (node, coreness) full " +
          "k-shell decomposition over (src, dst) edges: each node's max " +
          "k with k-core membership; each shell of the graded peel is " +
          "materialized"),
      (children: Seq[Expression]) => {
        require(children.length >= 1 && children.length <= 2,
          "graph_coreness(edgesTable[, maxK]) takes 1-2 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val mk = if (children.length == 2) intLit(children(1), "maxK") else 64
        iterative("graph_coreness", "node" -> nodeType(edges), "coreness" -> LongType) {
          graft.operators.KCore.coreness(edges, maxK = mk)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_katz"),
      info("graph_katz",
        "graph_katz(edgesTable[, depth]) - (node, katz) fixed-depth Katz " +
          "centrality (alpha = 0.5) over DIRECTED (src, dst) edges: " +
          "alpha^k-discounted walk counts into each node; each layer is " +
          "materialized"),
      (children: Seq[Expression]) => {
        require(children.length >= 1 && children.length <= 2,
          "graph_katz(edgesTable[, depth]) takes 1-2 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val d = if (children.length == 2) intLit(children(1), "depth") else 4
        iterative("graph_katz", "node" -> nodeType(edges), "katz" -> DoubleType) {
          graft.operators.Katz.scores(edges, depth = d)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_wcc"),
      info("graph_wcc",
        "graph_wcc(edgesTable) - (id, comp) weakly connected components " +
          "over (src, dst) edges (log-rounds star contraction; comp = min " +
          "member id); each star round is materialized"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graph_wcc(edgesTable) takes 1 argument")
        val edges = table(children(0), "edgesTable", "src", "dst")
        iterative("graph_wcc", "id" -> LongType, "comp" -> LongType) {
          graft.operators.Dedup.connectedComponentsLogRoundsStrict(
            edges, idA = "src", idB = "dst")
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_modularity"),
      info("graph_modularity",
        "graph_modularity(edgesTable, labelsTable) - per community " +
          "(label, n_nodes, e_in, d_sum, modularity) over (src, dst) " +
          "edges and a TOTAL (node, label) partition — Newman Q_c from " +
          "exact counts, one IEEE division; the edge count and the " +
          "total-labeling guard each run a job"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graph_modularity(edgesTable, labelsTable) takes 2 arguments")
        val edges = table(children(0), "edgesTable", "src", "dst")
        val labels = table(children(1), "labelsTable", "node", "label")
        iterative("graph_modularity",
            "label" -> labels.select("label").schema.head.dataType,
            "n_nodes" -> LongType, "e_in" -> LongType, "d_sum" -> LongType,
            "modularity" -> DoubleType) {
          graft.operators.GraphStats.modularity(edges, labels)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graph_assortativity"),
      info("graph_assortativity",
        "graph_assortativity(edgesTable) - ONE row (m_stubs, s_x, s_xy, " +
          "s_xx, assortativity): degree assortativity of the undirected " +
          "graph — exact stub sums, sqrt-free, NULL on zero variance; the " +
          "non-empty guard runs a job"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graph_assortativity(edgesTable) takes 1 argument")
        val edges = table(children(0), "edgesTable", "src", "dst")
        iterative("graph_assortativity", "m_stubs" -> LongType, "s_x" -> LongType,
            "s_xy" -> LongType, "s_xx" -> LongType, "assortativity" -> DoubleType) {
          graft.operators.GraphStats.assortativity(edges)
        }
      }))
    ext.injectTableFunction((
      FunctionIdentifier("as_of_join"),
      info("as_of_join",
        "as_of_join(left, right, keyColsCsv, ordCol, valueColsCsv) - each " +
          "left row enriched with the latest right-side values at or before " +
          "its ordinate (union + running-last: ONE key shuffle, no range " +
          "self-join)"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          "as_of_join(left, right, keyColsCsv, ordCol, valueColsCsv) takes 5 arguments")
        def cols(e: Expression, what: String): Seq[String] = {
          val names = strLit(e, what).split(',').map(_.trim).filter(_.nonEmpty).toSeq
          require(names.nonEmpty, s"$what must list at least one column")
          names
        }
        graft.operators.AsOfJoin.lastValueAsOf(
          table(children(0), "left"),
          table(children(1), "right"),
          cols(children(2), "keyColsCsv"), strLit(children(3), "ordCol"),
          cols(children(4), "valueColsCsv"))
          .queryExecution.logical
      }))
    // NOTE deliberately absent: theta sketch functions. Spark 4 registers
    // theta_sketch_agg / theta_union_agg / theta_sketch_estimate /
    // theta_intersection / theta_union / theta_difference natively —
    // re-injecting them here would SHADOW the built-ins with duplicates
    // (SimpleFunctionRegistry logs "replaced a previously registered
    // function"). graft.functions.ThetaSketch documents the contract over
    // the native surface; ExtensionsSpec drives it from pure SQL.
  }
}
