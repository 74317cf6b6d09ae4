package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Skew

/** SQL-surface registration (GraftExtensions) and skew-salting helpers. */
class ExtensionsSpec extends SparkSpec {

  import spark.implicits._

  test("native kernels are callable from pure SQL") {
    val r = spark.sql(
      """SELECT
        |  vec_cosine(array(cast(3.0 as float), cast(4.0 as float)),
        |             array(cast(1.0 as float), cast(0.0 as float))) AS c,
        |  simhash64(array('a', 'b', 'c')) AS sh,
        |  size(minhash_signature(array('x y z'), 16)) AS k,
        |  lsh_bucket(array(cast(1.0 as float)), 8) AS b0,
        |  lsh_bucket(array(cast(1.0 as float)), 8, 1) AS b1
        |""".stripMargin).collect()(0)
    assert(math.abs(r.getDouble(0) - 0.6) < 1e-12)
    assert(r.getInt(2) === 16)
    assert(r.getInt(3) >= 0 && r.getInt(3) < 256)
    // same Column-API expression gives the identical value
    val viaApi = spark.sql("SELECT array('a','b','c') t")
      .select(graft.functions.VectorExpressions.simhash64(col("t"))).collect()(0).getLong(0)
    assert(viaApi === r.getLong(1))
  }

  test("top_k_asc/top_k_desc aggregates are callable from pure SQL") {
    Seq(("a", 5L), ("a", 3L), ("a", 9L), ("a", 1L), ("b", 2L))
      .toDF("g", "id").createOrReplaceTempView("tk_t")
    val rows = spark.sql(
      """SELECT g, top_k_asc(id, 2) AS lo, top_k_desc(id, 2) AS hi
        |FROM tk_t GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(rows(0).getSeq[Long](1) === Seq(1L, 3L))
    assert(rows(0).getSeq[Long](2) === Seq(9L, 5L))
    assert(rows(1).getSeq[Long](1) === Seq(2L))
    // k must be a plan-time literal
    intercept[Exception](
      spark.sql("SELECT top_k_asc(id, cast(id AS INT)) FROM tk_t").collect())
  }

  test("edit_distance_pairs table function: pure-SQL call equals the Scala operator") {
    Seq((1L, "kitten"), (2L, "sitten"), (3L, "sitting"), (4L, "zebra"))
      .toDF("id", "s").createOrReplaceTempView("edp_t")
    val viaSql = spark.sql(
      "SELECT * FROM edit_distance_pairs('edp_t', 'id', 's', 2) ORDER BY id_a, id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaApi = graft.operators.EditDistance.editDistancePairs(
      spark.table("edp_t"), "id", "s", 2).orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql === viaApi)
    assert(viaSql === Seq((1L, 2L, 1L), (2L, 3L, 2L)))
    // non-literal k is a plan-shape parameter: rejected loudly
    intercept[Exception](
      spark.sql("SELECT * FROM edit_distance_pairs('edp_t', 'id', 's', 1 + 1)").collect())
  }

  test("bm25_topk table function: pure-SQL call equals the Scala operator") {
    Seq((1L, "apple banana"), (2L, "apple apple"), (3L, "cherry"))
      .toDF("doc_id", "text").createOrReplaceTempView("bm_docs")
    Seq((10L, "apple"), (11L, "cherry banana")).toDF("qid", "qt")
      .createOrReplaceTempView("bm_q")
    val viaSql = spark.sql(
      "SELECT * FROM bm25_topk('bm_docs', 'doc_id', 'text', 'bm_q', 'qid', 'qt', 2) " +
        "ORDER BY query_id, rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toSeq
    val viaApi = graft.operators.Bm25.topK(
      spark.table("bm_docs"), "doc_id", "text",
      spark.table("bm_q"), "qid", "qt", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toSeq
    assert(viaSql === viaApi)
    // q10 'apple': tf=2 short doc beats tf=1; q11 'cherry banana': cherry's
    // doc is shorter (higher tf-norm) than banana's, so doc 3 leads doc 1
    assert(viaSql.map(t => (t._1, t._3)) ===
      Seq((10L, 2L), (10L, 1L), (11L, 3L), (11L, 1L)))
  }

  test("bm25_topk 8-arg form: rarest-term selection from pure SQL") {
    Seq((1L, "apple banana common common"), (2L, "apple common"),
      (3L, "cherry common"), (4L, "banana common"))
      .toDF("doc_id", "text").createOrReplaceTempView("bm_docs8")
    Seq((10L, "apple common")).toDF("qid", "qt")
      .createOrReplaceTempView("bm_q8")
    // maxQueryTerms = 1 keeps only the query's rarest corpus term:
    // df(apple)=2 < df(common)=4, so scoring sees ONLY 'apple' — candidates
    // are exactly docs 1 and 2, and 'common' contributes nothing
    val viaSql = spark.sql(
      "SELECT * FROM bm25_topk('bm_docs8', 'doc_id', 'text', 'bm_q8', 'qid', 'qt', 10, 1) " +
        "ORDER BY query_id, rank").collect()
      .map(r => (r.getLong(2), r.getLong(3))).toSeq // (doc_id, n_terms)
    assert(viaSql.map(_._1).toSet === Set(1L, 2L),
      "only the rare term's postings may surface")
    assert(viaSql.forall(_._2 == 1L), "one scored term per candidate")
    val viaApi = graft.operators.Bm25.topK(
      spark.table("bm_docs8"), "doc_id", "text",
      spark.table("bm_q8"), "qid", "qt", k = 10, maxQueryTerms = 1)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(viaSql === viaApi)
  }

  test("quality_lr_scores table function: pure-SQL call equals the Scala training path") {
    val docs = Seq(
      (1L, "this sentence has enough words to pass the line filter.\n" +
        "this sentence has enough words to pass the line filter.\n" +
        "this sentence has enough words to pass the line filter."),
      (2L, "{ code block }"),
      (3L, "short."),
      (4L, "")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("lr_docs")
    val viaSql = spark.sql(
      "SELECT * FROM quality_lr_scores('lr_docs', 'doc_id', 'text', 3) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
    import org.apache.spark.sql.functions.{col, lit, round}
    val txt = col("text")
    val feats = graft.operators.Classifier.heuristicPageFeatures(txt)
    val label = graft.operators.Classifier.c4Label(txt)
    val model = graft.operators.Classifier.trainOnFeatures(
      docs, feats, label, iters = 3, lr = 0.5)
    val scored = round(model.score(feats.map(_._2)), 6)
    val viaApi = docs.select(col("doc_id"), label.cast("long"), scored,
        (scored >= lit(0.5))).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
    assert(viaSql === viaApi)
    assert(viaSql.map(_._2) === Seq(1L, 0L, 0L, 0L), "C4 labels as planted")
  }

  test("mixture_resample and table_profile table functions: pure-SQL equals Scala") {
    val docs = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (5L, "a"), (6L, "a"),
      (7L, "b"), (8L, "b"), (9L, "c")).toDF("doc_id", "src")
    docs.createOrReplaceTempView("mix_docs")
    val viaSql = spark.sql(
      "SELECT * FROM mixture_resample('mix_docs', 'doc_id', 'src', 4) ORDER BY rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaApi = graft.operators.Mixture.resampleUniform(docs, "doc_id", "src", 4)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaSql === viaApi && viaSql.length === 4)
    // rebalancing: a 'c' doc weighs 6x an 'a' doc (1/9-vs-6/9 share against
    // the uniform 3/9 target)
    val wBySrc = graft.operators.Mixture.resampleUniform(docs, "doc_id", "src", 9)
      .join(docs.withColumnRenamed("doc_id", "id"), Seq("id"))
      .select("src", "weight").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(wBySrc("c") === 6.0 * wBySrc("a"))
    val profSql = spark.sql("SELECT * FROM table_profile('mix_docs') ORDER BY col_name")
      .collect().map(_.toSeq).toSeq
    val profApi = graft.operators.Profile.table(docs)
      .collect().map(_.toSeq).toSeq
    assert(profSql === profApi)
    assert(profApi.map(r => (r(0), r(3))) === Seq(("doc_id", 9L), ("src", 3L)),
      "exact distinct counts per column")
  }

  test("weighted_sample table function: pure-SQL call equals the Scala operator") {
    spark.range(100).selectExpr(
      "id AS doc_id", "CAST(id % 2 AS STRING) AS src", "1 + id % 5 AS w")
      .createOrReplaceTempView("ws_t")
    val viaSql = spark.sql(
      "SELECT * FROM weighted_sample('ws_t', 'doc_id', 'w', 'src', 3) " +
        "ORDER BY src, rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val viaApi = graft.operators.Sampling.weightedSample(
      spark.table("ws_t"), "doc_id", "w", Seq("src"), 3)
      .orderBy("src", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql === viaApi && viaSql.length === 6)
    // empty strata csv = one global sample
    assert(spark.sql(
      "SELECT * FROM weighted_sample('ws_t', 'doc_id', 'w', '', 7)").count() === 7L)
  }

  test("ann_topk table function: pure-SQL call equals the Scala kernel") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vid", "emb")
    vecs.createOrReplaceTempView("ann_t")
    val viaSql = spark.sql(
      "SELECT id, neighbor_id, rank FROM ann_topk('ann_t', 'vid', 'emb', 1) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaApi = graft.operators.Ann.blockTopK(vecs, "vid", "emb", k = 1)
      .select("id", "neighbor_id", "rank").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql === viaApi)
    assert(viaSql === Seq((1L, 2L, 1L), (2L, 1L, 1L), (3L, 2L, 1L)))
  }

  test("snapshot_diff table function: pure-SQL call equals the Scala operator") {
    Seq((1L, "x", 10L), (2L, "y", 5L)).toDF("id", "v", "n")
      .createOrReplaceTempView("sd_old")
    Seq((2L, "z", 5L), (3L, "w", 1L)).toDF("id", "v", "n")
      .createOrReplaceTempView("sd_new")
    val viaSql = spark.sql(
      "SELECT * FROM snapshot_diff('sd_old', 'sd_new', 'id', 'v,n') ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaSql === Seq(1L -> "removed", 2L -> "changed", 3L -> "added"))
    // contract violations surface as the operator's own requires
    intercept[Exception](
      spark.sql("SELECT * FROM snapshot_diff('sd_old', 'sd_new', 'id', 'id,v')").collect())
  }

  test("pagerank table function: pure-SQL call equals the Scala operator") {
    Seq((1L, 2L, 1L), (2L, 1L, 1L), (1L, 3L, 2L)).toDF("src", "dst", "w")
      .createOrReplaceTempView("pr_e")
    val viaSql = spark.sql(
      "SELECT node, round(rank, 9) AS rank FROM pagerank('pr_e', 3) ORDER BY node")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaApi = graft.operators.PageRank
      .run(spark.table("pr_e"), iters = 3, deterministic = false)
      .select(col("node"), round(col("rank"), 9).as("rank")).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaSql === viaApi && viaSql.length === 3)
    // optional damping (SQL decimal literal) + deterministic (boolean) parse
    assert(spark.sql(
      "SELECT * FROM pagerank('pr_e', 2, 0.85, true)").count() === 3L)
  }

  test("video/audio near-dup table functions: pure-SQL calls equal the Scala kernels") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val mm = graft.multimodal.Multimodal
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val vid = mm.encodeVideo(7L, nFrames = 4, 16, 16)
    spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "video", vid), Row(2L, "video", vid),
      Row(3L, "video", mm.encodeVideo(9L, nFrames = 3, 16, 16))), schema)
      .createOrReplaceTempView("vnd_t")
    val vSql = spark.sql(
      "SELECT * FROM video_neardup_pairs('vnd_t', 0.5) ORDER BY id_a, id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(vSql.toSeq === Seq((1L, 2L, 4L, 1.0)))
    // maxFrameDf argument reaches the kernel: cap below any df kills pairs
    // only when a hash is genuinely over-shared — df here is 2, so cap 2 keeps
    assert(spark.sql(
      "SELECT * FROM video_neardup_pairs('vnd_t', 0.5, 2)").count() === 1L)

    val wav = mm.encodeWav(5L, nSamples = 90, sampleRate = 8000, channels = 1)
    spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "audio", wav), Row(2L, "audio", wav),
      Row(3L, "audio", mm.encodeWav(6L, nSamples = 90, sampleRate = 8000, channels = 1))),
      schema).createOrReplaceTempView("and_t")
    val aSql = spark.sql(
      "SELECT id_a, id_b FROM audio_neardup_pairs('and_t') ORDER BY id_a, id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val aApi = graft.operators.Dedup.hammingNearDupPairs(
      mm.audioHash(spark.table("and_t")).filter(col("valid"))
        .select("media_id", "ahash"),
      "media_id", "ahash", bits = 64, maxHamming = 0)
      .select("id_a", "id_b").orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(aSql.toSeq === aApi.toSeq && aSql.toSeq === Seq((1L, 2L)))
  }

  test("jaccard_pairs and graph_bfs table functions: pure-SQL calls equal the Scala kernels") {
    Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox leaps"),
      (3L, "completely different words here now"))
      .toDF("doc_id", "text").createOrReplaceTempView("jp_t")
    val jSql = spark.sql(
      "SELECT * FROM jaccard_pairs('jp_t', 'doc_id', 'text', 0.4) ORDER BY id_a, id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val jApi = graft.operators.Dedup.prefixJaccardPairs(
      spark.table("jp_t"), "doc_id", "text", minJaccard = 0.4)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(jSql.toSeq === jApi.toSeq && jSql.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))

    Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").createOrReplaceTempView("bfs_e")
    Seq(Tuple1(1L)).toDF("node").createOrReplaceTempView("bfs_s")
    val bSql = spark.sql(
      "SELECT * FROM graph_bfs('bfs_e', 'bfs_s') ORDER BY node")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bSql.toSeq === Seq((1L, 0L), (2L, 1L), (3L, 2L)))
    // the maxDepth literal reaches the operator
    assert(spark.sql("SELECT * FROM graph_bfs('bfs_e', 'bfs_s', 1)").count() === 2L)
  }

  test("graph_sssp table function: pure-SQL call equals the Scala operator") {
    Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L)).toDF("src", "dst", "w")
      .createOrReplaceTempView("sssp_e")
    Seq(Tuple1(1L)).toDF("node").createOrReplaceTempView("sssp_s")
    val viaSql = spark.sql(
      "SELECT * FROM graph_sssp('sssp_e', 'sssp_s') ORDER BY node")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaSql.toSeq === Seq((1L, 0L), (2L, 2L), (3L, 1L)),
      "the cheaper 2-hop path must win over the direct weight-10 edge")
    val viaApi = graft.operators.Sssp.distances(
      spark.table("sssp_e"), spark.table("sssp_s")).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaSql.toSeq === viaApi.toSeq)
    // the maxRounds literal reaches the operator: 1 round cannot converge on
    // this graph (the 2-hop relaxation lands in round 2) and the SQL surface
    // inherits the loud-convergence default — a capped run raises rather
    // than returning the silently-non-minimal 1-hop distances
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graph_sssp('sssp_e', 'sssp_s', 1)").collect())
    assert(e.getMessage.contains("maxRounds"), e.getMessage)
  }

  test("graph_kcore / graph_lpa / graph_clustering table functions equal the Scala operators") {
    // triangle {1,2,3} + pendant 3-4
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
      .createOrReplaceTempView("gk_e")
    assert(spark.sql("SELECT * FROM graph_kcore('gk_e', 2) ORDER BY node")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // maxRounds literal reaches the operator: too few rounds fails loudly
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graph_kcore('gk_e', 2, 1)").collect())
    assert(e.getMessage != null)
    val viaSql = spark.sql("SELECT * FROM graph_lpa('gk_e', 4) ORDER BY node")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val viaApi = graft.operators.LabelProp.communities(spark.table("gk_e"), 4)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaSql.toSeq === viaApi.toSeq)
    // scc: the triangle is a cycle only if stated directed both ways —
    // here edges are one-directional, so 1->2->3 + 1->3 + 3->4 is a DAG
    // except the 1-2-3 ring via (1,2),(2,3),(1,3)? no — (3,1) is absent:
    // every node is its own SCC
    assert(spark.sql("SELECT * FROM graph_scc('gk_e') ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
    val cc = spark.sql(
      "SELECT * FROM graph_clustering('gk_e') WHERE node = 3").collect()
    assert(cc.length === 1 && cc.head.getDouble(3) === 1.0 / 3.0)
  }

  /** Views every table-function fixture below reads. */
  private def tvfFixtures(): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma delta"))
      .toDF("doc_id", "text").createOrReplaceTempView("lazy_t")
    // a directed triangle with a pendant: a cycle, a 3-truss and a bridge
    Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (3L, 4L, 2L)).toDF("src", "dst", "w")
      .createOrReplaceTempView("lazy_e")
    Seq(Tuple1(1L)).toDF("node").createOrReplaceTempView("lazy_s")
    Seq((1L, 1L, "x")).toDF("src", "dst", "v").createOrReplaceTempView("lazy_r")
    Seq((1L, 2L, 1L), (2L, 3L, 2L)).toDF("src", "dst", "ts")
      .createOrReplaceTempView("lazy_te")
    Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L).toDF("node", "label")
      .createOrReplaceTempView("lazy_l")
    Seq((10L, "alpha")).toDF("qid", "qt").createOrReplaceTempView("lazy_q")
    Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("vid", "emb")
      .createOrReplaceTempView("lazy_v")
    spark.createDataFrame(java.util.Arrays.asList(Row(1L, "video", null)),
      StructType(Seq(StructField("media_id", LongType), StructField("kind", StringType),
        StructField("payload", BinaryType)))).createOrReplaceTempView("lazy_m")
    // the INT-id graph PR 8's driver-side SCC finish keeps exact
    Seq((3, -4), (-4, 3), (3, 5)).toDF("src", "dst").createOrReplaceTempView("lazy_ei")
  }

  /** One call of each iterative table function, with the Scala operator
    * call it stands for (what the function ran at resolution before it
    * planned lazily). */
  private def iterativeCalls: Seq[(String, String, () => DataFrame)] = {
    import graft.operators._
    def t(name: String) = spark.table(name)
    Seq(
      ("pagerank", "pagerank('lazy_e', 1)",
        () => PageRank.run(t("lazy_e"), 1, 0.85, deterministic = false)),
      ("graph_bfs", "graph_bfs('lazy_e', 'lazy_s')",
        () => Bfs.distances(t("lazy_e"), t("lazy_s"))),
      ("graph_sssp", "graph_sssp('lazy_e', 'lazy_s')",
        () => Sssp.distances(t("lazy_e"), t("lazy_s"))),
      ("quality_lr_scores", "quality_lr_scores('lazy_t', 'doc_id', 'text', 1)", () => {
        val txt = col("text")
        val feats = Classifier.heuristicPageFeatures(txt)
        val label = Classifier.c4Label(txt)
        val model = Classifier.trainOnFeatures(t("lazy_t"), feats, label, iters = 1,
          lr = 0.5, link = Classifier.Link.Softsign)
        val scored = round(model.score(feats.map(_._2)), 6)
        t("lazy_t").select(col("doc_id").as("id"), label.cast("long").as("label"),
          scored.as("score"), (scored >= lit(0.5)).as("predicted"))
      }),
      ("graph_kcore", "graph_kcore('lazy_e', 1)", () => KCore.core(t("lazy_e"), 1)),
      ("graph_lpa", "graph_lpa('lazy_e', 1)", () => LabelProp.communities(t("lazy_e"), 1)),
      ("graph_scc", "graph_scc('lazy_e')", () => Scc.components(t("lazy_e"))),
      ("graph_scc", "graph_scc('lazy_ei')", () => Scc.components(t("lazy_ei"))),
      ("graph_truss", "graph_truss('lazy_e', 3)", () => Truss.edges(t("lazy_e"), 3)),
      ("graph_louvain", "graph_louvain('lazy_e', 1)",
        () => Louvain.communities(t("lazy_e"), 1)),
      ("graph_louvain_refine", "graph_louvain_refine('lazy_e', 1)", () => Louvain.refine(
        t("lazy_e"), Louvain.communities(t("lazy_e"), 1).select("node", "label"))),
      ("graph_louvain2", "graph_louvain2('lazy_e', 1, 1)",
        () => Louvain.twoLevel(t("lazy_e"), 1, 1)),
      ("temporal_reach", "temporal_reach('lazy_te', 'lazy_s')",
        () => TemporalReach.earliestArrival(t("lazy_te"), t("lazy_s"))),
      ("graph_betweenness", "graph_betweenness('lazy_e', 'lazy_s')",
        () => Betweenness.fromPivots(t("lazy_e"), t("lazy_s"))),
      ("graph_modularity", "graph_modularity('lazy_e', 'lazy_l')",
        () => GraphStats.modularity(t("lazy_e"), t("lazy_l"))),
      ("graph_assortativity", "graph_assortativity('lazy_e')",
        () => GraphStats.assortativity(t("lazy_e"))),
      ("graph_coreness", "graph_coreness('lazy_e')", () => KCore.coreness(t("lazy_e"))),
      ("graph_wcc", "graph_wcc('lazy_e')", () => Dedup.connectedComponentsLogRoundsStrict(
        t("lazy_e"), idA = "src", idB = "dst")),
      ("graph_katz", "graph_katz('lazy_e')", () => Katz.scores(t("lazy_e"))))
  }

  /** Jobs that start while `body` runs, counted on a drained listener bus. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftshim.ListenerBusAccess
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusAccess.drain(spark.sparkContext); jobs.get }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("TVF resolution laziness: every graft table function resolves and EXPLAINs without a job") {
    // the contract ROADMAP aim 3 asks for: resolving a table function or
    // EXPLAINing a query over it does no cluster work. The functions come
    // from the session's registry, so a new one must bring a fixture call
    tvfFixtures()
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry
    val graft = registry.listFunction().map(_.funcName).filter(n =>
      registry.lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(n))
        .exists(_.getClassName == classOf[GraftExtensions].getName)).toSet
    val declarative = Map(
      "table_profile" -> "table_profile('lazy_t')",
      "mixture_resample" -> "mixture_resample('lazy_t', 'doc_id', 'text', 2)",
      "jaccard_pairs" -> "jaccard_pairs('lazy_t', 'doc_id', 'text', 0.5)",
      "edit_distance_pairs" -> "edit_distance_pairs('lazy_t', 'doc_id', 'text', 1)",
      "snapshot_diff" -> "snapshot_diff('lazy_t', 'lazy_t', 'doc_id', 'text')",
      "as_of_join" -> "as_of_join('lazy_e', 'lazy_r', 'src', 'dst', 'v')",
      "graph_clustering" -> "graph_clustering('lazy_e')",
      "link_prediction" -> "link_prediction('lazy_e')",
      "categorical_drift" -> "categorical_drift('lazy_t', 'lazy_t', 'text')",
      "ewma_deviation" -> "ewma_deviation('lazy_e', 'src', 'dst', 'w', 2, 1, 4)",
      "functional_deps" -> "functional_deps('lazy_e', 'src,dst')",
      "kmv_distinct" -> "kmv_distinct('lazy_e', 'src', 'dst', 8)",
      "kmv_sliding" -> "kmv_sliding('lazy_e', 'src', 'dst', 2, 8, 'xx')",
      "autocorrelation" -> "autocorrelation('lazy_e', 'src', 'dst', 'w', 1)",
      "seasonal_deviation" -> "seasonal_deviation('lazy_e', 'src', 'dst', 'w', 2, 1, 4)",
      "bm25_topk" -> "bm25_topk('lazy_t', 'doc_id', 'text', 'lazy_q', 'qid', 'qt', 1)",
      "ann_topk" -> "ann_topk('lazy_v', 'vid', 'emb', 1)",
      "weighted_sample" -> "weighted_sample('lazy_e', 'src', 'w', '', 1)",
      "video_neardup_pairs" -> "video_neardup_pairs('lazy_m')",
      "audio_neardup_pairs" -> "audio_neardup_pairs('lazy_m')")
    val calls = declarative ++ iterativeCalls.map { case (n, call, _) => n -> call }
    // the functions whose resolution does run work, and why
    val allowed = Map(
      "ann_topk" -> "one corpus pass (majority dimension, block count) sizes the plan")
    assert((graft -- calls.keySet).isEmpty,
      s"table functions with no fixture call: ${(graft -- calls.keySet).toSeq.sorted}")
    assert((calls.keySet -- graft).isEmpty,
      s"fixture calls of no registered function: ${(calls.keySet -- graft).toSeq.sorted}")
    graft.toSeq.sorted.foreach { name =>
      val sql = s"SELECT * FROM ${calls(name)}"
      val jobs = jobsDuring(spark.sql(sql).queryExecution.analyzed) +
        jobsDuring(spark.sql(s"EXPLAIN $sql").collect())
      if (allowed.contains(name))
        assert(jobs > 0, s"$name now resolves without a job: drop it from the allow-set")
      else
        assert(jobs === 0, s"$name ran $jobs job(s) while resolving or EXPLAINing")
    }
  }

  test("iterative TVFs: SELECT * gives the Scala operator's schema and rows") {
    tvfFixtures()
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      case v => v
    }.mkString("|")).toSeq.sorted
    iterativeCalls.foreach { case (name, call, op) =>
      val viaSql = spark.sql(s"SELECT * FROM $call")
      val viaApi = op()
      assert(viaSql.schema.map(f => f.name -> f.dataType) ===
        viaApi.schema.map(f => f.name -> f.dataType), name)
      assert(rows(viaSql) === rows(viaApi), name)
      assert(rows(viaSql).nonEmpty, name)
    }
    // the INT fixture keeps its negative least member, widened to long
    assert(spark.sql("SELECT * FROM graph_scc('lazy_ei') ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((-4L, -4L), (3L, -4L), (5L, 5L)))
  }

  test("iterative TVFs: bad arguments fail at resolution, naming the argument") {
    tvfFixtures()
    Seq(1L -> 2L).toDF("src", "to").createOrReplaceTempView("lazy_nodst")
    Seq((1L, 2L)).toDF("src", "dst").createOrReplaceTempView("lazy_now")
    val cases = Seq(
      "graph_scc('no_such_view')" -> Seq("edgesTable", "no_such_view"),
      "graph_scc('lazy_nodst')" -> Seq("edgesTable", "dst"),
      "graph_scc('lazy_e', 1 + 1)" -> Seq("maxRounds", "integer literal"),
      "pagerank('no_such_view', 2)" -> Seq("edgesTable", "no_such_view"),
      "pagerank('lazy_now', 2)" -> Seq("edgesTable", "w"),
      "pagerank('lazy_e', 1 + 1)" -> Seq("iters", "integer literal"),
      "temporal_reach('lazy_te', 'no_such_view')" -> Seq("sourcesTable", "no_such_view"),
      "temporal_reach('lazy_e', 'lazy_s')" -> Seq("edgesTable", "ts"),
      "temporal_reach('lazy_te', 'lazy_e')" -> Seq("sourcesTable", "node"),
      "temporal_reach('lazy_te', 'lazy_s', 1 + 1)" -> Seq("maxRounds", "integer literal"))
    cases.foreach { case (call, words) =>
      // spark.sql resolves the query, and only resolves it: a failure here
      // is a resolution failure, before any loop could run
      var e: Exception = null
      assert(jobsDuring { e = intercept[Exception](spark.sql(s"SELECT * FROM $call")) } === 0, call)
      words.foreach(w => assert(e.getMessage.contains(w), s"$call: ${e.getMessage}"))
    }
  }

  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("iterative TVFs run inside the query: its scope, its execution id, tvf:<name> jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftshim.ListenerBusAccess
    import graft.operators.Loops
    tvfFixtures()
    Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (3L, 4L, 1L)).toDF("src", "dst", "w")
      .createOrReplaceTempView("scope_e")
    Seq(1L -> "a", 4L -> "d").toDF("node", "tag").createOrReplaceTempView("scope_tags")
    // (description, root execution id) of every job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        jobs.add((String.valueOf(p.getProperty("spark.job.description")),
          Option(p.getProperty("spark.sql.execution.root.id"))
            .getOrElse(String.valueOf(p.getProperty("spark.sql.execution.id")))))
      }
    }
    val queries = Seq(
      "graph_scc" -> "SELECT count(*) FROM graph_scc('scope_e')",
      "pagerank" -> ("SELECT t.tag, round(p.rank, 9) FROM pagerank('scope_e', 3) p " +
        "JOIN scope_tags t ON p.node = t.node"),
      // a scalar subquery runs on Spark's subquery threads, not this one
      "graph_scc" -> "SELECT (SELECT max(scc) FROM graph_scc('scope_e')) AS m")
    val sc = spark.sparkContext
    val before = persistedIds()
    spark.sparkContext.addSparkListener(listener)
    try Loops.scope {
      queries.foreach { case (name, sql) =>
        ListenerBusAccess.drain(sc)
        jobs.clear()
        sc.setJobDescription("outer")
        try assert(spark.sql(sql).collect().nonEmpty, sql)
        finally {
          assert(sc.getLocalProperty("spark.job.description") === "outer",
            s"$sql left the job description changed")
          sc.setJobDescription(null)
        }
        ListenerBusAccess.drain(sc)
        val seen = jobs.toArray(Array.empty[(String, String)]).toSeq
        assert(seen.exists(_._1 == s"tvf:$name"), s"$sql: no tvf:$name job in $seen")
        assert(seen.exists(_._1 == "outer"), s"$sql: no job of the query itself in $seen")
        assert(seen.map(_._1).toSet.subsetOf(Set("outer", s"tvf:$name")), s"$sql: $seen")
        assert(seen.map(_._2).distinct.size === 1 && seen.head._2 != "null",
          s"$sql: the loop's jobs ran outside the query's execution: $seen")
      }
      // the loops' checkpoints belong to this scope until it returns
      assert((persistedIds() -- before).nonEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert((persistedIds() -- before).isEmpty, "the TVF loops left RDDs persisted")
    // a frame run inside a scope runs its loop again once the scope has
    // released the first run's checkpoints
    val df = spark.sql("SELECT * FROM graph_scc('scope_e')")
    val inside = Loops.scope(df.collect().map(_.toString).toSeq.sorted)
    assert(df.collect().map(_.toString).toSeq.sorted === inside)
  }

  test("iterative TVFs on two threads: each scope releases only its own checkpoints") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import graft.operators.Loops
    tvfFixtures()
    Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (3L, 4L, 1L)).toDF("src", "dst", "w")
      .createOrReplaceTempView("scope2_e")
    val scc = "SELECT * FROM graph_scc('scope2_e')"
    val pr = "SELECT node, round(rank, 9) FROM pagerank('scope2_e', 3)"
    def rows(sql: String) = spark.sql(sql).collect().map(_.toString).toSeq.sorted
    val want = Seq(scc, pr).map(q => Loops.scope(rows(q)))
    val before = persistedIds()
    // thread B runs pagerank and holds its scope open while thread A runs
    // graph_scc in a scope of its own and returns
    val bRan = new CountDownLatch(1)
    val aDone = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val b = pool.submit { () =>
        Loops.scope {
          val got = rows(pr)
          val mine = persistedIds() -- before
          bRan.countDown()
          assert(aDone.await(10, TimeUnit.MINUTES))
          (got, mine, persistedIds() -- before, rows(pr))
        }
      }
      assert(bRan.await(10, TimeUnit.MINUTES))
      val a = pool.submit(() => Loops.scope(rows(scc))).get(10, TimeUnit.MINUTES)
      aDone.countDown()
      val (bGot, bMine, bAfterA, bAgain) = b.get(10, TimeUnit.MINUTES)
      assert(a === want(0) && bGot === want(1) && bAgain === want(1))
      assert(bMine.nonEmpty)
      assert(bAfterA === bMine, "thread A's scope released thread B's checkpoints, " +
        "or left its own behind")
    } finally pool.shutdown()
    assert((persistedIds() -- before).isEmpty, "the scopes left checkpoints behind")
  }

  test("as_of_join table function: pure-SQL call equals the Scala operator") {
    Seq((1L, 10L), (1L, 25L), (2L, 10L)).toDF("k", "ord")
      .createOrReplaceTempView("aoj_l")
    Seq((1L, 5L, "a"), (1L, 20L, "b"), (2L, 30L, "late"))
      .toDF("k", "ord", "v").createOrReplaceTempView("aoj_r")
    val viaSql = spark.sql(
      "SELECT k, ord, v FROM as_of_join('aoj_l', 'aoj_r', 'k', 'ord', 'v') ORDER BY k, ord")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    // left row at 10 sees 'a' (ord 5); at 25 sees 'b' (ord 20); key 2's
    // only right row is LATER (30 > 10) -> null
    assert(viaSql.toSeq === Seq((1L, 10L, Some("a")), (1L, 25L, Some("b")),
      (2L, 10L, None)))
    val viaApi = graft.operators.AsOfJoin.lastValueAsOf(
      spark.table("aoj_l"), spark.table("aoj_r"), Seq("k"), "ord", Seq("v"))
      .orderBy("k", "ord")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    assert(viaSql.toSeq === viaApi.toSeq)
  }

  test("link_prediction / graph_truss / temporal_reach / categorical_drift / ewma_deviation TVFs equal the Scala operators") {
    // path 1-2-3: the one open wedge is (1,3) — cn 1, degrees 1/1, jaccard 1
    Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").createOrReplaceTempView("lp_e")
    assert(spark.sql("SELECT * FROM link_prediction('lp_e')").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
      .toSeq === Seq((1L, 3L, 1L, 1.0)))
    // K4: the 4-truss is all 6 edges at support 2
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst").createOrReplaceTempView("tr_e")
    val truss = spark.sql("SELECT * FROM graph_truss('tr_e', 4) ORDER BY u, v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(truss.length === 6 && truss.forall(_._3 === 2L))
    // temporal: 1-(t5)->2-(t3)->3 — the t3 edge fired before 2's arrival
    Seq((1L, 2L, 5L), (2L, 3L, 3L)).toDF("src", "dst", "ts")
      .createOrReplaceTempView("tp_e")
    Seq(Tuple1(1L)).toDF("node").createOrReplaceTempView("tp_s")
    assert(spark.sql(
        "SELECT * FROM temporal_reach('tp_e', 'tp_s') ORDER BY node")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, -1L), (2L, 5L)))
    // drift: a=[x,x,y], b=[x,z] — the b-only token carries drift_num 3
    Seq("x", "x", "y").toDF("token").createOrReplaceTempView("dr_a")
    Seq("x", "z").toDF("token").createOrReplaceTempView("dr_b")
    val z = spark.sql(
      "SELECT * FROM categorical_drift('dr_a', 'dr_b', 'token') WHERE token = 'z'")
      .collect()
    assert(z.length === 1 && z.head.getLong(5) === 3L &&
      z.head.getDouble(6) === 0.5)
    // ewma: lags=2 on 10,10,10,40 — the spike alarms with dev 90
    Seq((1, 1L, 10L), (1, 2L, 10L), (1, 3L, 10L), (1, 4L, 40L))
      .toDF("k", "ord", "v").createOrReplaceTempView("ew_t")
    val ew = spark.sql(
      "SELECT ord, dev, alarm FROM ewma_deviation('ew_t', 'k', 'ord', 'v', 2, 1, 4) " +
        "WHERE ord = 4").collect()
    assert(ew.length === 1 && ew.head.getLong(1) === 90L &&
      ew.head.getBoolean(2))
    // functional_deps: k keys the 2-row view, v does too (both unique)
    Seq((1L, "a"), (2L, "a")).toDF("k", "v").createOrReplaceTempView("fd_t")
    val fd = spark.sql(
      "SELECT * FROM functional_deps('fd_t', 'k,v') ORDER BY 1, 2").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(4)).toMap
    assert(fd === Map(("k", "*") -> true, ("v", "*") -> false,
      ("k", "v") -> true, ("v", "k") -> false))
  }

  test("graph_betweenness TVF: pure-SQL call equals the Scala operator") {
    // path P4 from all pivots: interior nodes broker [0, 2, 2, 0]
    Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
      .createOrReplaceTempView("bc_e")
    Seq(1L, 2L, 3L, 4L).toDF("node").createOrReplaceTempView("bc_n")
    val viaSql = spark.sql(
      "SELECT * FROM graph_betweenness('bc_e', 'bc_n') ORDER BY node")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaSql.toSeq === Seq((1L, 0.0), (2L, 2.0), (3L, 2.0), (4L, 0.0)))
    val viaApi = graft.operators.Betweenness.fromPivots(
      spark.table("bc_e"), spark.table("bc_n")).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaSql.toSeq === viaApi.toSeq)
    // the maxDepth literal reaches the operator: too shallow fails loudly
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graph_betweenness('bc_e', 'bc_n', 1)").collect())
    assert(e.getMessage.contains("maxDepth"), e.getMessage)
  }

  test("graph_modularity / graph_assortativity / autocorrelation TVFs equal the Scala operators") {
    // bridged triangles, 2-community partition: Q_c = 35/196 each (the
    // GraphSearchSpec hand value)
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("src", "dst").createOrReplaceTempView("gm_e")
    Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L)
      .toDF("node", "label").createOrReplaceTempView("gm_l")
    val q = spark.sql(
      "SELECT label, modularity FROM graph_modularity('gm_e', 'gm_l') " +
        "ORDER BY label").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(q.toSeq === Seq((1L, 35.0 / 196.0), (4L, 35.0 / 196.0)))
    // star K1,3 -> exactly -1
    Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
      .createOrReplaceTempView("ga_e")
    val a = spark.sql("SELECT * FROM graph_assortativity('ga_e')").collect()
    assert(a.length === 1 && a(0).getDouble(4) === -1.0)
    // acf: x=[1,2,3,4] at lag 1 -> 0.25 (the OperatorsSpec hand value)
    Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L), (1L, 4L, 4L))
      .toDF("k", "ord", "v").createOrReplaceTempView("acf_t")
    val c = spark.sql(
      "SELECT * FROM autocorrelation('acf_t', 'k', 'ord', 'v', 1)")
      .collect()
    assert(c.length === 1 && c(0).getDouble(5) === 0.25)
    assert(c(0).getLong(2) === 3L)
  }

  test("graph_louvain / seasonal_deviation TVFs equal the Scala operators") {
    // the GraphSearchSpec bridged-triangles fixture: ideal 2-community
    // partition (labels 2 and 6) after 4 parity half-sweeps
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L),
      (5L, 6L)).toDF("src", "dst").createOrReplaceTempView("gl_e")
    val labs = spark.sql(
      "SELECT * FROM graph_louvain('gl_e', 4) ORDER BY node").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labs === Map(1L -> 2L, 2L -> 2L, 3L -> 2L,
      4L -> 6L, 5L -> 6L, 6L -> 6L))
    // refine on the already-connected partition is the identity on
    // labels with component-min refined ids
    val ref = spark.sql(
      "SELECT * FROM graph_louvain_refine('gl_e', 4) ORDER BY node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ref.toSet === Set((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L),
      (4L, 6L, 4L), (5L, 6L, 4L), (6L, 6L, 4L)))
    // two-level on the bridged triangles: the bridge is too weak to merge
    // (dQ < 0 on the aggregate), so level 2 keeps the ideal partition
    val l2 = spark.sql(
      "SELECT * FROM graph_louvain2('gl_e', 4, 2) ORDER BY node").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2.values.toSet.size === 2 &&
      l2(1L) === l2(2L) && l2(2L) === l2(3L) &&
      l2(4L) === l2(5L) && l2(5L) === l2(6L))
    // seasonal: the OperatorsSpec hand case — day3 vs day1 alarms at 25%
    Seq((1L, 1L, 100L), (1L, 2L, 50L), (1L, 3L, 130L), (1L, 4L, 10L))
      .toDF("k", "ord", "v").createOrReplaceTempView("sd_t")
    val sd = spark.sql(
      "SELECT * FROM seasonal_deviation('sd_t', 'k', 'ord', 'v', 2, 1, 4)" +
        " ORDER BY ord").collect()
    assert(sd(0).get(3) === null && sd(0).get(5) === null)
    assert(sd(2).getLong(3) === 100L && sd(2).getLong(4) === 30L &&
      sd(2).getBoolean(5) === true)
  }

  test("graph_coreness / graph_wcc TVFs and the kmv_jaccard scalar equal the Scala operators") {
    // K4 + triangle + pendant: shells 3/2/1 (the GraphSearchSpec hand case)
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("src", "dst")
      .createOrReplaceTempView("gc_e")
    val shells = spark.sql(
      "SELECT * FROM graph_coreness('gc_e') ORDER BY node").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shells === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 2L, 6L -> 2L, 7L -> 1L))
    // two components, min-id labels
    Seq((5L, 2L), (2L, 9L), (7L, 8L)).toDF("src", "dst")
      .createOrReplaceTempView("wcc_e")
    val comps = spark.sql("SELECT * FROM graph_wcc('wcc_e') ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 7L -> 7L, 8L -> 7L))
    // katz: directed path 1->2->3 at depth 2 (the GraphSearchSpec values)
    Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      .createOrReplaceTempView("kz_e")
    val kz = spark.sql("SELECT * FROM graph_katz('kz_e', 2) ORDER BY node")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(kz.toSeq === Seq((1L, 0.0), (2L, 0.5), (3L, 0.75)))
    // the scalar: the OperatorsSpec hand sketches through pure SQL
    val j = spark.sql(
      "SELECT kmv_jaccard(array(1L, 2L, 5L, 9L), array(2L, 3L, 5L, 11L), 4)")
      .collect()(0).getDouble(0)
    assert(j === 0.5)
    assert(spark.sql("SELECT kmv_jaccard(array(), array(), 4)")
      .collect()(0).isNullAt(0))
  }

  test("kmv_distinct / kmv_sliding TVFs equal the Scala operators, both mixers") {
    import org.apache.spark.sql.functions.{col, size}
    import graft.operators.Kmv
    // 2 groups, 5 distinct values each (k=8 unsaturated -> exact counts)
    (for (g <- Seq("a", "b"); v <- 1L to 5L) yield (g, v * 7L + g.length))
      .toDF("g", "v").createOrReplaceTempView("kmv_t")
    for (mixer <- Seq("lcg", "xx")) {
      val viaSql = spark.sql(
        s"SELECT * FROM kmv_distinct('kmv_t', 'g', 'v', 8, '$mixer') ORDER BY g")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(viaSql.toSeq === Seq(("a", 5L, 5.0), ("b", 5L, 5.0)),
        s"mixer=$mixer: ${viaSql.toSeq}")
    }
    // sliding: 3 days x overlapping users, window 2; TVF vs API value-equal
    Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L), (3L, 13L))
      .toDF("d", "u").createOrReplaceTempView("kmv_s")
    val viaSql = spark.sql(
      "SELECT * FROM kmv_sliding('kmv_s', 'd', 'u', 2, 8, 'xx') " +
        "WHERE n_periods = 2 ORDER BY d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val viaApi = Kmv.mergeTrailing(
        Kmv.sketch(spark.table("kmv_s"), Seq("d"), "u", 8, Kmv.hashXx),
        "d", 2, 8)
      .filter(col("n_periods") === 2)
      .select(col("d"), col("n_periods"),
        size(col("kmv")).cast("long").as("n_kept"),
        Kmv.estimate(col("kmv"), 8, Kmv.XxModulus).as("est_distinct"))
      .orderBy("d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(viaSql.toSeq === viaApi.toSeq)
    // day 2's trailing-2 window = users {10,11,12} (unsaturated -> exact 3)
    assert(viaSql.head === ((2L, 2L, 3L, 3.0)))
    // a bad mixer name is rejected with a named diagnostic
    val bad = intercept[Exception](
      spark.sql("SELECT * FROM kmv_distinct('kmv_t', 'g', 'v', 8, 'md5')"))
    assert(bad.getMessage.contains("mixer"), bad.getMessage)
  }

  test("theta set algebra is callable from pure SQL, exact in the small regime") {
    // Spark 4 registers the theta family natively (theta_sketch_agg etc.) —
    // GraftExtensions deliberately injects nothing here (shadowing the
    // built-ins would replace codegen'd kernels with duplicates); this test
    // pins that the native surface carries the q123/q124 algebra end-to-end.
    Seq.range(1L, 11L).toDF("k").createOrReplaceTempView("ta")   // {1..10}
    Seq.range(6L, 16L).toDF("k").createOrReplaceTempView("tb")   // {6..15}
    val r = spark.sql(
      """WITH sa AS (SELECT theta_sketch_agg(k) s FROM ta),
        |     sb AS (SELECT theta_sketch_agg(k, 10) s FROM tb),
        |     m AS (SELECT theta_sketch_estimate(theta_union_agg(s)) nm
        |           FROM (SELECT s FROM sa UNION ALL SELECT s FROM sb))
        |SELECT
        |  theta_sketch_estimate(sa.s) AS na,
        |  theta_sketch_estimate(theta_intersection(sa.s, sb.s)) AS ni,
        |  theta_sketch_estimate(theta_union(sa.s, sb.s)) AS nu,
        |  theta_sketch_estimate(theta_difference(sa.s, sb.s)) AS nd,
        |  m.nm
        |FROM sa, sb, m""".stripMargin).collect()(0)
    assert(r.getLong(0) === 10L) // |A|
    assert(r.getLong(1) === 5L)  // |A ∩ B| = {6..10}
    assert(r.getLong(2) === 15L) // |A ∪ B| = {1..15}
    assert(r.getLong(3) === 5L)  // |A \ B| = {1..5}
    assert(r.getLong(4) === 15L) // union-agg over both sketches
  }

  test("HammingJoinRewrite: naive cross-join form plans banded, output multiplicity-exact") {
    // planted fingerprints exercising every clause of the rewrite proof:
    //  - (1,101): hamming 0 — agrees on ALL bands, must still appear ONCE
    //  - (2,102): hamming 2 — within budget via a single band
    //  - (3,103): hamming 3 — outside budget, must not appear
    //  - 4 has a NULL fp — never pairs (NULL drops in every branch)
    //  - 5 appears TWICE on the left — multiplicity 2 against its match
    val left = Seq(
      (1L, Option(0x0F0FL)), (2L, Option(0xFF00L)), (3L, Option(0x1234L)),
      (4L, Option.empty[Long]), (5L, Option(0x7777L)), (5L, Option(0x7777L))
    ).toDF("ida", "fpa")
    val right = Seq(
      (101L, Option(0x0F0FL)), (102L, Option(0xFF03L)),
      (103L, Option(0x1234L ^ 0x0700L)), (105L, Option(0x7776L))
    ).toDF("idb", "fpb")
    val naive = left.crossJoin(right)
      .filter(bit_count(col("fpa").bitwiseXOR(col("fpb"))) <= 2)
      .select("ida", "idb")
    val p = naive.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the rewrite must remove the all-pairs stage:\n" + p)
    assert(p.contains("Union"), "banded branches must union:\n" + p)
    val got = naive.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(got === Map(
      (1L, 101L) -> 1, // all-bands agreement still exactly once
      (2L, 102L) -> 1,
      (5L, 105L) -> 2  // duplicate left row keeps its multiplicity
    ))
  }

  test("HammingJoinRewrite: joins that already carry an equi-key are left alone") {
    val left = Seq((1L, 7L, 0x0FL)).toDF("ida", "ka", "fpa")
    val right = Seq((2L, 7L, 0x0EL)).toDF("idb", "kb", "fpb")
    val joined = left.join(right,
      col("ka") === col("kb") &&
        bit_count(col("fpa").bitwiseXOR(col("fpb"))) <= 2)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Union"),
      "an existing equi-key means the planner already hash-joins — no rewrite:\n" + p)
    assert(joined.count() === 1L)
  }

  test("SQL registration rejects non-literal shape parameters") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array('a'), 1 + 1)").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("saltedCollectSet deduplicates across salt buckets") {
    val df = ((1 to 300).map(i => ("hot", i % 10)) ++ Seq(("cold", 99))).toDF("k", "v")
    val out = Skew.saltedCollectSet(df, Seq("k"), col("v"), "vs", salt = 4)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).sorted).toMap
    assert(out("hot") === (0 until 10))
    assert(out("cold") === Seq(99))
  }
}
