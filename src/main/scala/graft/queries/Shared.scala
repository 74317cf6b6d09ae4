package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Loaders, fixtures and oracle CTEs that more than one query family
  * uses. */
object Shared {

  private[queries] val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[queries] def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Event user ids keyed by epoch day (`key`), the KMV queries' input. */
  private[queries] def userDays(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
        .as("key"), col("user_id"))

  /** The q161 feature set — the SHARED canonical recipe
    * ([[graft.operators.Classifier.heuristicPageFeatures]]): the oracled
    * queries, the `quality_lr_scores` TVF, and the specs all read the one
    * definition so they can never silently diverge. */
  private[queries] def classifierFeatures: Seq[(String, org.apache.spark.sql.Column)] =
    graft.operators.Classifier.heuristicPageFeatures(col("text"))

  /** Planted ANN corpus for the LSH/IVF fixture oracles (q47/q48): 4
    * orthogonal clusters × 4 members in 8 dims. Member j of cluster c is
    * e_c + δ_j·e_{4+c} with δ ∈ {0, 0.125, 0.25, 0.375} — every constant
    * exactly representable in BOTH float and double, so Spark's
    * float→double cosine arithmetic and DuckDB's double arithmetic see the
    * same operands (and with ≤2 nonzero components every dot product is an
    * exact binary fraction: no summation-order sensitivity). Clusters have
    * disjoint support → cross-cluster cosine is exactly 0, within-cluster
    * ≥ 0.936: each vector's true top-3 is its 3 cluster-mates, so an
    * approximate kernel that respects the planted structure must emit the
    * EXACT kNN answer — which DuckDB recomputes independently. */
  private[graft] def annFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    val deltas = Array(0f, 0.125f, 0.25f, 0.375f)
    (for { c <- 0 until 4; j <- 0 until 4 } yield {
      val v = new Array[Float](8)
      v(c) = 1f
      v(4 + c) = deltas(j)
      ((c * 4 + j).toLong, v.toSeq)
    }).toDF("vec_id", "embedding")
  }

  /** The per-user consecutive-event transition graph q140/q146 rank:
    * nodes are `props.k` entity keys, edge weight = transition count. */
  private[queries] def eventsTransitionEdges(s: SparkSession, dir: String,
      before: Option[String] = None): DataFrame = {
    val ev0 = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("node"))
      .filter(col("node").isNotNull)
    val ev = before.fold(ev0)(c => ev0.filter(col("ts") < lit(c).cast("timestamp")))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.select(col("node").as("src"), lead(col("node"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** The TOP-3 AFFINITY graph for q175/q176: per source node, its 3
    * strongest transition neighbors by (count desc, dst) — the kNN-graph
    * construction every similarity/link pipeline builds before community
    * or core analysis. The point of the rank cap: the RAW transition graph
    * densifies with data volume (it is literally complete — K100 — at
    * sf0.1, where every microstructure signal degenerates to the clique
    * value), while a rank-k graph is degree-bounded BY CONSTRUCTION, so
    * core/clustering structure stays meaningful at any corpus scale — the
    * same reason production ANN/affinity pipelines core the kNN graph, not
    * the raw co-occurrence matrix. Ranking is a total order (count desc,
    * dst) — both engines pick identical edges. */
  private[graft] def affinityTopEdges(s: SparkSession, dir: String,
      n: Int = 3, before: Option[String] = None): DataFrame = {
    val w = eventsTransitionEdges(s, dir, before)
      .filter(col("src") =!= col("dst"))
    w.withColumn("__rn", row_number().over(
        Window.partitionBy("src").orderBy(col("w").desc, col("dst"))))
      .filter(col("__rn") <= n)
      .select("src", "dst")
  }

  /** The q175/q176 oracle base: the identical top-3 affinity construction
    * in DuckDB, ending in `und(u, v)` canonical undirected edges. */
  private[queries] val affinityEdgesCte: String =
    """ev AS MATERIALIZED (
      |  SELECT user_id, ts, event_id,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
      |  FROM events),
      |tr AS MATERIALIZED (
      |  SELECT node AS src,
      |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM ev WHERE node IS NOT NULL),
      |wts AS MATERIALIZED (
      |  SELECT src, dst, count(*) AS w FROM tr
      |  WHERE dst IS NOT NULL AND src <> dst GROUP BY 1, 2),
      |top3 AS MATERIALIZED (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
      |    FROM wts) WHERE rn <= 3),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM top3)""".stripMargin

  /** The k (and unroll depth) for q176: on the degree-bounded affinity
    * graph the 4-core forces REAL peel cascades at every SF (measured 4–6
    * waves, cores of 55/85/91 nodes at the three SFs — the 3-core keeps
    * everything, out-degree is 3 by construction), so 16 layers carry a
    * ~3× margin; the Spark loop asserts its converged count fits. */
  private[queries] val KCoreK = 4

  private[queries] val KCoreOracleLayers = 16

  /** q209's oracle bounds: chains for k = 2..[[CorenessMaxK]] at
    * [[CorenessLayers]] unrolled peel layers each. Degeneracy measured 4
    * at every SF with per-k waves ≤ 7 (`tools/ProbeCoreness.scala` at
    * `0ab6ae2`) — K = 6 and 12
    * layers carry the margin; the query asserts both. */
  private[queries] val CorenessMaxK = 6

  private[queries] val CorenessLayers = 12

  /** q213's greedy-move half-sweep count — fixed BY CONTRACT like
    * [[GraphQueries.LpaRounds]] (the registered semantics is "greedy modularity basins
    * after exactly 6 parity half-sweeps" — 3 full passes — which the
    * oracle unrolls). */
  private[queries] val LouvainSweeps = 6

  /** q195's truss order and oracle unroll depth. k = 4 on the TOP-8
    * affinity graph peels in real cascades (11–14 waves measured across
    * the SFs, 221–262 surviving edges) — the top-3 graph's 4-truss is
    * empty and its 3-truss peels in one wave, neither of which exercises
    * the operator; the query asserts its wave count fits the unroll. */
  private[queries] val TrussK = 4

  private[queries] val TrussOracleLayers = 16

  /** The q188/q175-style affinity CTE at rank 8 (separate aliases so the
    * shared top-3 CTE stays byte-stable for its established oracles). */
  private[queries] val affinityEdgesCteTop8: String =
    """ev8 AS MATERIALIZED (
      |  SELECT user_id, ts, event_id,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
      |  FROM events),
      |tr8 AS MATERIALIZED (
      |  SELECT node AS src,
      |    lead(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM ev8 WHERE node IS NOT NULL),
      |wts8 AS MATERIALIZED (
      |  SELECT src, dst, count(*) AS w FROM tr8
      |  WHERE dst IS NOT NULL AND src <> dst GROUP BY 1, 2),
      |top8 AS MATERIALIZED (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
      |    FROM wts8) WHERE rn <= 8),
      |und8 AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM top8)""".stripMargin

  /** The q188 (and q204) oracle: mutual reachability as a depth-free
    * recursive closure over the DIRECTED top-3 edges (the affinity CTE's
    * `top3`, not `und`) — scc = min over the mutually-reachable set
    * including self. Shared verbatim by the full-recompute row (q188) and
    * the incremental-maintenance row (q204): output-invariance. */
  private[queries] def sccClosureOracleSql: String =
    s"WITH RECURSIVE $affinityEdgesCte,\n" +
      """de AS (SELECT src AS u, dst AS v FROM top3),
        |reach AS (
        |  SELECT u, v FROM de
        |  UNION
        |  SELECT r.u, de.v FROM reach r JOIN de ON de.u = r.v),
        |nd AS (SELECT DISTINCT u AS node FROM
        |        (SELECT u FROM de UNION ALL SELECT v FROM de) t(u)),
        |mutual AS (
        |  SELECT a.u AS n, a.v AS m
        |  FROM reach a JOIN reach b ON b.u = a.v AND b.v = a.u),
        |pairs AS (SELECT n, m FROM mutual
        |          UNION ALL SELECT node, node FROM nd)
        |SELECT n AS node, min(m) AS scc_id
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q195 oracle: unrolled truss peel layers. Per layer, triangles are
    * enumerated once each on the canonical node order (x<y<z via two
    * ordered joins — the same triangle set Spark's degree-ordered
    * orientation finds), exploded to their three edges, counted, and the
    * filter keeps support ≥ k−2; one extra support layer at the end
    * states each fixpoint edge's final support. All MATERIALIZED, all
    * integer arithmetic. */
  private[queries] def trussOracleSql(k: Int, layers: Int): String = {
    val base =
      s"""WITH $affinityEdgesCteTop8,
         |e0 AS MATERIALIZED (SELECT u, v FROM und8)""".stripMargin
    def triAndSup(i: Int) =
      s"""tri$i AS MATERIALIZED (
         |  SELECT a.u AS x, a.v AS y, b.v AS z
         |  FROM e${i - 1} a JOIN e${i - 1} b ON b.u = a.u AND b.v > a.v
         |  JOIN e${i - 1} c ON c.u = a.v AND c.v = b.v),
         |s$i AS MATERIALIZED (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
         |    SELECT x AS u, y AS v FROM tri$i
         |    UNION ALL SELECT x AS u, z AS v FROM tri$i
         |    UNION ALL SELECT y AS u, z AS v FROM tri$i) t
         |  GROUP BY 1, 2)""".stripMargin
    val chain = (1 to layers).map { i =>
      s"""${triAndSup(i)},
         |e$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${i - 1} e
         |  JOIN s$i s ON s.u = e.u AND s.v = e.v
         |  WHERE s.sup >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$chain,
       |${triAndSup(layers + 1)}
       |SELECT e.u, e.v, s.sup AS support
       |FROM e$layers e JOIN s${layers + 1} s ON s.u = e.u AND s.v = e.v
       |ORDER BY 1, 2""".stripMargin
  }

  /** The q176 oracle: unrolled peel layers over the [[affinityEdgesCte]]
    * base graph. Every layer is MATERIALIZED (referenced twice — degree
    * rollup and the edge filter — and chained; DuckDB's default inlining
    * would expand the chain exponentially). All integer arithmetic. */
  /** The q209 oracle: the q176 peel-layer pattern GRADED — one fixed-depth
    * chain per k in 2..maxK, each seeded by the previous k's fixpoint (the
    * nesting property: k-core(G) = k-core((k−1)-core)), shells unioned and
    * maxed. Any per-k unroll ≥ that k's converged wave count (asserted
    * in-query via [[graft.operators.KCore.corenessWithStats]]) yields the
    * identical fixpoints. */
  private[queries] def corenessOracleSql(maxK: Int, layers: Int): String = {
    val base =
      s"""WITH $affinityEdgesCte,
         |k1e$layers AS MATERIALIZED (SELECT u, v FROM und)""".stripMargin
    val chains = (2 to maxK).map { k =>
      val seed =
        s"""k${k}e0 AS MATERIALIZED (
           |  SELECT u, v FROM k${k - 1}e$layers)""".stripMargin
      val chain = (1 to layers).map { i =>
        s"""k${k}a$i AS MATERIALIZED (
           |  SELECT node FROM (
           |    SELECT u AS node FROM k${k}e${i - 1}
           |    UNION ALL SELECT v FROM k${k}e${i - 1})
           |  GROUP BY node HAVING count(*) >= $k),
           |k${k}e$i AS MATERIALIZED (
           |  SELECT u, v FROM k${k}e${i - 1}
           |  WHERE u IN (SELECT node FROM k${k}a$i)
           |    AND v IN (SELECT node FROM k${k}a$i))""".stripMargin
      }.mkString(",\n")
      s"$seed,\n$chain"
    }.mkString(",\n")
    val shells = (2 to maxK).map { k =>
      s"""SELECT node, $k AS k FROM (
         |  SELECT u AS node FROM k${k}e$layers
         |  UNION SELECT v FROM k${k}e$layers)""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""$base,
       |$chains
       |SELECT node, CAST(max(k) AS BIGINT) AS coreness FROM (
       |  SELECT node, 1 AS k FROM (
       |    SELECT u AS node FROM und UNION SELECT v FROM und)
       |  UNION ALL $shells)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  private[queries] def kcoreOracleSql(k: Int, layers: Int): String = {
    val base =
      s"""WITH $affinityEdgesCte,
         |e0 AS MATERIALIZED (SELECT u, v FROM und)""".stripMargin
    val chain = (1 to layers).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT u AS node FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
         |  GROUP BY node HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT node FROM a$i) AND v IN (SELECT node FROM a$i))""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$chain
       |SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM (
       |  SELECT u AS node FROM e$layers UNION ALL SELECT v FROM e$layers)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** Best-effort recursive delete of a query-scoped temp directory (the
    * streaming sources write one per invocation; leaving them accumulates
    * disk across correctness runs). Best-effort: a failed delete must never
    * fail the already-computed query. */
  private[queries] def deleteDirTree(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rec)
      f.delete(): Unit
    }
    try rec(new java.io.File(path)) catch { case _: Exception => () }
  }

  /** The k the q190 KMV sketch keeps. 64 saturates on every day at
    * sf0.01+ (hundreds of distinct users/day), exercising the ESTIMATOR
    * path, and stays UNSATURATED at sf0.001 (15 users), exercising the
    * exact path — both branches driver-verified; hand-data pins are in
    * OperatorsSpec. */
  private[queries] val KmvK = 64

  /** The KMV oracles' inputs, from inside an `e` CTE: the body of `e` (user
    * ids keyed by epoch day), `h` (the distinct 31-bit LCG hash per key, the
    * non-negative residue mirroring Spark's pmod) and `r` (hash ranks per
    * key). */
  private[queries] val kmvDayHashesSql: String =
    """|  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |    AS BIGINT) AS key, user_id FROM events),
      |h AS (
      |  SELECT DISTINCT key,
      |    (1103515245 * (((user_id % 2147483648) + 2147483648)
      |       % 2147483648) + 12345) % 2147483648 AS h
      |  FROM e),
      |r AS (SELECT key, h,
      |        row_number() OVER (PARTITION BY key ORDER BY h) AS rn
      |      FROM h),""".stripMargin

  /** The q41 curation gate's `base` CTE body over `documents`: stopword hits
    * per language and the token, char and punctuation counts; it ends by
    * opening the `feat` CTE. */
  private[queries] val curationBaseSql: String =
    """|  SELECT doc_id, text,
      |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b')) AS en,
      |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b')) AS es,
      |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b')) AS de,
      |    len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS fr,
      |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |         ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
      |    length(coalesce(text, '')) AS n_chars,
      |    length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS n_punct
      |  FROM documents),
      |feat AS (""".stripMargin

  /** The q41 gate's language and quality columns over the `curationBaseSql`
    * counts: `lang_pred` (the q17 mirror) and `quality_score` (the q18
    * mirror), inside `feat`'s select list. */
  private[queries] val curationFeatSql: String =
    """|    CASE
      |      WHEN length(regexp_replace(coalesce(text, ''), '[^\x{4e00}-\x{9fff}]', '', 'g')) * 5
      |           > length(coalesce(text, '')) THEN 'zh'
      |      WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
      |      WHEN en >= es AND en >= de AND en >= fr THEN 'en'
      |      WHEN es >= de AND es >= fr THEN 'es'
      |      WHEN de >= fr THEN 'de'
      |      ELSE 'fr' END AS lang_pred,
      |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
      |      + CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 0.3 ELSE 0.0 END
      |      + CASE WHEN (en + es + de + fr) > 0 THEN 0.2 ELSE 0.0 END
      |      + CASE WHEN n_punct > 0 THEN 0.1 ELSE 0.0 END AS quality_score,""".stripMargin

  /** The whitespace tokenizer every text oracle mirrors: [[graft.functions.Text.tokens]]
    * over `text`, as a DuckDB list. */
  private[queries] val tokensSql: String =
    """regexp_split_to_array(lower(trim(coalesce(text,''))), '[ \t\n\f\r]+')"""

  /** The q18 quality-score feature columns over `text` (token, char, stopword
    * and punctuation counts), the body of a derived table's select list. */
  private[queries] val qualityFeatures: String =
    """|          CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |               ELSE len(regexp_split_to_array(lower(trim(coalesce(text, ''))), '[ \t\n\f\r]+')) END AS n_tokens,
      |          length(coalesce(text, '')) AS n_chars,
      |          len(regexp_extract_all(lower(coalesce(text, '')), '\b(the|and|of|to|in|is|a)\b'))
      |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(el|la|los|las|de|que|y|en)\b'))
      |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(der|die|und|das|ist|von|den)\b'))
      |          + len(regexp_extract_all(lower(coalesce(text, '')), '\b(le|les|et|des|est|un|une)\b')) AS stop_hits,
      |          length(regexp_replace(coalesce(text, ''), '[^.!?]', '', 'g')) AS n_punct""".stripMargin

  /** The q161 oracle: REPLAY the gradient-descent training loop, unrolled
    * one CTE layer per step, then score with the learned weights.
    * Feature/label mirrors are q16's and q73's (proven); the linear term's
    * left-fold association, the softsign link's operation order, the
    * round-6dp-then-DECIMAL gradient contributions, and the
    * `w − 0.5·(g/n)` update chain each mirror the Spark side token for
    * token — see [[TextQueries.qualityClassifier]]'s Scaladoc for why the weights come
    * out bit-identical rather than approximately equal. */
  private[queries] def classifierOracleSql(iters: Int): String = {
    val xs = Seq("1.0", "x1", "x2", "x3", "x4")
    def z(w: String) =
      s"(((($w.w0 + (f.x1 * $w.w1)) + (f.x2 * $w.w2)) + (f.x3 * $w.w3)) + (f.x4 * $w.w4))"
    def p(w: String) = s"(0.5 * (1.0 + ${z(w)} / (1.0 + abs(${z(w)}))))"
    def layer(k: Int): String = {
      val prev = s"wgt${k - 1}"
      val err = s"(round(${p(prev)}, 6) - f.y)"
      val sums = xs.zipWithIndex.map { case (x, i) =>
        val c = if (x == "1.0") s"$err * 1.0" else s"$err * f.$x"
        s"SUM(CAST(round($c, 6) AS DECIMAL(28,6))) AS g$i"
      }.mkString(",\n        |    ")
      val upd = xs.indices.map { i =>
        s"$prev.w$i - 0.5 * (CAST(grad$k.g$i AS DOUBLE) / CAST(grad$k.n AS DOUBLE)) AS w$i"
      }.mkString(",\n        |    ")
      s"""grad$k AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    $sums
        |  FROM f CROSS JOIN $prev),
        |wgt$k AS (
        |  SELECT
        |    $upd
        |  FROM grad$k CROSS JOIN $prev)"""
    }
    val body = (1 to iters).map(layer).mkString(",\n        |")
    s"""WITH raw AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |cnt AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(t) = '' THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(t)), '[ \\t\\n\\f\\r]+')) END AS n_tokens,
        |    length(t) AS n_chars,
        |    length(regexp_replace(t, '[^.!?]', '', 'g')) AS n_punct,
        |    len(list_filter(string_split(t, chr(10)), x ->
        |      regexp_matches(trim(x), '[.!?]$$')
        |      AND len(regexp_split_to_array(trim(x), '[ \\t]+')) >= 5
        |      AND trim(x) <> ''
        |      AND NOT contains(lower(x), 'javascript'))) AS n_good,
        |    contains(t, '{') AS has_brace,
        |    contains(lower(t), 'lorem ipsum') AS has_lorem
        |  FROM raw),
        |f AS (
        |  SELECT doc_id,
        |    CAST(n_tokens AS DOUBLE) / 1024.0 AS x1,
        |    CAST(n_chars AS DOUBLE) / 4096.0 AS x2,
        |    CAST(n_punct AS DOUBLE) / 64.0 AS x3,
        |    CAST(n_good AS DOUBLE) / 16.0 AS x4,
        |    CASE WHEN n_good >= 3 AND NOT has_brace AND NOT has_lorem
        |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y
        |  FROM cnt),
        |wgt0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4),
        |$body
        |SELECT f.doc_id, CAST(f.y AS BIGINT) AS label,
        |  round(${p(s"wgt$iters")}, 6) AS score,
        |  round(${p(s"wgt$iters")}, 6) >= 0.5 AS predicted
        |FROM f CROSS JOIN wgt$iters ORDER BY f.doc_id""".stripMargin
  }
}
