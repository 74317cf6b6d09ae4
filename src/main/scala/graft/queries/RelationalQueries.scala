package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Loops

/** Relational and TPC-H-shaped queries over the lake tables: grouped and
  * multi-granularity aggregation, joins, percentiles, range joins, the
  * write-layout lifecycles (bucketing, Z-order, compaction) and table
  * profiles. */
object RelationalQueries extends QueryFamily {
  import Shared._

  /** A1-style grouped aggregation (pricing summary, TPC-H Q1 shape). */
  def aggPricing(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  query("q01_agg_pricing", aggPricing, bench = true, oracle = OracleSql(
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** J1/J2-style dim lookups: orders → customer → nation, revenue per nation.
    * nation is broadcast by HINT (25 rows by schema, scale-independent);
    * customer is left to the planner's size-based choice — BHJ at bench SFs
    * (pinned), SMJ on custkey once a full-scale customer exceeds the
    * threshold. Forcing a broadcast on a table that grows with the data is
    * an executor OOM at 100×, not a plan improvement. */
  def joinAggNation(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("order_cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("n_name")
  query("q02_join_agg_nation", joinAggNation, bench = true, oracle = OracleSql(
    """SELECT n_name, COUNT(*) AS order_cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** MULTI-GRANULARITY rollup in ONE pass — `CUBE(nation, year)`: detail
    * rows, per-nation and per-year subtotals, and the grand total from a
    * single aggregation (Catalyst expands the grouping sets inside one
    * shuffle with partial aggregation — at 100 TB this replaces four
    * separate scans+rollups). `grouping_id()` disambiguates a genuine NULL
    * group key from a subtotal row (both engines use the same MSB-first
    * bitmask — probed); revenue rides DECIMAL (order-independent, exact);
    * ordering is pinned NULLS FIRST explicitly because Spark and DuckDB
    * default opposite null orders. */
  def salesCube(s: SparkSession, dir: String): DataFrame = {
    // built via spark.sql: Spark 4.1's ambiguous-self-join detector
    // misfires on Dataset-API cube()+grouping_id() (the Expand duplicates
    // attribute ids); the SQL path plans the identical Expand+Aggregate
    T(s, dir, "orders").createOrReplaceTempView("q157_orders")
    T(s, dir, "customer").createOrReplaceTempView("q157_customer")
    T(s, dir, "nation").createOrReplaceTempView("q157_nation")
    // materialize, then release the catalog entries (the q142 hygiene):
    // lingering views would clobber same-named user views and pin the last
    // `dir` for any later resolver
    val out = Loops.checkpoint(s.sql(
      """SELECT n_name, year(o_orderdate) AS order_year,
        |  grouping_id() AS gid,
        |  count(*) AS order_cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM q157_orders o
        |JOIN q157_customer c ON o.o_custkey = c.c_custkey
        |JOIN q157_nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY CUBE(n_name, year(o_orderdate))
        |ORDER BY gid, n_name ASC NULLS FIRST, order_year ASC NULLS FIRST""".stripMargin),
      eager = true)
    Seq("q157_orders", "q157_customer", "q157_nation")
      .foreach(s.catalog.dropTempView(_): Unit)
    out
  }
  // q157: DuckDB CUBE + GROUPING share Spark's MSB-first bitmask; NULLS
  // FIRST pinned on both sides (the engines default opposite).
  query("q157_sales_cube", salesCube, bench = true, oracle = OracleSql(
    """SELECT n.n_name, year(o.o_orderdate) AS order_year,
      |  CAST(GROUPING(n.n_name, year(o.o_orderdate)) AS BIGINT) AS gid,
      |  CAST(count(*) AS BIGINT) AS order_cnt,
      |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY CUBE(n.n_name, year(o.o_orderdate))
      |ORDER BY gid, n_name NULLS FIRST, order_year NULLS FIRST""".stripMargin))

  /** EXACT per-group median revenue — the holistic complement of q35's
    * mergeable approx_percentile: `median` is an O(group) sort-based
    * aggregate (the exact answer costs the group in one buffer — the
    * documented price; q35 IS the 100 TB scale path, this row pins the
    * exact semantics the sketch approximates). Both engines interpolate
    * even-sized groups with different-but-equivalent float forms
    * ((a+b)/2 vs a+(b−a)·0.5), so the value rounds 6dp (q94 policy). */
  def medianRevenue(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("order_cnt"),
        round(median(col("o_totalprice").cast("double")), 6).as("median_revenue"))
      .orderBy("n_name")
  // q158: DuckDB median on DOUBLE = exact interpolated quantile_cont 0.5;
  // the engines' interpolation forms differ by an ulp — 6dp absorbs.
  query("q158_median_revenue", medianRevenue, bench = true, oracle = OracleSql(
    """SELECT n.n_name, CAST(count(*) AS BIGINT) AS order_cnt,
      |  round(CAST(median(CAST(o.o_totalprice AS DOUBLE)) AS DOUBLE), 6)
      |    AS median_revenue
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin))

  /** GROUPING SETS — the non-hierarchical multi-granularity rollup q157's
    * CUBE cannot express minimally: per-nation totals, per-year totals, and
    * the grand total from ONE scan+shuffle (three independent groupings
    * Catalyst expands inside one aggregate — at 100 TB this replaces three
    * separate rollups), WITHOUT paying for the (nation, year) detail cells
    * CUBE would add. Same Expand machinery, bitmask, DECIMAL routing, and
    * pinned NULLS FIRST ordering as q157. */
  def groupingSetsRevenue(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "orders").createOrReplaceTempView("q180_orders")
    T(s, dir, "customer").createOrReplaceTempView("q180_customer")
    T(s, dir, "nation").createOrReplaceTempView("q180_nation")
    val out = Loops.checkpoint(s.sql(
      """SELECT n_name, year(o_orderdate) AS order_year,
        |  grouping_id() AS gid,
        |  count(*) AS order_cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM q180_orders o
        |JOIN q180_customer c ON o.o_custkey = c.c_custkey
        |JOIN q180_nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (year(o_orderdate)), ())
        |ORDER BY gid, n_name ASC NULLS FIRST, order_year ASC NULLS FIRST"""
        .stripMargin), eager = true)
    Seq("q180_orders", "q180_customer", "q180_nation")
      .foreach(s.catalog.dropTempView(_): Unit)
    out
  }
  // q180: DuckDB GROUPING SETS shares Spark's Expand expansion and
  // MSB-first grouping_id bitmask (probed at q157); NULLS FIRST pinned.
  query("q180_grouping_sets", groupingSetsRevenue, bench = true, oracle = OracleSql(
    """SELECT n.n_name, year(o.o_orderdate) AS order_year,
      |  CAST(GROUPING(n.n_name, year(o.o_orderdate)) AS BIGINT) AS gid,
      |  CAST(count(*) AS BIGINT) AS order_cnt,
      |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY GROUPING SETS ((n.n_name), (year(o.o_orderdate)), ())
      |ORDER BY gid, n_name NULLS FIRST, order_year NULLS FIRST""".stripMargin))

  /** TABLE CONTENT FINGERPRINT ([[graft.operators.TableDigest]]): the
    * order/partition-independent integrity digest of lineitem's
    * engine-portable columns — the one-scan, one-row, 8-byte-compare
    * answer to "did the migration/copy/backfill lose or corrupt
    * anything?" at 100 TB (no sort, no data shuffle, no row-level
    * anti-join; the digest sums exact 60-bit row hashes in DECIMAL, so
    * commutativity makes it layout-independent BY CONSTRUCTION). The
    * oracle recomputes the identical md5/hex/sum arithmetic in DuckDB —
    * which is the operator's whole point: migration source and target
    * rarely run the same engine. l_shipdate routes through DATE (its
    * 'YYYY-MM-DD' rendering is engine-portable; raw timestamp/double
    * formatting is not — the documented canonicalization contract). */
  def tableDigest(s: SparkSession, dir: String): DataFrame =
    graft.operators.TableDigest.digest(
      T(s, dir, "lineitem")
        .withColumn("ship_day", col("l_shipdate").cast("date")),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus", "ship_day"))
  // q183: the identical md5 / 15-hex-char / 60-bit / DECIMAL-sum
  // arithmetic — chr(1)/chr(3) are the operator's separator/sentinel.
  query("q183_table_digest", tableDigest, bench = true, oracle = OracleSql(
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(CAST('0x' || substr(md5(concat_ws(chr(1),
      |    coalesce(CAST(l_orderkey AS VARCHAR), chr(3)),
      |    coalesce(CAST(l_partkey AS VARCHAR), chr(3)),
      |    coalesce(CAST(l_suppkey AS VARCHAR), chr(3)),
      |    coalesce(CAST(l_linenumber AS VARCHAR), chr(3)),
      |    coalesce(CAST(l_returnflag AS VARCHAR), chr(3)),
      |    coalesce(CAST(l_linestatus AS VARCHAR), chr(3)),
      |    coalesce(CAST(CAST(l_shipdate AS DATE) AS VARCHAR), chr(3)))),
      |    1, 15) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS digest
      |FROM lineitem""".stripMargin))

  /** Bucketed-layout CO-LOCATED join, oracled END-TO-END
    * ([[graft.io.TableStore.overwriteBucketed]]): write lineitem and orders
    * hash-bucketed AND sorted on the join key (staged-swap, failure-atomic),
    * then join the bucketed reads — Spark plans the fact-fact join with
    * ZERO shuffle exchange and ZERO sort on either side (bucket locality +
    * sorted buckets replace both; pinned in PlanSpec's bucketed-join test
    * on this exact shape). At 100 TB this is the dominant-cost conversion:
    * the repeated per-query fact-fact shuffle becomes a one-time write-time
    * layout decision amortized over every subsequent join. The oracle
    * checks the whole lifecycle — write → catalog swap → bucket-preserving
    * read → join → aggregate — against the plain logical join, so a layout
    * bug (bucket misassignment, a lost row in the swap) is a hash mismatch,
    * not a silent wrong plan. Catalog entries and generation files are
    * released after materialization (the q142 hygiene). */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("bucketed").toString
    val store = new graft.io.TableStore(s, root)
    try {
      store.overwriteBucketed("li",
        T(s, dir, "lineitem").select(
          "l_orderkey", "l_extendedprice", "l_discount"),
        16, Seq("l_orderkey"), Seq("l_orderkey"))
      store.overwriteBucketed("ord",
        T(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        16, Seq("o_orderkey"), Seq("o_orderkey"))
      Loops.checkpoint(store.readBucketed("li")
        .join(store.readBucketed("ord"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(
          count(lit(1)).as("line_cnt"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy("order_year"),
        eager = true) // materialize before the files are released
    } finally {
      // failure-isolated: a throw from one drop must not strand the other's
      // catalog entry, and never mask the original exception
      try store.dropBucketed("li") catch { case _: Exception => () }
      try store.dropBucketed("ord") catch { case _: Exception => () }
      deleteDirTree(root) // the temp root itself — benched queries re-run
    }
  }
  // q162: the oracle is the PLAIN logical join — the Spark side must
  // produce the identical result THROUGH the bucketed write/read
  // lifecycle (layout is an optimization, never a semantic).
  query("q162_bucketed_join", bucketedJoin, bench = true, oracle = OracleSql(
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  CAST(count(*) AS BIGINT) AS line_cnt,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
      |    AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Z-ORDER-on-write layout, lifecycle ORACLED
    * ([[graft.io.TableStore.overwriteZOrdered]]): lineitem rewritten
    * range-partitioned + sorted on the bit-interleaved (ship_day,
    * l_partkey) key — BOTH columns get file-level locality, so a selective
    * predicate on EITHER skips most parquet files via min/max stats (the
    * data-skipping lever next to q162's bucketing and the partitioned
    * layout; measured decode fractions are pinned in PlanSpec's layout
    * test — linear sort prunes only its leading column, z-order prunes
    * both). The oracle is the PLAIN filter over the logical table: the
    * scaled-zkey computation (observed-min/max equal-width scaling → bit
    * interleave), the range repartition, the sort, the key drop, and the
    * staged swap must lose and duplicate NOTHING — layout is an
    * optimization, never a semantic. Filter bounds are fixed constants
    * (data-independent, SF-portable); generation files released after
    * materialization. */
  def zorderScan(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("zorder").toString
    val store = new graft.io.TableStore(s, root)
    try {
      val li = T(s, dir, "lineitem")
        .withColumn("ship_day",
          datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long"))
        .select("ship_day", "l_partkey", "l_orderkey", "l_linenumber",
          "l_quantity")
      store.overwriteZOrdered("zli", li, Seq("ship_day", "l_partkey"),
        files = 16)
      Loops.checkpoint(store.read("zli")
        .filter(col("ship_day") >= lit(11400L) && col("ship_day") < lit(11500L) &&
          col("l_partkey") < lit(500L))
        .select("l_orderkey", "l_linenumber", "ship_day", "l_partkey",
          "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
        eager = true) // materialize before the files are released
    } finally deleteDirTree(root) // table, staging/retired gens, AND the root
  }
  // q166: the oracle is the PLAIN filter — the z-order write lifecycle
  // (scaled zkey, range repartition, sort, key drop, staged swap) must
  // lose and duplicate nothing.
  query("q166_zorder_scan", zorderScan, bench = true, oracle = OracleSql(
    """SELECT l_orderkey, l_linenumber,
      |  CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_day,
      |  l_partkey, l_quantity
      |FROM lineitem
      |WHERE datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) >= 11400
      |  AND datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) < 11500
      |  AND l_partkey < 500
      |ORDER BY l_orderkey, l_linenumber""".stripMargin))

  /** SMALL-FILES COMPACTION, lifecycle ORACLED
    * ([[graft.io.TableStore.compactFiles]]): documents written FRAGMENTED
    * into 64 part files (the append-accumulation failure mode — at 100 TB
    * the killer is file COUNT, not bytes: a million 1 MB objects is a
    * million scheduler tasks and a listing storm), compacted back through
    * the narrow no-shuffle coalesce rewrite + failure-atomic staged swap,
    * then a content-sensitive rollup over the COMPACTED table. The oracle
    * is the same rollup over the logical table: compaction moves bytes, it
    * must lose and duplicate NOTHING — sum(doc_id) / sum(n_chars) per
    * group make any dropped or doubled row visible. The file-count
    * collapse itself (the part the oracle can't see) is asserted in-query
    * and pinned in OperatorsSpec's compactFiles test. */
  def compactionLifecycle(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("compact").toString
    val store = new graft.io.TableStore(s, root)
    try {
      store.overwrite("frag", T(s, dir, "documents").repartition(64))
      val after = store.compactFiles("frag", targetBytes = 4L << 20)
      require(after < 64,
        s"compaction must collapse the 64-file fragmentation (got $after)")
      Loops.checkpoint(store.read("frag")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source", "lang"),
        eager = true) // materialize before the files are released
    } finally deleteDirTree(root)
  }
  // q191: the same rollup over the LOGICAL table — the compaction
  // rewrite (fragment -> coalesce -> staged swap) must be invisible to
  // every query. sum(BIGINT) is HUGEINT in DuckDB; cast back.
  query("q191_compaction_lifecycle", compactionLifecycle, bench = true, oracle = OracleSql(
    """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin))

  /** TABLE PROFILE over the documents table
    * ([[graft.operators.Profile.table]] — see its Scaladoc for the
    * one-scan / Expand / bounded-reshape design and the
    * approx_count_distinct 100 TB swap-in). */
  def tableProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.table(T(s, dir, "documents"))
  // q170: per-column profile — one UNION ALL branch per column, each the
  // plain exact rollup; min/max rendered as VARCHAR (UTF-8 byte order =
  // code-point order on both engines; BIGINT rendering identical).
  query("q170_table_profile", tableProfile, bench = true, oracle = OracleSql(
    """WITH t AS (SELECT * FROM documents)
      |SELECT * FROM (
      |  SELECT 'doc_id' AS col_name,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
      |    CAST(min(doc_id) AS VARCHAR) AS min_value,
      |    CAST(max(doc_id) AS VARCHAR) AS max_value
      |  FROM t
      |  UNION ALL
      |  SELECT 'text', CAST(count(*) AS BIGINT),
      |    CAST(count(*) - count(text) AS BIGINT),
      |    CAST(count(DISTINCT text) AS BIGINT),
      |    min(text), max(text) FROM t
      |  UNION ALL
      |  SELECT 'lang', CAST(count(*) AS BIGINT),
      |    CAST(count(*) - count(lang) AS BIGINT),
      |    CAST(count(DISTINCT lang) AS BIGINT),
      |    min(lang), max(lang) FROM t
      |  UNION ALL
      |  SELECT 'source', CAST(count(*) AS BIGINT),
      |    CAST(count(*) - count(source) AS BIGINT),
      |    CAST(count(DISTINCT source) AS BIGINT),
      |    min(source), max(source) FROM t
      |  UNION ALL
      |  SELECT 'n_chars', CAST(count(*) AS BIGINT),
      |    CAST(count(*) - count(n_chars) AS BIGINT),
      |    CAST(count(DISTINCT n_chars) AS BIGINT),
      |    CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM t)
      |ORDER BY col_name""".stripMargin))

  /** P2/P3-style filter + projection; both predicates and the 4-column read
    * schema must reach the parquet scan (verified in the plan spec). */
  def filterPushdown(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
        col("l_quantity") > 45)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
        col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber")
  query("q03_filter_pushdown", filterPushdown, bench = false, oracle = OracleSql(
    """SELECT l_orderkey, l_linenumber,
      |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date, l_quantity
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' AND l_quantity > 45
      |ORDER BY 1, 2""".stripMargin))

  /** W3/W4 per-group ordered top-k: 3 biggest orders per customer. */
  def windowTopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    T(s, dir, "orders")
      .withColumn("rank_in_cust", row_number().over(w).cast("long"))
      .filter(col("rank_in_cust") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")
      .orderBy("o_custkey", "rank_in_cust")
  }
  query("q08_window_topk", windowTopK, bench = true, oracle = OracleSql(
    """SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_in_cust
      |  FROM orders)
      |WHERE rank_in_cust <= 3 ORDER BY o_custkey, rank_in_cust""".stripMargin))

  /** Rollup aggregation (subtotals + grand total) — capability beyond the
    * reference's flat groupBys; DECIMAL-routed sums for cross-engine
    * bit-equality. The sentinel is built from grouping() — not coalesce — so
    * a genuinely-NULL key value cannot collide with a subtotal row and the
    * sort stays total on nullable data. */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        // grouping() is only legal inside the rollup's aggregate list
        grouping(col("l_returnflag")).as("__g1"),
        grouping(col("l_linestatus")).as("__g2"))
      .select(
        when(col("__g1") === 1, "<all>")
          .otherwise(coalesce(col("l_returnflag"), lit("<null>"))).as("l_returnflag"),
        when(col("__g2") === 1, "<all>")
          .otherwise(coalesce(col("l_linestatus"), lit("<null>"))).as("l_linestatus"),
        col("n_rows"), col("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  query("q32_rollup_agg", rollupAgg, bench = true, oracle = OracleSql(
    """SELECT
      |  CASE WHEN GROUPING(l_returnflag) = 1 THEN '<all>'
      |       ELSE coalesce(l_returnflag, '<null>') END AS l_returnflag,
      |  CASE WHEN GROUPING(l_linestatus) = 1 THEN '<all>'
      |       ELSE coalesce(l_linestatus, '<null>') END AS l_linestatus,
      |  count(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** Distinct aggregation + exact interpolated percentiles per group (the
    * reference has neither). Percentiles are rounded to 6 decimals on both
    * sides: Spark's percentile() and DuckDB's quantile_cont() use different
    * interpolation expressions that can differ in the last ULP when the
    * position falls between two distinct values. */
  def distinctAndPercentiles(s: SparkSession, dir: String): DataFrame = {
    // Split aggregations for the same reason as [[approxPercentiles]]: fused,
    // the countDistinct Expand would allocate the holistic percentile buffer
    // (an ArrayBuffer of every group value!) per (flag, partkey) partial
    // group. The exact percentile stays deliberately holistic — it is the
    // correctness oracle for the sketch variant, not a production path.
    val li = T(s, dir, "lineitem")
    val cd = li.groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
    // null-safe join key: a null l_returnflag group survives GROUP BY on
    // both branches (and in the oracle's single GROUP BY) — a plain equi-
    // join would silently drop it
    val pct = li.groupBy(col("l_returnflag").as("__rf"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"))
    cd.join(pct, col("l_returnflag") <=> col("__rf"))
      .select("l_returnflag", "n_parts", "n_supps", "median_qty", "p90_qty")
      .orderBy("l_returnflag")
  }
  query("q33_distinct_percentiles", distinctAndPercentiles, bench = false, oracle = OracleSql(
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
      |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** The production-path variant of [[distinctAndPercentiles]]: one
    * approx_percentile SKETCH per group (mergeable, fixed memory, full
    * map-side partial aggregation) instead of the holistic exact
    * `percentile` that buffers every group value on 3 reducers. Oracled
    * against DuckDB's exact discrete quantile: Greenwald-Khanna at
    * accuracy 10000 has rank error <= N/10000 (~2 rows/group at sf0.01),
    * while l_quantity's integral values each span ~400-row runs — the
    * sketch can never cross a value boundary on this data, so approx ==
    * exact-discrete, verified bit-equal. */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame = {
    // The distinct counts and the sketch run as SEPARATE aggregations joined
    // on the 3-row group key. Fusing them into one agg plans the two
    // countDistincts as an Expand (×3 rows) whose first partial aggregate
    // groups by (flag, partkey, suppkey) — and allocates EVERY agg buffer,
    // including the percentile sketch, for each of those ~200k groups.
    // Measured at sf0.1: fused 4.97s, split 0.81s + 0.60s. The split form
    // also partial-aggregates both branches map-side, so at 100 TB each
    // branch shuffles group-sized state, not rows.
    val li = T(s, dir, "lineitem")
    val cd = li.groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
    // null-safe join key — same reasoning as [[distinctAndPercentiles]]
    val pct = li.groupBy(col("l_returnflag").as("__rf"))
      .agg(expr("approx_percentile(l_quantity, array(0.5, 0.9), 10000)").as("__p"))
    cd.join(pct, col("l_returnflag") <=> col("__rf"))
      .select(
        col("l_returnflag"), col("n_parts"), col("n_supps"),
        element_at(col("__p"), 1).as("median_qty"),
        element_at(col("__p"), 2).as("p90_qty"))
      .orderBy("l_returnflag")
  }
  query("q35_approx_percentiles", approxPercentiles, bench = true, oracle = OracleSql(
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  quantile_disc(l_quantity, 0.5) AS median_qty,
      |  quantile_disc(l_quantity, 0.9) AS p90_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Ranking + offset window functions (rank, dense_rank, ntile, lag, lead) —
    * the §2.7 families the reference never needed, over a total per-customer
    * order sequence. */
  def windowFunctions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    T(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"))
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  query("q34_window_functions", windowFunctions, bench = false, oracle = OracleSql(
    """SELECT o_custkey, o_orderkey,
      |  rank() OVER w AS rnk,
      |  dense_rank() OVER w AS drnk,
      |  ntile(4) OVER w AS quartile,
      |  lag(o_orderkey, 1) OVER w AS prev_order,
      |  lead(o_orderkey, 1) OVER w AS next_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
      |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin))

  /** Point-in-interval range join via bin equi-join ([[RangeJoin]]): per-order
    * shipment windows (length keyed off the order key, 1-30 days) probed with
    * every lineitem ship date — NO join key exists, the naive formulation is
    * a BroadcastNestedLoopJoin. Binned at 32 days each interval replicates to
    * at most 2 bins and each matched pair meets exactly once. Plan-pinned
    * BNLJ-free; oracled against DuckDB's literal BETWEEN join. */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val iv = T(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(1000)) === 0)
      .select(
        col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("w_start"))
      .withColumn("w_end", col("w_start") + pmod(col("o_orderkey"), lit(30)) + lit(1))
    val pts = T(s, dir, "lineitem")
      .select(
        datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long").as("ship_day"),
        col("l_quantity"))
    graft.operators.RangeJoin.pointInInterval(
      iv, "w_start", "w_end", pts, "ship_day", binSize = 32)
      .groupBy("o_orderkey", "w_start", "w_end")
      .agg(
        count(lit(1)).as("n_ship"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("o_orderkey")
  }
  // q38: the range join stated as the literal non-equi BETWEEN join —
  // DuckDB plans it however it likes; the Spark side must produce the
  // identical relation through the bin equi-join decomposition.
  query("q38_range_join", rangeJoin, bench = true, oracle = OracleSql(
    """WITH iv AS (
      |  SELECT o_orderkey,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS w_start,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + (o_orderkey % 30) + 1 AS BIGINT) AS w_end
      |  FROM orders WHERE o_orderkey % 1000 = 0)
      |SELECT o_orderkey, w_start, w_end, COUNT(*) AS n_ship,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM iv JOIN lineitem
      |  ON CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT)
      |     BETWEEN w_start AND w_end
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin))

  /** Interval-overlap range join ([[RangeJoin.intervalOverlap]]): two
    * differently-keyed families of per-order shipment windows, paired where
    * the windows intersect — again no equi-key, again bin-decomposed with
    * exactly-once emission (first shared bin). Oracled as DuckDB's literal
    * overlap join. */
  def intervalOverlapQ(s: SparkSession, dir: String): DataFrame = {
    def windows(modulus: Int, span: Int, prefix: String): DataFrame =
      T(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(modulus)) === 0)
        .select(
          col("o_orderkey").as(s"${prefix}_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long")
            .as(s"${prefix}_start"))
        .withColumn(s"${prefix}_end",
          col(s"${prefix}_start") + pmod(col(s"${prefix}_orderkey"), lit(span)) + lit(1))
    val a = windows(500, 45, "a")
    val b = windows(777, 60, "b")
    graft.operators.RangeJoin.intervalOverlap(
      a, "a_start", "a_end", b, "b_start", "b_end", binSize = 64)
      .orderBy("a_orderkey", "b_orderkey")
  }
  // q40: interval overlap stated as the literal non-equi predicate
  query("q40_interval_overlap", intervalOverlapQ, bench = false, oracle = OracleSql(
    """WITH a AS (
      |  SELECT o_orderkey AS a_orderkey,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS a_start,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + (o_orderkey % 45) + 1 AS BIGINT) AS a_end
      |  FROM orders WHERE o_orderkey % 500 = 0),
      |b AS (
      |  SELECT o_orderkey AS b_orderkey,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS b_start,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + (o_orderkey % 60) + 1 AS BIGINT) AS b_end
      |  FROM orders WHERE o_orderkey % 777 = 0)
      |SELECT a_orderkey, a_start, a_end, b_orderkey, b_start, b_end
      |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
      |ORDER BY a_orderkey, b_orderkey""".stripMargin))

  /** TPC-H Q3 shape (shipping priority): segment-filtered customers ×
    * date-bounded orders × lineitem, revenue per unshipped order, top 10.
    * The classic 3-table OLAP join: both date predicates and the segment
    * filter push to the scans, the filtered customer side broadcasts, and
    * the top-10 plans as TakeOrderedAndProject over the partial aggregates
    * (no global sort). Revenue sums route through DECIMAL (exact,
    * order-independent) and only the FINAL value casts to double — the
    * engine-determinism policy every money aggregate here follows.
    *
    * No forced broadcast hints: customer GROWS with scale, so the join
    * strategy must be the planner's size-based call — BHJ at bench SFs
    * (pinned), SMJ on custkey when a 100 TB customer exceeds the
    * threshold. A forced hint here is a driver OOM at scale. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-03-15").cast("timestamp")
    val cust = T(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = T(s, dir, "orders")
      .filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = T(s, dir, "lineitem")
      .filter(col("l_shipdate") > cut)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }
  // q101: DECIMAL-routed revenue makes the top-10 boundary value
  // bit-equal, so the LIMIT cut is deterministic on both engines.
  query("q101_shipping_priority", shippingPriority, bench = true, oracle = OracleSql(
    """SELECT l.l_orderkey,
      |  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |  o.o_orderpriority,
      |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1998-03-15'
      |  AND l.l_shipdate > TIMESTAMP '1998-03-15'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l.l_orderkey
      |LIMIT 10""".stripMargin))

  /** TPC-H Q5 shape (local supplier volume): the 6-table join — region →
    * nation → customer → orders → lineitem × supplier, with the Q5 twist
    * that the supplier must sit in the CUSTOMER's nation (the non-key
    * equi-condition `s_nationkey = c_nationkey` rides the same hash join).
    * region→nation is broadcast by hint (bounded by schema at 5/25 rows);
    * customer and supplier joins are the planner's size-based call — BHJ at
    * bench SFs (pinned), shuffled joins at a scale where forcing the
    * broadcast would OOM. The only guaranteed shuffles are the fact-side
    * aggregations. DECIMAL-routed revenue, one final double cast. */
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val nations = T(s, dir, "nation")
      .join(broadcast(T(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = T(s, dir, "customer").select("c_custkey", "c_nationkey")
    val supp = T(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val ord = T(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("2002-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    T(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }
  query("q102_local_supplier_volume", localSupplierVolume, bench = true, oracle = OracleSql(
    """SELECT n.n_name,
      |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = c.c_nationkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name = 'ASIA'
      |  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o.o_orderdate < TIMESTAMP '2002-01-01'
      |GROUP BY 1
      |ORDER BY revenue DESC, n.n_name""".stripMargin))

  /** TPC-H Q7 shape (volume shipping): supplier-nation × customer-nation
    * trade lanes per ship year — lineitem joined to supplier and (via
    * orders) customer, cross-nation lanes only. Both nation ROLES broadcast
    * by hint (25 rows by schema); supplier/customer are size-based picks
    * like q101/q102 (broadcast at bench SFs, shuffled at a scale where the
    * hint would OOM). The rollup is |nations|² × years rows; revenue
    * DECIMAL-routed with one final double cast (the engine-determinism
    * policy). */
  def tradeVolume(s: SparkSession, dir: String): DataFrame = {
    val n1 = T(s, dir, "nation").select(
      col("n_nationkey").as("__sn_key"), col("n_name").as("supp_nation"))
    val n2 = T(s, dir, "nation").select(
      col("n_nationkey").as("__cn_key"), col("n_name").as("cust_nation"))
    T(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .join(T(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(T(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("__sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("__cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }
  query("q104_trade_volume", tradeVolume, bench = true, oracle = OracleSql(
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      |WHERE n1.n_name <> n2.n_name
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin))

  /** TPC-H Q8 shape (national market share): for customers in one region,
    * the yearly revenue share delivered by one supplier nation. Two-level
    * conditional aggregation over the 6-table join — share = nation revenue
    * / total revenue, both DECIMAL-exact sums with ONE final division per
    * row (the engine-determinism policy). Region/nation hint-broadcast
    * (schema-bounded); customer/supplier size-based like q101–q104. */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val asiaCust = T(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(
        T(s, dir, "nation").select("n_nationkey", "n_regionkey")
          .join(broadcast(T(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val suppNation = T(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(T(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    T(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(T(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        sum(when(col("supp_nation") === "CHINA",
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double").as("nation_revenue"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("total_revenue"))
      .withColumn("mkt_share",
        when(col("total_revenue") > 0, col("nation_revenue") / col("total_revenue")))
      .orderBy("order_year")
  }
  // q106/q107: TPC-H Q8/Q18 shapes — DECIMAL-exact sums, one division.
  query("q106_market_share", marketShare, bench = true, oracle = OracleSql(
    """WITH asia_cust AS (
      |  SELECT c_custkey FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'),
      |sn AS (
      |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey),
      |rev AS (
      |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
      |    CASE WHEN sn.supp_nation = 'CHINA'
      |         THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
      |         ELSE CAST(0 AS DECIMAL(18,6)) END AS nrev,
      |    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS trev
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN asia_cust ac ON o.o_custkey = ac.c_custkey
      |  JOIN sn ON l.l_suppkey = sn.s_suppkey)
      |SELECT order_year,
      |  CAST(sum(nrev) AS DOUBLE) AS nation_revenue,
      |  CAST(sum(trev) AS DOUBLE) AS total_revenue,
      |  CASE WHEN CAST(sum(trev) AS DOUBLE) > 0
      |       THEN CAST(sum(nrev) AS DOUBLE) / CAST(sum(trev) AS DOUBLE) END AS mkt_share
      |FROM rev GROUP BY 1 ORDER BY 1""".stripMargin))

  /** TPC-H Q18 shape (large-volume orders): orders whose total lineitem
    * quantity clears a threshold, with the customer key and the exact
    * total. The group-HAVING-join OLAP pattern: the per-order rollup is
    * map-side combinable, the HAVING prunes before the customer join, and
    * the (tiny) surviving order set joins back by key. Quantities sum
    * DECIMAL-exact; the threshold compares decimals, so the cut is
    * bit-deterministic on every engine. */
  def largeOrders(s: SparkSession, dir: String): DataFrame = {
    val qty = T(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__q"))
      .filter(col("__q") > 145)
    T(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .join(qty, col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_custkey").as("c_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("total_price"),
        col("__q").cast("double").as("total_qty"))
      .orderBy(desc("total_qty"), col("o_orderkey"))
  }
  query("q107_large_orders", largeOrders, bench = true, oracle = OracleSql(
    """WITH q AS (
      |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS tq
      |  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 145)
      |SELECT o.o_custkey AS c_custkey, o.o_orderkey,
      |  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
      |  CAST(q.tq AS DOUBLE) AS total_qty
      |FROM orders o JOIN q ON o.o_orderkey = q.l_orderkey
      |ORDER BY total_qty DESC, o.o_orderkey""".stripMargin))

  /** TPC-H Q4 shape (order priority check): orders in one quarter that had
    * at least one LATE line (shipped > 60 days after the order date),
    * counted per priority. The existence probe is a LEFT SEMI join whose
    * equi-key (orderkey) rides the hash join and whose lateness bound is a
    * residual predicate on the same join — never a row-multiplying inner
    * join + distinct. The quarter bound pushes to the orders scan; at scale
    * the semi-join degrades to SMJ on orderkey, still one shuffle and no
    * duplicate inflation (semi output ≤ orders). */
  def lateOrderPriorities(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = T(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "leftsemi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }
  // q108–q112: TPC-H Q4/Q12/Q14/Q13/Q10 shapes. Counts exact; every money
  // aggregate DECIMAL-routed with one final double cast; ratios are one
  // IEEE division over the already-cast doubles on both engines.
  query("q108_late_order_priorities", lateOrderPriorities, bench = true, oracle = OracleSql(
    """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1997-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** TPC-H Q12 shape (shipmode/priority mix, recast on ship delay): every
    * line classified by how long after the order date it shipped, with the
    * per-bucket split of urgent/high vs lower-priority lines — the
    * CASE-WHEN-inside-SUM conditional-aggregation pattern. One fact-side
    * equi-join (orderkey), then a 3-row rollup: both conditional sums ride
    * the same partial aggregate, so the whole query is one shuffle past the
    * join. Counts are exact longs. */
  def shipDelayMix(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    T(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      .join(T(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_bucket",
        when(datediff(col("l_shipdate"), col("o_orderdate")) <= 0, "early")
          .when(datediff(col("l_shipdate"), col("o_orderdate")) <= 365,
            "within_year")
          .otherwise("late"))
      .groupBy("delay_bucket")
      .agg(
        sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("delay_bucket")
  }
  query("q109_ship_delay_mix", shipDelayMix, bench = true, oracle = OracleSql(
    """SELECT
      |  CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) <= 0 THEN 'early'
      |       WHEN datediff('day', o.o_orderdate, l.l_shipdate) <= 365 THEN 'within_year'
      |       ELSE 'late' END AS delay_bucket,
      |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** TPC-H Q14 shape (promo revenue share): the percentage of one ship
    * month's revenue carried by PROMO-type parts. Ratio-of-conditional-sums:
    * both the promo and total revenue accumulate DECIMAL-exact through the
    * same partial aggregate and the share is ONE double division at the end
    * (the engine-determinism policy). The month bound pushes to the
    * lineitem scan; part is a size-based join pick (broadcast at bench SFs,
    * shuffled when a 100 TB part side outgrows the threshold — part GROWS
    * with scale, so no forced hint). */
  def promoRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(T(s, dir, "part").select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double")
          .as("promo_revenue"),
        sum(rev).cast("double").as("total_revenue"))
      .withColumn("promo_share",
        when(col("total_revenue") > 0,
          lit(100.0) * col("promo_revenue") / col("total_revenue")))
  }
  query("q110_promo_revenue", promoRevenue, bench = true, oracle = OracleSql(
    """SELECT
      |  CAST(sum(CASE WHEN p.p_type = 'PROMO'
      |    THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
      |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_revenue,
      |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue,
      |  CASE WHEN CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |         AS DECIMAL(18,6))) AS DOUBLE) > 0
      |    THEN 100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
      |           THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
      |           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
      |       / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |           AS DECIMAL(18,6))) AS DOUBLE) END AS promo_share
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l.l_shipdate < TIMESTAMP '1997-02-01'""".stripMargin))

  /** TPC-H Q13 shape (customer order-count distribution): orders per
    * customer (zero-order customers KEPT via the left outer join, the Q13
    * point), then the histogram of customers per order count. Two
    * aggregation levels: the first shuffles on custkey, the second on the
    * tiny count domain. The priority exclusion is applied to orders BEFORE
    * the join — the same rows as an ON-clause filter, but expressed so the
    * predicate pushes to the orders scan. */
  def orderCountHistogram(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer").select("c_custkey")
      .join(T(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy("n_orders")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(desc("n_customers"), desc("n_orders"))
  query("q111_order_count_histogram", orderCountHistogram, bench = true, oracle = OracleSql(
    """WITH co AS (
      |  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      |  FROM customer c
      |  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |    AND o.o_orderpriority <> '5-LOW'
      |  GROUP BY 1)
      |SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
      |FROM co GROUP BY 1
      |ORDER BY n_customers DESC, n_orders DESC""".stripMargin))

  /** TPC-H Q10 shape (returned items): per-customer revenue lost to
    * returned lines in one order quarter, top 20. The fact side filters on
    * BOTH scans (returnflag on lineitem, quarter on orders) before any
    * join; nation is hint-broadcast (25 rows by schema); customer is the
    * planner's size-based call like q101–q107. Revenue is DECIMAL-exact so
    * the top-20 boundary is bit-deterministic, with custkey as the total
    * tie-break; the limit plans as TakeOrderedAndProject — no global
    * sort. */
  def returnedItems(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(T(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  query("q112_returned_items", returnedItems, bench = true, oracle = OracleSql(
    """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
      |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE l.l_returnflag = 'R'
      |  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1997-04-01'
      |GROUP BY 1, 2, 3, 4
      |ORDER BY revenue DESC, c.c_custkey
      |LIMIT 20""".stripMargin))

  /** TPC-H Q17 shape (small-quantity revenue): lines of one brand's parts
    * whose quantity falls below half that part's average. The per-part
    * average is the JOIN-BACK-TO-AGGREGATE pattern: the brand filter
    * shrinks part first, the part join shrinks lineitem BEFORE the
    * per-part rollup, and the rollup (≤1 row per surviving part) joins
    * back on the same partkey — at any scale both join-back sides already
    * hash-partition on partkey, so AQE reuses the exchange instead of
    * re-shuffling. The average is sum/count over integer-valued
    * quantities: the DECIMAL sum is exact, so the single IEEE division
    * (and the 0.5× bound) is bit-deterministic on both engines. */
  def smallQuantityRevenue(s: SparkSession, dir: String): DataFrame = {
    val brandLines = T(s, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(T(s, dir, "part")
        .filter(col("p_brand") === "Brand#4").select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val perPartAvg = brandLines
      .groupBy("l_partkey")
      .agg((sum(col("l_quantity").cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("avg_qty"))
    brandLines
      .join(perPartAvg, Seq("l_partkey"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
          .as("total_revenue"))
  }
  // q114–q116: TPC-H Q17/Q19/Q22 shapes. Averages are exact-DECIMAL-sum /
  // exact-count with ONE IEEE division, so every float comparison bound is
  // bit-deterministic across engines; money sums DECIMAL-routed as above.
  query("q114_small_qty_revenue", smallQuantityRevenue, bench = true, oracle = OracleSql(
    """WITH bl AS (
      |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  WHERE p.p_brand = 'Brand#4'),
      |a AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
      |      / count(*) AS avg_qty
      |  FROM bl GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(bl.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |    AS total_revenue
      |FROM bl JOIN a ON bl.l_partkey = a.l_partkey
      |WHERE bl.l_quantity < 0.5 * a.avg_qty""".stripMargin))

  /** TPC-H Q19 shape (disjunctive bracket revenue): revenue from lines
    * matching EITHER of two (brand, size-range, quantity-range) brackets —
    * the OR-of-conjunctions predicate. The single-table conjuncts split by
    * side: the quantity envelope (the union of both brackets' quantity
    * ranges) pushes to the lineitem scan and the size/brand envelope to the
    * part scan BEFORE the join, while the cross-table bracket pairing stays
    * a residual on the hash join — the planner's CNF extraction does this
    * from the declarative OR, no manual rewrite. */
  def bracketRevenue(s: SparkSession, dir: String): DataFrame = {
    val b1 = col("p_brand") === "Brand#4" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
    val b2 = col("p_brand") === "Brand#8" &&
      col("p_size").between(10, 30) && col("l_quantity").between(10, 35)
    T(s, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(T(s, dir, "part").select("p_partkey", "p_brand", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .filter(b1 || b2)
      .agg(
        count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
  }
  query("q115_bracket_revenue", bracketRevenue, bench = true, oracle = OracleSql(
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
      |       AND l.l_quantity BETWEEN 1 AND 20)
      |   OR (p.p_brand = 'Brand#8' AND p.p_size BETWEEN 10 AND 30
      |       AND l.l_quantity BETWEEN 10 AND 35)""".stripMargin))

  /** TPC-H Q22 shape (dormant high-balance customers): per-nation count and
    * balance of customers above the positive-balance average with NO order
    * since a cutoff. Two classic sub-plans: the global average is a 1-row
    * aggregate broadcast back over customers (a scalar subquery — never a
    * shuffle), and "no recent order" is a LEFT ANTI join against the
    * cutoff-filtered orders whose date bound pushes to the scan, so the
    * anti-join probe side is the RECENT slice, not the full history. The
    * balance sums are DECIMAL(18,2)-exact (2-dp inputs), cast to double
    * once. */
  def dormantCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("__avg_bal"))
    val recent = T(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-06-01").cast("timestamp"))
      .select("o_custkey")
    cust
      .join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("__avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("total_balance"))
      .orderBy("nationkey")
  }
  query("q116_dormant_customers", dormantCustomers, bench = true, oracle = OracleSql(
    """WITH ab AS (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |    / count(*) AS a
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c.c_nationkey AS nationkey,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_balance
      |FROM customer c, ab
      |WHERE c.c_acctbal > ab.a
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '2000-06-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** TPC-H Q6 shape (forecast revenue change): the pure-scan conditional
    * rollup — one year of shipments in a discount band below a quantity
    * cap, revenue = price × discount. Every predicate is a single-column
    * comparison, so ALL of them push to the parquet scan (PushedFilters
    * carries the date/discount/quantity bounds) and the plan is scan →
    * partial agg → 1-row exchange: the cheapest possible TPC-H shape and
    * the row-group-pruning benchmark at 100 TB (a date-partitioned layout
    * reads 1/7 of the files before a byte of CPU). DECIMAL-routed sum,
    * one double cast. */
  def forecastRevenue(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
      .agg(
        count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
  query("q128_forecast_revenue", forecastRevenue, bench = true, oracle = OracleSql(
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
      |    AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN CAST(0.02 AS DOUBLE) AND CAST(0.06 AS DOUBLE)
      |  AND l_quantity < 24""".stripMargin))

  /** TPC-H Q15 shape (top supplier): suppliers whose quarterly revenue
    * equals the global maximum. The Q15 view is the per-supplier rollup;
    * the scalar max is a 1-row aggregate BROADCAST back over it (like
    * q116's average — never a shuffle), and the equality test runs on the
    * un-cast DECIMAL sums, so "ties with the max" is exact arithmetic on
    * both engines, not an IEEE comparison. Supplier attributes join AFTER
    * the filter (≤ a handful of winners), so the dimension join is over
    * the max-revenue slice, not the full rollup. The explicit
    * isnotnull(l_suppkey) keeps the rollup's exchange subtree canonically
    * identical under BOTH consumers (the filter probe and the scalar max —
    * the q50/q72 trick), so the quarter scan + revenue rollup evaluate
    * ONCE and the max side reads a ReusedExchange, never a second scan. */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp") &&
        col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).as("__rev"))
    val maxRev = rev.agg(max(col("__rev")).as("__max_rev"))
    rev
      .join(broadcast(maxRev))
      .filter(col("__rev") === col("__max_rev"))
      .join(T(s, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("__rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }
  // q129: the max-equality runs on exact DECIMAL sums in both engines,
  // so "ties with the max" is arithmetic, not an IEEE comparison.
  query("q129_top_supplier", topSupplier, bench = true, oracle = OracleSql(
    """WITH r AS (
      |  SELECT l_suppkey,
      |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT s.s_suppkey, s.s_name, CAST(r.rev AS DOUBLE) AS total_revenue
      |FROM supplier s JOIN r ON s.s_suppkey = r.l_suppkey
      |WHERE r.rev = (SELECT max(rev) FROM r)
      |ORDER BY s.s_suppkey""".stripMargin))

  /** TPC-H Q9 shape (product-type profit): per supplier-nation per order
    * year, profit on one product family — revenue minus a cost proxy
    * (retail price × quantity × 0.6; the dataset has no partsupp table, so
    * `p_retailprice` stands in for `ps_supplycost`, same join shape). The
    * LIKE filter pushes to the part scan (StringContains), the filtered
    * part join shrinks lineitem FIRST, nation is hint-broadcast (25 rows
    * by schema), supplier/orders joins are size-based picks like
    * q101–q104. Per-row profit is IEEE-deterministic (one multiply-subtract
    * chain), then DECIMAL-summed and cast once. */
  def productProfit(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(T(s, dir, "part").filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice"),
        col("l_partkey") === col("p_partkey"))
      .join(T(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(T(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(T(s, dir, "nation").select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity") * lit(0.6))
        .cast("decimal(18,6)")).cast("double").as("profit"))
      .orderBy(col("nation"), desc("o_year"))
  query("q130_product_profit", productProfit, bench = true, oracle = OracleSql(
    """SELECT n.n_name AS nation,
      |  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |    - p.p_retailprice * l.l_quantity * CAST(0.6 AS DOUBLE)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS profit
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE p.p_name LIKE '%red%'
      |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin))

  /** TPC-H Q21 shape (suppliers who kept orders waiting): suppliers that
    * were the ONLY late shipper on a finished multi-supplier order (late =
    * shipped > 90 days after the order date; the dataset has no
    * commit/receipt dates — same lateness proxy as q108). Q21's textbook
    * form is a double correlated EXISTS / NOT EXISTS self-join on lineitem
    * — at 100 TB that is two extra fact-fact joins. This plan collapses it
    * to ONE PASS over the per-(order, supplier) lateness rollup: the
    * order-level supplier/late counts are WINDOWS partitioned by
    * l_orderkey over that rollup — lineitem is scanned once and never
    * self-joined; "exists another supplier" ≡ n_suppliers > 1 and "no
    * other late one" ≡ n_late = 1 on a row that is itself late. (A
    * groupBy-then-rejoin formulation plans the rollup subtree TWICE — two
    * full fact scans; the window states the same per-order stats on one.)
    * The DuckDB oracle states the EXISTS/NOT-EXISTS form verbatim, making
    * the rewrite's equivalence driver-checked. */
  def waitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val perOrderSupp = T(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(T(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max((col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 90 DAYS")).cast("int"))
        .as("__late"))
    val perOrder = Window.partitionBy("l_orderkey")
    perOrderSupp
      .withColumn("__n_supp", count(lit(1)).over(perOrder))
      .withColumn("__n_late", sum(col("__late")).over(perOrder))
      .filter(col("__late") === 1 &&
        col("__n_supp") > 1 && col("__n_late") === 1)
      .join(T(s, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
  }
  // q131: the oracle states Q21's textbook correlated EXISTS / NOT
  // EXISTS self-join verbatim; the Spark side plans the rollup rewrite
  // (per-order supplier/late counts on one clustering) — the driver
  // check IS the equivalence proof of the rewrite.
  query("q131_waiting_suppliers", waitingSuppliers, bench = true, oracle = OracleSql(
    """WITH l AS (
      |  SELECT l.l_orderkey, l.l_suppkey,
      |    bool_or(l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) AS late
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_orderstatus = 'F'
      |  GROUP BY 1, 2)
      |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM l l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
      |WHERE l1.late
      |  AND EXISTS (SELECT 1 FROM l l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM l l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
      |GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin))

  /** TPC-H Q2 shape (cheapest regional supplier): for each part of one
    * size class, the EUROPE suppliers offering it at the regional minimum
    * unit price (the dataset has no partsupp, so the offer relation is
    * derived: min observed `l_extendedprice / l_quantity` per (part,
    * supplier)). Q2's correlated MIN subquery becomes a per-part window
    * MIN over the offer rollup — the rollup is computed ONCE (a
    * join-back-to-aggregate formulation plans the whole offer join tree
    * twice, doubling the fact scans) and the equality test runs on doubles
    * both engines derived from identical inputs via order-independent MIN
    * — bit-deterministic. Region→nation prune is a broadcast chain;
    * supplier attributes ride the filtered offer slice. */
  def cheapestRegionalSupplier(s: SparkSession, dir: String): DataFrame = {
    val eurSupp = T(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
      .join(broadcast(T(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
        .join(broadcast(T(s, dir, "region").filter(col("r_name") === "EUROPE")
          .select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val offers = T(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("__unit"))
      .join(T(s, dir, "part").filter(col("p_size") === 15).select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .join(eurSupp.select("s_suppkey"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("__unit")).as("unit_cost"))
    offers
      .withColumn("__min_cost",
        min(col("unit_cost")).over(Window.partitionBy("l_partkey")))
      .filter(col("unit_cost") === col("__min_cost"))
      .join(eurSupp, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("p_partkey"), col("s_name"),
        col("n_name"), col("s_acctbal"), col("unit_cost"))
      .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"), col("p_partkey"))
  }
  // q132: Q2's correlated MIN subquery stated directly; the join-back
  // equality runs on doubles both engines derived from identical inputs
  // via order-independent MIN, so it is bit-deterministic.
  query("q132_cheapest_supplier", cheapestRegionalSupplier, bench = true, oracle = OracleSql(
    """WITH es AS (
      |  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      |  FROM supplier s
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  WHERE r.r_name = 'EUROPE'),
      |o AS (
      |  SELECT l.l_partkey, l.l_suppkey,
      |    min(l.l_extendedprice / l.l_quantity) AS unit_cost
      |  FROM lineitem l
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |  JOIN es ON l.l_suppkey = es.s_suppkey
      |  WHERE p.p_size = 15
      |  GROUP BY 1, 2),
      |m AS (SELECT l_partkey, min(unit_cost) AS min_cost FROM o GROUP BY 1)
      |SELECT o.l_partkey AS p_partkey, es.s_name, es.n_name, es.s_acctbal,
      |  o.unit_cost
      |FROM o
      |JOIN m ON o.l_partkey = m.l_partkey AND o.unit_cost = m.min_cost
      |JOIN es ON o.l_suppkey = es.s_suppkey
      |ORDER BY es.s_acctbal DESC, es.n_name, es.s_name, p_partkey""".stripMargin))

  /** TPC-H Q16 shape (supplier mix per part class): distinct suppliers
    * shipping each (brand, type, size) class, excluding one brand + one
    * type (the `<>` pushdowns) and excluding flagged suppliers — Q16's
    * `NOT IN (complaints)` stated as a LEFT ANTI join against the
    * negative-balance supplier slice (6 rows here, schema-bounded ⇒
    * broadcast anti). The part↔supplier link is the observed lineitem
    * pairs; the distinct-count rolls up AFTER the anti-join so excluded
    * suppliers never inflate the count. */
  def supplierMix(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select("l_partkey", "l_suppkey")
      .join(T(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO")
        .select("p_partkey", "p_brand", "p_type", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(T(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("__bad_supp"))),
        col("l_suppkey") === col("__bad_supp"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
  query("q133_supplier_mix", supplierMix, bench = true, oracle = OracleSql(
    """SELECT p.p_brand, p.p_type, p.p_size,
      |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      |  AND l.l_suppkey NOT IN
      |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin))

  /** TPC-H Q20 shape (dominant part suppliers): suppliers who shipped more
    * than 30% of a product family's 1996 volume for some part (the
    * dataset has no partsupp availqty, so Q20's "excess stock" threshold
    * becomes a volume-share threshold — same nested-aggregate + semi-join
    * shape). The per-part total is a WINDOW over the per-(part, supplier)
    * rollup — one fact scan, one rollup, no self-join of the aggregate
    * subtree (the groupBy-rejoin form scans lineitem twice); the share
    * test compares once-cast doubles of exact DECIMAL sums, and the
    * supplier dimension is probed with a LEFT SEMI join on the few
    * dominant suppkeys — never an inner join + distinct. */
  def dominantSuppliers(s: SparkSession, dir: String): DataFrame = {
    val red1996 = T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_partkey", "l_suppkey", "l_quantity")
      .join(T(s, dir, "part").filter(col("p_name").like("%red%"))
        .select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
    val dominant = red1996
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("__sq"))
      .withColumn("__tq",
        sum(col("__sq")).over(Window.partitionBy("l_partkey")))
      .filter(col("__sq").cast("double") > col("__tq").cast("double") * lit(0.3))
      .select("l_suppkey")
    T(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey")
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(T(s, dir, "nation").select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
      .orderBy("s_name", "s_suppkey")
  }
  query("q134_dominant_suppliers", dominantSuppliers, bench = true, oracle = OracleSql(
    """WITH rl AS (
      |  SELECT l.l_partkey, l.l_suppkey, l.l_quantity
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  WHERE p.p_name LIKE '%red%'
      |    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l.l_shipdate < TIMESTAMP '1997-01-01'),
      |ps AS (SELECT l_partkey, l_suppkey,
      |         sum(CAST(l_quantity AS DECIMAL(18,6))) AS sq
      |       FROM rl GROUP BY 1, 2),
      |pt AS (SELECT l_partkey, sum(sq) AS tq FROM ps GROUP BY 1),
      |d AS (SELECT DISTINCT ps.l_suppkey
      |      FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
      |      WHERE CAST(ps.sq AS DOUBLE)
      |            > CAST(pt.tq AS DOUBLE) * CAST(0.3 AS DOUBLE))
      |SELECT s.s_suppkey, s.s_name, n.n_name
      |FROM supplier s
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE s.s_suppkey IN (SELECT l_suppkey FROM d)
      |ORDER BY s.s_name, s.s_suppkey""".stripMargin))

  /** TPC-H Q11 shape (important stock): parts whose inventory value —
    * held by one region's suppliers — concentrates above the corpus mean
    * (the dataset has no partsupp, so value is derived from observed
    * shipments; TPC-H's 0.0001/SF share threshold is restated
    * scale-free as "> 1.5× the mean per-part value" so the query is
    * non-degenerate at every SF). The per-part rollup feeds BOTH the
    * filter probe and the 1-row total/count anchor; explicit isnotnull
    * on the join/group keys keeps the two consumers canonically
    * identical, so the region-pruned fact scan + rollup evaluate ONCE
    * (ReusedExchange) and the anchor broadcasts back as a 1×n stream —
    * the q116/q129 global-anchor pattern, never a shuffle. Completes
    * the 22/22 TPC-H shape coverage. */
  def importantStock(s: SparkSession, dir: String): DataFrame = {
    val eur = T(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(T(s, dir, "nation").select("n_nationkey", "n_regionkey")
        .join(broadcast(T(s, dir, "region").filter(col("r_name") === "EUROPE")
          .select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val value = T(s, dir, "lineitem")
      .filter(col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(eur, col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).as("__val"))
    val anchor = value.agg(sum(col("__val")).as("__tot"),
      count(lit(1)).as("__cnt"))
    value
      .join(broadcast(anchor))
      .filter(col("__val").cast("double") >
        lit(1.5) * (col("__tot").cast("double") / col("__cnt").cast("double")))
      .select(col("l_partkey").as("p_partkey"),
        col("__val").cast("double").as("stock_value"))
      .orderBy(desc("stock_value"), col("p_partkey"))
  }
  // q135: the anchor division (1.5 × tot/cnt) is a fixed-order IEEE chain
  // on values both engines derive exactly (DECIMAL sum, bigint count).
  query("q135_important_stock", importantStock, bench = true, oracle = OracleSql(
    """WITH es AS (
      |  SELECT s.s_suppkey
      |  FROM supplier s
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  WHERE r.r_name = 'EUROPE'),
      |v AS (
      |  SELECT l.l_partkey,
      |    sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS val
      |  FROM lineitem l JOIN es ON l.l_suppkey = es.s_suppkey
      |  GROUP BY 1),
      |t AS (SELECT sum(val) AS tot, count(*) AS cnt FROM v)
      |SELECT v.l_partkey AS p_partkey, CAST(v.val AS DOUBLE) AS stock_value
      |FROM v, t
      |WHERE CAST(v.val AS DOUBLE)
      |      > CAST(1.5 AS DOUBLE) * (CAST(t.tot AS DOUBLE) / CAST(t.cnt AS DOUBLE))
      |ORDER BY stock_value DESC, p_partkey""".stripMargin))

  /** FUNCTIONAL-DEPENDENCY / CANDIDATE-KEY discovery
    * ([[graft.operators.Profile.functionalDeps]]) over orders' id/status/
    * priority columns — the schema-inference report beside q170's value
    * profile: `a → b` iff distinct(a) = distinct(a,b) (the classic
    * count-based FD test), key-candidacy iff distinct(a) = rows. ONE scan,
    * one Expand aggregation (the q170 documented exact-profiling cost),
    * declarative 1-row explode reshape; exact longs + equality compares —
    * engine-exact. The planted truth: o_orderkey keys the table and
    * determines everything; nothing else determines anything — both
    * branches of `holds` live at every SF. */
  def fdProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.functionalDeps(T(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
  // q197: one UNION ALL branch per key/FD row, explicit NULL contract.
  query("q197_fd_profile", fdProfile, bench = true, oracle = OracleSql(
    fdOracleSql("orders",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))))

  /** The q197 oracle: one UNION ALL branch per key/FD row, the same
    * count-distinct arithmetic with the NULL contract stated explicitly. */
  private def fdOracleSql(table: String, cols: Seq[String]): String = {
    val keyRows = cols.map { c =>
      s"""SELECT '$c' AS determinant, '*' AS dependent,
         |  CAST((SELECT count(DISTINCT $c) FROM $table) AS BIGINT) AS n_determinant,
         |  CAST((SELECT count(*) FROM $table) AS BIGINT) AS n_pair""".stripMargin
    }
    // n_determinant carries the SAME null filter as the pair count (the
    // Profile.functionalDeps contract): count(DISTINCT a) over rows whose
    // dependent is non-NULL — filtering only one side lets opposing errors
    // cancel on data where a determinant value appears only with NULLs
    val fdRows = for (a <- cols; b <- cols if a != b) yield
      s"""SELECT '$a', '$b',
         |  CAST((SELECT count(DISTINCT $a) FROM $table
         |        WHERE $b IS NOT NULL) AS BIGINT),
         |  CAST((SELECT count(*) FROM (SELECT DISTINCT $a, $b FROM $table
         |        WHERE $a IS NOT NULL AND $b IS NOT NULL) t) AS BIGINT)""".stripMargin
    s"""SELECT determinant, dependent, n_determinant, n_pair,
       |  n_determinant = n_pair AS holds
       |FROM (
       |${(keyRows ++ fdRows).mkString("\nUNION ALL\n")}
       |) u
       |ORDER BY 1, 2""".stripMargin
  }
}
