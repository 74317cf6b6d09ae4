package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Loops}
import ChoirQueries.sessionize

/** Multimodal decoding and perceptual near-dups, and the structured
  * streaming queries (windowed appends, stream joins, sessions, curation
  * gates). */
object StreamingQueries extends QueryFamily {
  import Shared._

  /** The q150/q173/q184 restatement of the stream join: the body of the `v`
    * (views) CTE, `p` (purchases), the final watermark `wm` (the min over
    * both sources of the ms-floored max event time, less 30 minutes) and the
    * inner `matched` pairs. */
  private val viewPurchaseSql: String =
    """|  SELECT user_id, ts AS view_ts, event_id AS view_event
      |  FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT user_id, ts AS purchase_ts, event_id AS purchase_event, value
      |  FROM events WHERE event_type = 'purchase'),
      |wm AS (
      |  SELECT least(
      |    (SELECT date_trunc('milliseconds', max(view_ts)) FROM v),
      |    (SELECT date_trunc('milliseconds', max(purchase_ts)) FROM p))
      |    - INTERVAL 30 MINUTE AS w),
      |matched AS (
      |  SELECT v.user_id, v.view_ts, v.view_event,
      |    p.purchase_ts, p.purchase_event, p.value
      |  FROM v JOIN p ON v.user_id = p.user_id
      |    AND p.purchase_ts >= v.view_ts
      |    AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR),""".stripMargin

  /** The body of the q150/q173 left-side sweep: views with no purchase
    * within the hour, null-padded; the caller adds the watermark bound. */
  private val unmatchedViewsSql: String =
    """|  SELECT v.user_id, v.view_ts, v.view_event,
      |    CAST(NULL AS TIMESTAMP_NS) AS purchase_ts,
      |    CAST(NULL AS BIGINT) AS purchase_event,
      |    CAST(NULL AS DOUBLE) AS value
      |  FROM v
      |  WHERE NOT EXISTS (
      |      SELECT 1 FROM p
      |      WHERE p.user_id = v.user_id
      |        AND p.purchase_ts >= v.view_ts
      |        AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR)""".stripMargin

  /** The q173/q184 right-side sweep: purchases with no view in the hour
    * before them, null-padded once the final watermark passed their
    * timestamp. */
  private val unmatchedPurchasesSql: String =
    """unmatched_p AS (
      |  SELECT p.user_id,
      |    CAST(NULL AS TIMESTAMP_NS) AS view_ts,
      |    CAST(NULL AS BIGINT) AS view_event,
      |    p.purchase_ts, p.purchase_event, p.value
      |  FROM p
      |  WHERE NOT EXISTS (
      |      SELECT 1 FROM v
      |      WHERE v.user_id = p.user_id
      |        AND p.purchase_ts >= v.view_ts
      |        AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR)
      |    AND p.purchase_ts < (SELECT w FROM wm))""".stripMargin

  private lazy val imagePhashPairsOracle: String =
    """SELECT CAST(i AS BIGINT) AS id_a,
      |  CAST(i + 100000 AS BIGINT) AS id_b,
      |  CAST(0 AS BIGINT) AS hamming
      |FROM range(600) t(i)
      |WHERE i % 3 = 0 AND i % 97 <> 13
      |ORDER BY 1, 2""".stripMargin

  /** Multimodal decode over the deterministic synthetic media table — REAL
    * codecs (BMP via ImageIO, WAV via AudioSystem, motion-BMP first-frame)
    * behind batched shuffle-free mapPartitions: per-kind metadata aggregate,
    * oracled because the deterministic encoders make every decoded field a
    * pure function of media_id; ids with id%97==13 carry corrupt payloads,
    * so the valid=false path is part of the oracled output. */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.decode(
      graft.multimodal.Multimodal.syntheticMedia(s, 500))
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("width")).as("sum_width"),
        sum(col("height")).as("sum_height"),
        sum(col("n_bytes")).as("sum_bytes"),
        sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"))
      .orderBy("kind")
  // The synthetic media header fields are pure functions of media_id
  // (kind = id%3, width = 16+(id%7)*8, height = 16+(id%5)*8,
  // total bytes = 9-byte header + 64 + id%32), so DuckDB can recompute the
  // aggregate from a range — oracling the decode plumbing end to end.
  // q25: every decoded field restated as arithmetic over range(500) —
  // image, even ids: 24-bit BMP (54-byte header + 3*w*h pixels; w is a
  // multiple of 8 so the stride pads to exactly 3*w); image, odd ids:
  // stored-block PNG (68 bytes of framing + h*(1+3*w) raw scanlines —
  // uncompressed deflate keeps the size closed-form); audio: 16-bit PCM
  // WAV (44-byte header + 2*ch*samples), width = samples, height = rate;
  // video: motion-BMP of 2+(i%4) 16x16 frames, 822 bytes each; i%97==13:
  // corrupt 16-byte payload, NULL dims, valid=false.
  query("q25_multimodal_decode", multimodalDecode, bench = false, oracle = OracleSql(
    """SELECT kind, count(*) AS n_media,
      |  CAST(sum(w) AS BIGINT) AS sum_width,
      |  CAST(sum(h) AS BIGINT) AS sum_height,
      |  CAST(sum(nb) AS BIGINT) AS sum_bytes,
      |  CAST(sum(ok) AS BIGINT) AS n_valid
      |FROM (SELECT
      |        CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image'
      |             WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |        CASE WHEN i % 97 = 13 THEN NULL
      |             WHEN i % 3 = 0 THEN 16 + (i % 7) * 8
      |             WHEN i % 3 = 1 THEN 64 + (i % 32)
      |             ELSE 16 END AS w,
      |        CASE WHEN i % 97 = 13 THEN NULL
      |             WHEN i % 3 = 0 THEN 16 + (i % 5) * 8
      |             WHEN i % 3 = 1 THEN 8000
      |             ELSE 16 END AS h,
      |        CASE WHEN i % 97 = 13 THEN 16
      |             WHEN i % 6 = 0 THEN 54 + 3 * (16 + (i % 7) * 8) * (16 + (i % 5) * 8)
      |             WHEN i % 3 = 0 THEN 68 + (16 + (i % 5) * 8) * (1 + 3 * (16 + (i % 7) * 8))
      |             WHEN i % 3 = 1 THEN 44 + 2 * (1 + (i % 2)) * (64 + (i % 32))
      |             ELSE (2 + (i % 4)) * 822 END AS nb,
      |        CASE WHEN i % 97 = 13 THEN 0 ELSE 1 END AS ok
      |      FROM range(500) t(i))
      |GROUP BY kind ORDER BY kind""".stripMargin))

  /** Format-independent image dedup
    * ([[graft.multimodal.Multimodal.dHash64]]): the synthetic image corpus
    * unioned with its BMP TRANSCODES (same pixels, different container,
    * different bytes — byte-level hashing can never pair them), perceptual-
    * hashed scan-locally, paired by the banded-Hamming equi-join. dHash is
    * a pure integer function of the raster, so each (original, transcode)
    * pair sits at Hamming 0 and the full pair set is closed-form — the
    * range-arithmetic DuckDB mirror (the q25 oracle pattern) checks it
    * row-for-row. Unrelated images land ~32 bits apart; none fall within
    * the budget (frozen corpus, verified). */
  /** Shared by q125/q126: the image corpus ∪ its BMP transcodes,
    * perceptual-hashed, invalid rows dropped. */
  private def imagePhashCorpus(s: SparkSession): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val media = mm.syntheticMedia(s, 600).filter(col("kind") === "image")
    val copies = mm.transcodeToBmp(media)
      .filter(col("transcoded"))
      .select((col("media_id") + lit(100000L)).as("media_id"),
        col("kind"), col("payload"))
    val all = media.select("media_id", "kind", "payload").unionByName(copies)
    mm.perceptualHash(all).filter(col("valid"))
  }

  def imagePhashDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.hammingNearDupPairs(
      imagePhashCorpus(s), "media_id", "phash", bits = 64, maxHamming = 2)
      .orderBy("id_a", "id_b")
  // q125 + q127 (the HammingJoinRewrite declarative form — rewrite is
  // multiplicity-exact, so the SAME oracle): dHash is a pure integer
  // function of the raster, so every
  // (original, pixel-exact BMP transcode) pair is Hamming 0 and the whole
  // pair set follows from the generator arithmetic (the q25 pattern):
  // images are i%3=0, the corrupt lane i%97=13 never decodes, transcode
  // ids are i+100000, and no unrelated pair falls inside the budget on
  // the frozen corpus.
  query("q125_image_phash_dedup", imagePhashDedup, bench = true,
    oracle = OracleSql(imagePhashPairsOracle))

  /** q125 written the NAIVE way — crossJoin + bit_count(xor) ≤ k, the form
    * every PlanSpec sweep forbids as a cartesian — relying on
    * [[graft.plans.HammingJoinRewrite]] to derive the banded equi-join
    * union at optimization time. Shares q125's oracle (the rewrite is
    * multiplicity-exact), and the all-queries BNLJ sweep doubles as the
    * rule's regression net: if the rewrite ever stops firing, this query
    * plans a CartesianProduct and the sweep fails. */
  def imagePhashDedupDeclarative(s: SparkSession, dir: String): DataFrame = {
    val h = imagePhashCorpus(s)
    val a = h.select(col("media_id").as("id_a"), col("phash").as("__fp_a"))
    val b = h.select(col("media_id").as("id_b"), col("phash").as("__fp_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b") &&
        bit_count(col("__fp_a").bitwiseXOR(col("__fp_b"))) <= 2)
      .select(col("id_a"), col("id_b"),
        bit_count(col("__fp_a").bitwiseXOR(col("__fp_b"))).cast("long")
          .as("hamming"))
      .orderBy("id_a", "id_b")
  }
  query("q127_hamming_join_rewrite", imagePhashDedupDeclarative, bench = true,
    oracle = OracleSql(imagePhashPairsOracle))

  /** q125 composed to DEDUP GROUPS: the Hamming pairs feed the alternating-
    * star connected components (min-id representative), singletons
    * self-keep — one (media_id, keeper_id) row per hashed image, the
    * media-side canonicalization table a curation pipeline joins on to drop
    * duplicate rasters. Here every original pairs with exactly its
    * transcode, so keeper = the original id throughout — closed-form for
    * the oracle. */
  def imageDupGroups(s: SparkSession, dir: String): DataFrame = {
    val hashes = imagePhashCorpus(s)
    val pairs = graft.operators.Dedup.hammingNearDupPairs(
      hashes, "media_id", "phash", bits = 64, maxHamming = 2)
    val comp = graft.operators.Dedup
      .connectedComponentsLogRoundsStrict(pairs)
      .withColumnRenamed("id", "media_id")
    hashes.select("media_id")
      .join(comp, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("comp"), col("media_id")).as("keeper_id"))
      .orderBy("media_id")
  }
  // q126: min-id components over the q125 pair set — every original keeps
  // itself, every transcode keeps its original.
  query("q126_image_dup_groups", imageDupGroups, bench = true, oracle = OracleSql(
    """WITH v AS (SELECT CAST(i AS BIGINT) AS i FROM range(600) t(i)
      |           WHERE i % 3 = 0 AND i % 97 <> 13)
      |SELECT i AS media_id, i AS keeper_id FROM v
      |UNION ALL
      |SELECT i + 100000, i FROM v
      |ORDER BY 1""".stripMargin))

  private val streamWindowRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The WATERMARKED APPEND-MODE streaming surface, driver-oracled — the
    * state-store behavior q105 (stateless) and q121 (complete-mode) leave
    * unexercised: events stream in four time-ordered micro-batches through
    * [[graft.streaming.EventStream.windowedCountsExact]] (1-hour tumbling
    * windows, 30-minute watermark) into an APPEND sink, so a window row is
    * emitted exactly once — when the advancing watermark EVICTS its state —
    * and never retracted. The accumulated sink is therefore "every window
    * finalized by the final watermark", a set batch SQL states exactly:
    * windows whose end ≤ max(ts) − 30 min (watermark timestamps are
    * millisecond-floored; whole-hour window ends make the floor
    * unobservable). Files are range-split ON ts and their modification
    * times stamped in range order (FileStreamSource picks oldest-first), so
    * batches arrive in event-time order and NO row is ever late-dropped —
    * the property that makes the streamed result batch-equal. Counts are
    * exact longs; the value sum rides DECIMAL (order-independent), so the
    * driver hash-compares bit-for-bit.
    *
    * Scale shape: one keyed state store bounded by (windows inside the
    * watermark horizon × event types) — eviction is the point; the batch
    * equivalent is one map-side-combined rollup. */
  /** Write `df` as `parts` range-split parquet files whose modification
    * times replay in `tsCol` order — FileStreamSource picks oldest-first,
    * so a `maxFilesPerTrigger=1` stream over the returned directory
    * delivers micro-batches in EVENT-TIME order (the q142 contract that
    * makes watermarked streamed results batch-equal: no row ever arrives
    * late). A filesystem that refuses the stamp would reorder batches and
    * silently late-drop rows — fail loudly instead. */
  private def stampedTsReplay(df: DataFrame, tsCol: String, parts: Int,
      prefix: String): String = {
    val src = java.nio.file.Files.createTempDirectory(prefix).toString
    df.repartitionByRange(parts, col(tsCol)).write.mode("overwrite").parquet(src)
    val files = new java.io.File(src).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    files.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(1700000000000L + i * 60000L),
        s"could not stamp modification time on ${f.getName} — " +
          "batch order (and therefore watermark semantics) would be undefined")
    }
    src
  }

  def streamWindowedAppend(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("ts"), col("event_type"), col("value"))
    val src = stampedTsReplay(ev, "ts", 4, "q142_src")
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val counted = graft.streaming.EventStream
      .windowedCountsExact(stream, "30 minutes", "1 hour")
    val sink = s"q142_sink_${streamWindowRuns.incrementAndGet()}"
    val q = counted.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // materialize, then release the run's resources — without this every
    // invocation leaks a temp parquet dir and an accumulating memory-sink
    // table (repeated correctness runs grow disk + driver heap unboundedly)
    val out = Loops.checkpoint(
      s.table(sink).orderBy("window_start", "event_type"), eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(src)
    out
  }
  // q142: the append-mode accumulated sink IS "every window the final
  // watermark finalized": window_end <= max(ts) - 30 min (eviction is <=,
  // pinned by the boundary spec). Spark floors watermark timestamps to ms
  // while this states ns arithmetic — unobservable against whole-hour
  // window ends (a sub-ms shift cannot cross an hour boundary). Counts
  // are exact longs; the sum rides DECIMAL(18,2), order-independent on
  // both engines.
  query("q142_stream_windowed_append", streamWindowedAppend, bench = false, oracle = OracleSql(
    """WITH mx AS (SELECT max(ts) AS m FROM events),
      |agg AS (
      |  SELECT date_trunc('hour', ts) AS ws, event_type,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2)
      |SELECT CAST(ws AS TIMESTAMP) AS window_start, event_type, n_events,
      |  sum_value
      |FROM agg, mx
      |WHERE ws + INTERVAL 1 HOUR <= mx.m - INTERVAL 30 MINUTE
      |ORDER BY window_start, event_type""".stripMargin))

  /** The STREAM-STREAM JOIN surface, driver-oracled — the one Structured
    * Streaming join shape the registered rows (stateless gate q105,
    * complete-mode agg q121, append windowed agg q142, index maintenance
    * q147) leave unexercised: view events and purchase events run as TWO
    * independent watermarked file streams through
    * [[graft.streaming.EventStream.correlateStreams]] (user-keyed interval
    * join: purchase within 1 hour AFTER the view — the attribution
    * correlation), APPEND sink, both sides replayed in event-time order
    * ([[stampedTsReplay]]).
    *
    * Batch equality (what makes it DuckDB-oracle-able): the global
    * watermark is the MIN over both sources, each replayed in ts order, so
    * no row ever arrives behind it (nothing late-drops) and state eviction
    * only ever discards rows past the join bound — the accumulated sink IS
    * the batch interval join. Timestamps are exact µs on both engines
    * (generator is µs-aligned; probed), the bound is integer-interval
    * arithmetic, and the joined rows carry RAW columns (no float math), so
    * the driver hash-compares bit-for-bit.
    *
    * Scale shape: per-side state is bounded by the watermark horizon × the
    * join window (eviction is the point); the batch equivalent is one
    * user-keyed equi-join with the time bound as a residual predicate. */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame =
    viewPurchaseJoin(s, dir, "q149", joinType = "inner")
  // q149: the append-mode accumulated sink of the watermarked
  // stream-stream interval join IS the batch interval join (event-time-
  // ordered replay on both sides, min-watermark across sources ⇒ no
  // late drops). Exact µs timestamps, integer interval bound, raw
  // columns — bit-for-bit hash.
  query("q149_stream_stream_join", streamStreamJoin, bench = false, oracle = OracleSql(
    """SELECT l.user_id, l.ts AS view_ts, l.event_id AS view_event,
      |  r.ts AS purchase_ts, r.event_id AS purchase_event, r.value
      |FROM events l JOIN events r ON l.user_id = r.user_id
      |WHERE l.event_type = 'view' AND r.event_type = 'purchase'
      |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin))

  private val streamJoinRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The view → purchase correlation of q149/q150/q173/q184: view and
    * purchase events replay in event-time order as two file streams
    * ([[stampedTsReplay]]) into
    * [[graft.streaming.EventStream.correlateStreams]] (per user, purchase
    * within 1 hour after the view, `joinType`), and the accumulated APPEND
    * sink is the result. `tag` names the replay dirs and the sink. */
  private def viewPurchaseJoin(s: SparkSession, dir: String, tag: String,
      joinType: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_event"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_event"), col("value"))
    val srcV = stampedTsReplay(views, "view_ts", 4, s"${tag}_views")
    val srcP = stampedTsReplay(purchases, "purchase_ts", 4, s"${tag}_purchases")
    val vStream = s.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcV)
    val pStream = s.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcP)
    val joined = graft.streaming.EventStream.correlateStreams(
      vStream, "view_ts", pStream, "purchase_ts",
      keys = Seq("user_id"), watermark = "30 minutes", within = "1 HOUR",
      joinType = joinType)
    val sink = s"${tag}_sink_${streamJoinRuns.incrementAndGet()}"
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = Loops.checkpoint(s.table(sink)
      .orderBy("user_id", "view_ts", "view_event", "purchase_ts", "purchase_event"),
      eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(srcV)
    deleteDirTree(srcP)
    out
  }

  /** The LEFT-OUTER stream-stream join, driver-oracled — q149's completion
    * semantics: a view whose 1-hour match window closes UNMATCHED is
    * emitted once with null purchase columns at state-eviction time (the
    * only moment a stream can prove "no purchase ever came"), while views
    * whose window the final watermark never passed remain buffered and are
    * ABSENT from the sink. That eviction-gated tail is exactly what batch
    * SQL can state: the final watermark is min over both sources of
    * (ms-floored max event time − 30 min), and an unmatched view emits iff
    * `view_ts + 1 hour < watermark` (the strict inequality pinned against
    * the engine at every SF — Spark evicts left state strictly below the
    * watermark-derived bound). Matched rows are q149's rows unchanged.
    * Everything else (ordered replay, min-watermark no-late-drops, exact µs
    * arithmetic, raw columns) carries over from q149. */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame =
    viewPurchaseJoin(s, dir, "q150", joinType = "left_outer")
  // q150: q149's matched rows UNION the watermark-closed unmatched views
  // (null purchase columns). The final watermark = min over both sources
  // of (ms-floored max event time − 30 min); an unmatched view emits iff
  // its 1-hour window END is strictly below it — Spark's left-outer
  // eviction rule, restated relationally and pinned at every SF.
  query("q150_stream_outer_join", streamOuterJoin, bench = false, oracle = OracleSql(
    s"""WITH v AS (
      |$viewPurchaseSql
      |unmatched AS (
      |$unmatchedViewsSql
      |    AND v.view_ts + INTERVAL 1 HOUR < (SELECT w FROM wm))
      |SELECT * FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin))

  /** The FULL-OUTER stream-stream join, driver-oracled — the last cell of
    * the streaming join matrix (q149 inner, q150 left-outer): BOTH sides'
    * completeness sweeps in one stream. Unmatched views null-pad exactly as
    * q150 pinned (`view_ts + 1 hour < watermark`, strict); unmatched
    * purchases null-pad at THEIR state eviction — a purchase at `t` can
    * still match a future view iff a view with `view_ts <= t` can still
    * arrive, which the watermark forecloses once it passes `t`, so the
    * emission rule is `purchase_ts < watermark` (strict, pinned against the
    * engine at every SF like q150's left rule). Key columns COALESCE across
    * sides, so right-only rows carry their user_id. Everything else
    * (ordered replay, min-watermark no-late-drops, exact µs arithmetic, raw
    * columns) carries over from q149/q150. */
  def streamFullOuterJoin(s: SparkSession, dir: String): DataFrame =
    viewPurchaseJoin(s, dir, "q173", joinType = "full_outer")
  // q173: q150's matched + unmatched-left sets plus the symmetric
  // unmatched-right set — a purchase with no view in [ts − 1h, ts] for
  // its user emits null-padded iff the final watermark passed its
  // timestamp STRICTLY (right-state eviction: a future left row could
  // still match it only while view_ts <= purchase_ts remains possible).
  // user_id coalesces across sides, so right-only rows carry it.
  query("q173_stream_full_outer_join", streamFullOuterJoin, bench = false, oracle = OracleSql(
    s"""WITH v AS (
      |$viewPurchaseSql
      |unmatched_v AS (
      |$unmatchedViewsSql
      |    AND v.view_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)),
      |$unmatchedPurchasesSql
      |SELECT * FROM (SELECT * FROM matched
      |  UNION ALL SELECT * FROM unmatched_v
      |  UNION ALL SELECT * FROM unmatched_p)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |  4 NULLS FIRST, 5 NULLS FIRST""".stripMargin))

  /** RIGHT-OUTER stream-stream join — the last cell of the streaming join
    * matrix (inner q149 / left q150 / full q173 / RIGHT q184): only the
    * unmatched PURCHASES null-pad, each exactly once at state eviction
    * (the watermark passes the purchase's own timestamp — the tightest
    * view a purchase at `t` can join sits at `view_ts = t`), while
    * matched pairs emit as they join. Same replay/watermark machinery as
    * q173; the oracle is q173's restatement MINUS the unmatched-view
    * tail — pinning that right_outer emits exactly the full_outer's
    * right-side sweep and nothing else. */
  def streamRightOuterJoin(s: SparkSession, dir: String): DataFrame =
    viewPurchaseJoin(s, dir, "q184", joinType = "right_outer")
  // q184: q173's restatement MINUS the unmatched-view tail — right_outer
  // must emit exactly the matched pairs plus the right-side sweep.
  query("q184_stream_right_outer_join", streamRightOuterJoin, bench = false, oracle = OracleSql(
    s"""WITH v AS (
      |$viewPurchaseSql
      |$unmatchedPurchasesSql
      |SELECT * FROM (SELECT * FROM matched
      |  UNION ALL SELECT * FROM unmatched_p)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |  4 NULLS FIRST, 5 NULLS FIRST""".stripMargin))

  /** The CUSTOM-KEYED-STATE streaming surface, driver-oracled — the
    * `flatMapGroupsWithState` shape (q105 stateless / q121 complete agg /
    * q142 windowed append / q149-q150 joins leave it the one uncovered
    * stateful primitive): gap sessionization through
    * [[graft.streaming.EventStream.sessionize]] (explicit per-user state,
    * event-time TIMEOUT closes idle sessions via the watermark), events
    * replayed in event-time order, APPEND sink.
    *
    * Batch restatement: the engine's state math runs on `Timestamp.getTime`
    * MILLISECONDS (sub-ms micros truncate — the generator has them, so the
    * oracle floors via `epoch_ns // 1 000 000`); with ordered replay a
    * user's sessions close two ways, both batch-expressible — by GAP (a
    * later event > 30 min after the session's last: every session except
    * the user's final one) or by TIMEOUT (the final watermark, ms-floored
    * max ts − 30 min, passes `last + gap` STRICTLY — the `hasTimedOut`
    * inequality pinned at every SF). A final session the watermark never
    * closed stays buffered and is ABSENT. Output pins the FULL row —
    * (user, bounds-ms, count, sum): bounds and count are exact integers,
    * and `sum_value` rides exact DECIMAL(18,2)-cents accumulation inside
    * the state (order-independent long addition — the q142 policy routed
    * through `flatMapGroupsWithState`), so the oracle hash-verifies every
    * emitted column, ms-tie arrival order included. */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    val src = stampedTsReplay(ev, "ts", 4, "q151_src")
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val sessions = graft.streaming.EventStream.sessionize(
      stream.as[graft.streaming.EventStream.Event],
      watermark = "30 minutes", gapMillis = 30L * 60 * 1000)
    val sink = s"q151_sink_${streamJoinRuns.incrementAndGet()}"
    val q = sessions.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = Loops.checkpoint(s.table(sink)
      .select(col("user_id"), unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("session_end")).as("last_ms"), col("n_events"),
        col("sum_value"))
      .orderBy("user_id", "start_ms"), eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(src)
    out
  }
  // q151: batch gap-islands over MS-FLOORED event times (the engine's
  // state math runs on Timestamp.getTime milliseconds; epoch_ns//1e6 is
  // the same floor), emitted = every session except each user's last
  // (gap-closed) plus last sessions whose `last + gap` the final
  // watermark passed STRICTLY (the hasTimedOut inequality). sum_value
  // rides per-row DECIMAL(18,2) rounding then exact decimal addition —
  // the identical arithmetic the state's cents accumulator performs
  // (q142's policy), so the FULL row hashes.
  query("q151_stream_sessionize", streamSessionize, bench = false, oracle = OracleSql(
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000000 AS ms,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |m AS (
      |  SELECT user_id, ms, v,
      |    CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
      |           > 1800000 THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |g AS (
      |  SELECT user_id, ms, v,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ms
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m),
      |sess AS (
      |  SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS last_ms,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(v) AS DOUBLE) AS sum_value
      |  FROM g GROUP BY 1, 2),
      |wm AS (SELECT max(epoch_ns(ts) // 1000000) - 1800000 AS w FROM events),
      |last_s AS (SELECT user_id, max(sid) AS mx FROM sess GROUP BY 1)
      |SELECT s.user_id, s.start_ms, s.last_ms, s.n_events, s.sum_value
      |FROM sess s JOIN last_s l ON s.user_id = l.user_id
      |WHERE s.sid < l.mx OR s.last_ms + 1800000 < (SELECT w FROM wm)
      |ORDER BY 1, 2""".stripMargin))

  /** VIDEO near-dup pairs ([[graft.multimodal.Multimodal.videoNearDupPairs]]):
    * the synthetic video corpus unioned with two planted variant families —
    * exact RE-ENCODES (same payload, new id) and TRIMMED copies (the
    * container REASSEMBLED from frame 1 onward: frameSample splits the
    * stream into standalone BMPs, a bounded sorted fold concatenates the
    * tail back into a valid motion-BMP — the declarative cut a video
    * pipeline performs). dHash per frame is a pure integer function of the
    * raster, the generator's frame seeds (id·31 + f) are collision-free
    * across the corpus and frames are distinct within each video (frozen
    * corpus, spec-verified), so the pair set is CLOSED FORM: each
    * non-corrupt video (f = 2 + id%4 frames) pairs with its re-encode at
    * Jaccard 1 and both pair with the trim at (f−1)/f — the q125/q25
    * range-arithmetic oracle pattern, jaccard as the identical integer
    * division on both engines. Corrupt videos walk zero frames and emit
    * nothing. */
  def videoNearDup(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val media = mm.syntheticMedia(s, 600).filter(col("kind") === "video")
      .select("media_id", "kind", "payload")
    val copies = media.select((col("media_id") + lit(100000L)).as("media_id"),
      col("kind"), col("payload"))
    val trimmed = mm.frameSample(media, everyK = 1)
      .filter(col("frame_idx") >= 1)
      .groupBy("media_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("frame_idx"), col("frame")))),
        lit(Array.emptyByteArray),
        (acc, x) => concat(acc, x.getField("frame"))).as("payload"))
      .select((col("media_id") + lit(200000L)).as("media_id"),
        lit("video").as("kind"), col("payload"))
    mm.videoNearDupPairs(
      media.unionByName(copies).unionByName(trimmed), minJaccard = 0.3)
      .orderBy("id_a", "id_b")
  }
  // q144: the planted-structure closed form (the q125/q25 pattern) —
  // video ids are i%3=2 over range(600), corrupt ids (i%97=13) emit
  // nothing, frame count f = 2 + i%4 from the generator arithmetic;
  // re-encode pairs share all f hashes (jaccard f/f = 1.0 exactly), trim
  // pairs share f-1 of f — the identical integer division on both
  // engines, no rounding needed.
  query("q144_video_neardup", videoNearDup, bench = true, oracle = OracleSql(
    """WITH v AS (
      |  SELECT i AS id, 2 + (i % 4) AS f
      |  FROM range(600) t(i)
      |  WHERE i % 3 = 2 AND i % 97 <> 13),
      |p AS (
      |  SELECT id AS id_a, id + 100000 AS id_b, f AS n_shared,
      |    CAST(f AS DOUBLE) / CAST(f AS DOUBLE) AS jaccard FROM v
      |  UNION ALL
      |  SELECT id, id + 200000, f - 1,
      |    CAST(f - 1 AS DOUBLE) / CAST(f AS DOUBLE) FROM v
      |  UNION ALL
      |  SELECT id + 100000, id + 200000, f - 1,
      |    CAST(f - 1 AS DOUBLE) / CAST(f AS DOUBLE) FROM v)
      |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
      |  CAST(n_shared AS BIGINT) AS n_shared, jaccard
      |FROM p ORDER BY id_a, id_b""".stripMargin))

  /** AUDIO near-dup pairs — the third modality closing the dedup symmetry
    * (q125 image, q144 video): the synthetic audio corpus unioned with its
    * STEREO RE-LAYOUTS ([[graft.multimodal.Multimodal.toStereoDup]] — every
    * mono clip re-containered as duplicated-channel stereo: same content,
    * twice the bytes, byte hashing can never pair them), hashed by the
    * 64-bit envelope-gradient hash ([[graft.multimodal.Multimodal
    * .audioEnvelopeHash64]], a pure function of per-frame channel MEANS —
    * exactly layout-invariant), paired by the banded-Hamming equi-join at
    * distance 0. Closed form (the q125/q144 pattern): each non-corrupt MONO
    * audio id (i%3=1, i%2=0, i%97≠13) pairs with its re-layout at Hamming
    * 0; envelope hashes are distinct across clips on the frozen generator
    * (spec-pinned), so no other pair exists. */
  def audioDupPairs(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val media = mm.syntheticMedia(s, 600).filter(col("kind") === "audio")
      .select("media_id", "kind", "payload")
    val stereo = mm.toStereoDup(media).filter(col("stereoized"))
      .select((col("media_id") + lit(100000L)).as("media_id"),
        col("kind"), col("payload"))
    val hashes = mm.audioHash(media.unionByName(stereo)).filter(col("valid"))
      .select(col("media_id"), col("ahash"))
    graft.operators.Dedup.hammingNearDupPairs(
      hashes, "media_id", "ahash", bits = 64, maxHamming = 0)
      .orderBy("id_a", "id_b")
  }
  // q145: the q144 closed form for audio — audio ids are i%3=1, mono ones
  // even, corrupt (i%97=13) excluded; each mono clip pairs with its
  // stereo re-layout at Hamming 0 (the envelope hash is exactly
  // layout-invariant), and the frozen generator yields no other pair
  // within distance 0 (spec-pinned distinctness).
  query("q145_audio_neardup", audioDupPairs, bench = true, oracle = OracleSql(
    """SELECT CAST(i AS BIGINT) AS id_a,
      |  CAST(i + 100000 AS BIGINT) AS id_b,
      |  CAST(0 AS BIGINT) AS hamming
      |FROM range(600) t(i)
      |WHERE i % 3 = 1 AND i % 2 = 0 AND i % 97 <> 13
      |ORDER BY id_a, id_b""".stripMargin))

  /** MEASURED RECALL for the perceptual near-dup kernels — the q80 posture
    * extended to q144/q145, closing "robustness is a property of the
    * generator, not a number": each planted pair is a non-corrupt media row
    * versus a REAL perturbed re-encode of itself —
    * [[graft.multimodal.Multimodal.lumaNudge]] (+1 on every pixel byte,
    * clipped — the lossy-transcode shift) for video,
    * [[graft.multimodal.Multimodal.scaleAmplitude]] (×9/10 integer
    * requantization) for audio — and the report row counts how many planted
    * pairs the kernel recovers at its operating thresholds. Rows-only (the
    * recall denominators are deterministic but the perturbed payloads are
    * not SQL-expressible); the kernels' EXACTNESS is separately
    * driver-hash-verified by q144/q145, and MultimodalSpec asserts floors
    * on these same numbers so a robustness regression fails the suite, not
    * just the report. */
  def perceptualRecall(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    def row(kernel: String, truth: DataFrame, found: DataFrame): DataFrame = {
      val hit = truth.join(found.select("id_a", "id_b"),
        Seq("id_a", "id_b"), "left_semi").agg(count(lit(1)).as("n_hit"))
      truth.agg(count(lit(1)).as("n_exact")).crossJoin(hit).select(
        lit(kernel).as("kernel"), col("n_exact"), col("n_hit"),
        when(col("n_exact") > 0,
          col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
    }
    // the perturb/decode/hash passes are the expensive part and every frame
    // below is referenced 2-4 times (two video thresholds, two Hamming
    // radii, truth + corpus per kernel) — checkpoint each once (the q147
    // posture) instead of re-running the codec work per report row
    val media = mm.syntheticMedia(s, 600)
    val videos = media.filter(col("kind") === "video")
      .select("media_id", "kind", "payload")
    val nudged = Loops.checkpoint(
      mm.lumaNudge(videos, delta = 1).filter(col("nudged")), eager = true)
    val vTruth = nudged.select(col("media_id").as("id_a"),
      (col("media_id") + lit(100000L)).as("id_b"))
    val vCorpus = Loops.checkpoint(videos.unionByName(
      nudged.select((col("media_id") + lit(100000L)).as("media_id"),
        col("kind"), col("payload"))), eager = true)
    val audio = media.filter(col("kind") === "audio")
      .select("media_id", "kind", "payload")
    val ascaled = Loops.checkpoint(
      mm.scaleAmplitude(audio, 9, 10).filter(col("scaled")), eager = true)
    val aTruth = ascaled.select(col("media_id").as("id_a"),
      (col("media_id") + lit(100000L)).as("id_b"))
    val aHashes = Loops.checkpoint(mm.audioHash(audio.unionByName(
        ascaled.select((col("media_id") + lit(100000L)).as("media_id"),
          col("kind"), col("payload"))))
      .filter(col("valid")).select("media_id", "ahash"), eager = true)
    def audioPairs(maxHamming: Int) = graft.operators.Dedup
      .hammingNearDupPairs(aHashes, "media_id", "ahash",
        bits = 64, maxHamming = maxHamming)
    Seq(
      row("q144_video_vs_lumanudge_j05", vTruth,
        mm.videoNearDupPairs(vCorpus, minJaccard = 0.5)),
      row("q144_video_vs_lumanudge_j03", vTruth,
        mm.videoNearDupPairs(vCorpus, minJaccard = 0.3)),
      row("q145_audio_vs_ampscale_h0", aTruth, audioPairs(0)),
      row("q145_audio_vs_ampscale_h2", aTruth, audioPairs(2))
    ).reduce(_ unionAll _).orderBy("kernel")
  }
  query("q148_perceptual_recall", perceptualRecall, bench = false,
    oracle = NoOracle("the perturbed media payloads are not SQL-expressible; MultimodalSpec " +
      "asserts its recall floors"))

  private val streamKmvRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** STREAMED KMV SKETCH MAINTENANCE, batch-equality ORACLED
    * ([[graft.streaming.EventStream.kmvSketchStream]]): the q190 per-day
    * distinct-user sketches maintained as STREAMING STATE — events arrive
    * in 4 round-robin micro-batches (every day's rows split across ALL
    * batches, so each key's sketch is genuinely updated incrementally),
    * O(k) state per key forever, the live-dashboard form of the
    * cardinality rollup. The sketch is a SET property of the data, so the
    * streamed fixpoint equals the batch sketch EXACTLY under any arrival
    * interleaving — the same q190 day-grain oracle verifies the full row
    * (the q105/q167 batch-equality argument extended to STATEFUL
    * maintenance; latest state selected by the monotone n_seen counter,
    * no wall-clock anywhere). */
  def streamKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = userDays(s, dir)
    val src = java.nio.file.Files.createTempDirectory("q198_src").toString
    ev.repartition(4).write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val sk = graft.streaming.EventStream.kmvSketchStream(
      stream, "key", "user_id", KmvK)
    val sink = s"q198_sink_${streamKmvRuns.incrementAndGet()}"
    val q = sk.writeStream.format("memory").queryName(sink)
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val latest = s.table(sink).groupBy("key")
      .agg(max_by(col("kmv"), col("n_seen")).as("kmv"))
    val exact = ev.groupBy("key")
      .agg(countDistinct("user_id").as("exact_distinct"))
    val out = Loops.checkpoint(latest.select(col("key"),
        size(col("kmv")).cast("long").as("n_kept"),
        when(size(col("kmv")) >= KmvK, element_at(col("kmv"), KmvK))
          .as("kth_min"),
        graft.operators.Kmv.estimate(col("kmv"), KmvK).as("est_distinct"))
      .join(exact, Seq("key"))
      .orderBy("key"), eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(src)
    out
  }
  // q198: the q190 day-grain arithmetic verbatim (no range row) — the
  // streamed sketch is a set property, so batch SQL verifies the
  // stateful stream's fixpoint exactly.
  query("q198_stream_kmv", streamKmvDistinct, bench = false, oracle = OracleSql(
    s"""WITH e AS (
      |$kmvDayHashesSql
      |sk AS (SELECT key, h, rn FROM r WHERE rn <= 64),
      |g AS (
      |  SELECT key, CAST(count(*) AS BIGINT) AS n_kept,
      |    CAST(max(CASE WHEN rn = 64 THEN h END) AS BIGINT) AS kth_min
      |  FROM sk GROUP BY 1),
      |ex AS (
      |  SELECT key,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      |  FROM e GROUP BY 1)
      |SELECT g.key, g.n_kept, g.kth_min,
      |  CASE WHEN g.n_kept < 64 THEN CAST(g.n_kept AS DOUBLE)
      |       ELSE CAST(135291469824 AS DOUBLE) / CAST(g.kth_min AS DOUBLE)
      |  END AS est_distinct,
      |  ex.exact_distinct
      |FROM g JOIN ex ON ex.key = g.key
      |ORDER BY 1""".stripMargin))

  private val streamCurateRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The STREAMING ingest gate, driver-oracled: documents.parquet is read as
    * a real file STREAM (Structured Streaming source, not a batch scan), run
    * through [[graft.streaming.EventStream.curateStream]] — language gate,
    * quality floor, token-range, PII scrub, the stage every arriving
    * micro-batch passes in the live pipeline — into a memory sink, and the
    * ACCUMULATED sink table is the query result. The gate is a stateless
    * projection+filter, so the streamed output equals the batch SQL over the
    * same parquet row-for-row (batch-equality) — which is exactly what makes
    * a streaming surface DuckDB-oracle-able: the oracle replays the q41
    * scoring mirror + the q54 scrub mirror with the gate cutoffs.
    *
    * Scale shape: the gate is scan-local per micro-batch (no shuffle, no
    * state store); the only nonlinearity in the whole run is the
    * presentation sort of the final accumulated frame. */
  def streamCurate(s: SparkSession, dir: String): DataFrame = {
    val schema = T(s, dir, "documents").schema
    val stream = s.readStream.schema(schema)
      // FileStreamSource wants a DIRECTORY; select the one table by glob
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select("doc_id", "text")
    val gated = graft.streaming.EventStream.curateStream(stream)
    val sink = s"q105_sink_${streamCurateRuns.incrementAndGet()}"
    val q = gated.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // materialize + drop the sink view (the q142 leak fix — an accumulating
    // memory-sink table per invocation grows driver heap across runs)
    val out = Loops.checkpoint(s.table(sink)
      .select(col("doc_id"), col("lang_pred"), col("quality_score"),
        col("n_tokens"), col("text").as("scrubbed"))
      .orderBy("doc_id"), eager = true)
    s.catalog.dropTempView(sink)
    out
  }
  // q105: the streaming ingest gate's batch-equality form — the q41
  // scoring mirror (lang/quality/tokens) + the q54 scrub nesting
  // (email → IP → phone, innermost first) with the Curation.Gate* cutoffs.
  query("q105_stream_curate", streamCurate, bench = false, oracle = OracleSql(
    s"""WITH base AS (
      |$curationBaseSql
      |  SELECT doc_id, text,
      |$curationFeatSql
      |    CAST(n_tokens AS BIGINT) AS n_tokens
      |  FROM base)
      |SELECT doc_id, lang_pred, quality_score, n_tokens,
      |  regexp_replace(regexp_replace(regexp_replace(coalesce(text,''),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
      |    '\\+[0-9]{7,15}', '<PHONE>', 'g') AS scrubbed
      |FROM feat
      |WHERE lang_pred = 'en' AND quality_score >= 0.5
      |  AND n_tokens BETWEEN 5 AND 1000
      |ORDER BY doc_id""".stripMargin))

  private val streamScoreRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** TRAIN OFFLINE, GATE ONLINE — the deployment shape of the q161
    * classifier: the model trains in batch (the identical GD loop, so the
    * weights are the bit-identical doubles q161's oracle replays), then
    * serves as a STATELESS streaming projection over the document stream
    * (the q105 class — scoring is scan-local column arithmetic, no state,
    * no watermark), so the accumulated APPEND sink equals batch scoring
    * row-for-row and q161's training-replay oracle verifies the whole
    * train→deploy→stream path. At 100 TB the serving side is the shape
    * that matters: a trained gate scores an ingest firehose without ever
    * touching the training corpus again. */
  def streamQualityScore(s: SparkSession, dir: String): DataFrame = {
    val feats = classifierFeatures
    val label = graft.functions.Heuristics.c4Keep(col("text"))
    val proj = T(s, dir, "documents").select(
      label.cast("double").as("__y") +: feats.map { case (n, c) => c.as(n) }: _*)
    proj.persist()
    val model =
      try graft.operators.Classifier.train(
        proj, feats.map(_._1), "__y", iters = 3, lr = 0.5,
        link = graft.operators.Classifier.Link.Softsign)
      finally { proj.unpersist(); () }
    val schema = T(s, dir, "documents").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val scored = round(model.score(feats.map(_._2)), 6)
    val gated = stream.select(
      col("doc_id"), label.cast("long").as("label"),
      scored.as("score"), (scored >= lit(0.5)).as("predicted"))
    val sink = s"q167_sink_${streamScoreRuns.incrementAndGet()}"
    val q = gated.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // materialize + release the sink view (the q142 hygiene)
    val out = Loops.checkpoint(s.table(sink).orderBy("doc_id"), eager = true)
    s.catalog.dropTempView(sink)
    out
  }
  // q167: the SAME oracle — offline training is q161's loop (weights
  // bit-identical) and the streamed stateless projection must equal
  // batch scoring row-for-row.
  query("q167_stream_quality_gate", streamQualityScore, bench = false,
    oracle = OracleSql(classifierOracleSql(3)))

  private val streamDedupRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The STATEFUL streaming surface, driver-oracled (q105's stateless
    * sibling): documents are re-laid as FOUR range-split files and streamed
    * one file per micro-batch through
    * [[graft.streaming.EventStream.dedupRollup]], so the per-content-hash
    * (keeper, copies) aggregation genuinely folds across batches in the
    * state store. min/count are commutative-associative ⇒ the complete-mode
    * snapshot after the last batch equals the batch SQL over all documents
    * regardless of file pickup order — which is exactly what the DuckDB
    * oracle checks. */
  def streamDedupRollup(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select("doc_id", "text")
    val src = java.nio.file.Files.createTempDirectory("q121_src").toString
    docs.repartitionByRange(4, col("doc_id")).write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val rolled = graft.streaming.EventStream.dedupRollup(stream, "doc_id", "text")
    val sink = s"q121_sink_${streamDedupRuns.incrementAndGet()}"
    val q = rolled.writeStream.format("memory").queryName(sink)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    // materialize, then release the sink view + temp source dir (q142 fix)
    val out = Loops.checkpoint(s.table(sink).orderBy("content_hash"), eager = true)
    s.catalog.dropTempView(sink)
    deleteDirTree(src)
    out
  }
  // q121: the stateful streaming rollup's batch-equality oracle — the
  // complete-mode snapshot must equal the plain batch aggregation.
  query("q121_stream_dedup_rollup", streamDedupRollup, bench = false, oracle = OracleSql(
    """SELECT md5(coalesce(text, '')) AS content_hash,
      |  CAST(min(doc_id) AS BIGINT) AS keeper_id,
      |  CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents
      |GROUP BY 1 ORDER BY 1""".stripMargin))
}
