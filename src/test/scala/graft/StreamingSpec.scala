package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.Curation
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Streaming semantics through a real streaming query (MemoryStream source →
  * memory sink): watermarked windowed counts and stateful sessionization with
  * event-time timeouts.
  */
class StreamingSpec extends SparkSpec {

  // Offset from epoch 0: a row whose event time equals the operator's
  // initial watermark (epoch 0) is dropped as late by stateful operators.
  private val Base = 1020L
  private def ts(minutes: Long): Timestamp = new Timestamp((Base + minutes) * 60000L)

  test("windowedCountsExact: tumbling event-time windows per type") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val query = EventStream.windowedCountsExact(source.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Complete).start()
    try {
      source.addData(
        Event(1, ts(5), "click", 1.0), Event(2, ts(20), "click", 2.0),
        Event(1, ts(61), "view", 5.0), Event(2, ts(70), "click", 3.0))
      query.processAllAvailable()
      val got = spark.table("wc")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000 - Base, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(got === Set(
        (0L, "click", 2L, 3.0),
        (60L, "view", 1L, 5.0),
        (60L, "click", 1L, 3.0)))
    } finally query.stop()
  }

  test("windowedCountsExact append mode: eviction fires at end <= watermark, emit-once") {
    // pins the EXACT boundary semantics the q142 oracle states: a window is
    // emitted (exactly once, never retracted) when the advancing watermark
    // EQUALS its end — `<=`, not strict `<`.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val query = EventStream.windowedCountsExact(source.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("wmb").outputMode(OutputMode.Append).start()
    try {
      // batch 1: one event in window [Base, Base+60); watermark stays behind
      source.addData(Event(1, ts(5), "click", 1.25))
      query.processAllAvailable()
      assert(spark.table("wmb").count() === 0, "window must not emit before finalized")
      // batch 2: event at +90 min → watermark = 90 - 30 = 60 = EXACTLY the
      // window end → the window finalizes on equality
      source.addData(Event(1, ts(90), "click", 2.0))
      query.processAllAvailable()
      val rows = spark.table("wmb").collect()
      assert(rows.length === 1, "end == watermark must evict (<= semantics)")
      assert(rows.head.getLong(2) === 1L && rows.head.getDouble(3) === 1.25)
      // late row INTO the already-evicted window: dropped, never re-emitted
      source.addData(Event(2, ts(10), "click", 9.0))
      query.processAllAvailable()
      assert(spark.table("wmb").count() === 1, "append mode must never retract/re-emit")
    } finally query.stop()
  }

  test("stateful dedup rollup: state folds across batches, snapshot equals the batch rollup") {
    import spark.implicits._
    // three micro-batches with cross-batch duplicate content: the per-hash
    // (min keeper, count) state must FOLD — a keeper seen in batch 1 must
    // absorb batch 3's smaller id, counts must accumulate.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val rolled = EventStream.dedupRollup(in.toDF.toDF("doc_id", "text"), "doc_id", "text")
    val q = rolled.writeStream.format("memory").queryName("dedup_rollup_live")
      .outputMode("complete").start()
    try {
      in.addData((10L, "alpha"), (11L, "beta"))
      q.processAllAvailable()
      in.addData((12L, "alpha"), (13L, "gamma"))
      q.processAllAvailable()
      in.addData((5L, "beta")) // later batch, SMALLER id: min must update
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "the three adds must arrive as separate micro-batches")
      val got = spark.table("dedup_rollup_live")
        .select("keeper_id", "n_copies")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(got === Set(10L -> 2L, 5L -> 2L, 13L -> 1L))
    } finally q.stop()
  }

  test("kmv sketch stream: state folds across batches, fixpoint equals the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // k=4 with 6 distinct keys arriving across three batches (with
    // cross-batch repeats): the final per-group sketch must equal the
    // BATCH sketch of the union — the set property under any interleaving.
    val in = MemoryStream[(Long, Long)]
    val sk = EventStream.kmvSketchStream(
      in.toDF.toDF("g", "key"), "g", "key", k = 4)
    val q = sk.writeStream.format("memory").queryName("kmv_live")
      .outputMode("update").start()
    try {
      in.addData((1L, 10L), (1L, 11L), (1L, 12L))
      q.processAllAvailable()
      in.addData((1L, 11L), (1L, 13L), (1L, 14L)) // repeat + new
      q.processAllAvailable()
      in.addData((1L, 15L), (2L, 10L)) // new group starts late
      q.processAllAvailable()
      val latest = spark.table("kmv_live").groupBy("key")
        .agg(org.apache.spark.sql.functions.max_by(
          org.apache.spark.sql.functions.col("kmv"),
          org.apache.spark.sql.functions.col("n_seen")).as("kmv"),
          org.apache.spark.sql.functions.max("n_seen").as("n_seen"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2)))).toMap
      val batch = graft.operators.Kmv.sketch(
        Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), (1L, 14L),
          (1L, 15L), (2L, 10L)).toDF("g", "key"), Seq("g"), "key", 4)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(latest(1L)._1 === batch(1L),
        "streamed sketch must equal the batch sketch of the union")
      assert(latest(1L)._2 === 7L, "n_seen counts every row ever seen")
      assert(latest(2L)._1 === batch(2L))
      // the sketch state is BOUNDED: 7 distinct keys, only 4 kept
      assert(latest(1L)._1.size === 4)
    } finally q.stop()
  }

  test("stream-stream correlation: in-bound annotations match across batches, out-of-bound don't") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[Event]
    val anns = MemoryStream[(Long, Timestamp, String)]
    val joined = EventStream.correlateStreams(
      docs.toDF(), "ts",
      anns.toDF().toDF("user_id", "ann_ts", "label"), "ann_ts",
      keys = Seq("user_id"), watermark = "10 minutes", within = "15 minutes")
    val query = joined.writeStream.format("memory").queryName("corr")
      .outputMode(OutputMode.Append).start()
    try {
      docs.addData(Event(1, ts(10), "doc", 1.0), Event(2, ts(20), "doc", 2.0))
      anns.addData(
        (1L, ts(15), "good"),   // within [10, 25] -> match
        (1L, ts(40), "late"),   // beyond ts+15 -> no match
        (2L, ts(18), "early"),  // BEFORE the doc event at 20 -> no match
        (3L, ts(12), "nokey"))  // no doc with this key -> no match
      query.processAllAvailable()
      // a later batch correlates against the STATE-buffered doc from batch 1
      anns.addData((2L, ts(30), "ok")) // within [20, 35] -> match
      query.processAllAvailable()
      val got = spark.table("corr")
        .collect().map(r => (r.getLong(0), r.getString(2), r.getString(5))).toSet
      assert(got === Set((1L, "doc", "good"), (2L, "doc", "ok")))
    } finally query.stop()
  }

  test("stream-stream correlation left_outer: unmatched lefts emit null-padded at eviction, open windows stay buffered") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[Event]
    val anns = MemoryStream[(Long, Timestamp, String)]
    val joined = EventStream.correlateStreams(
      docs.toDF(), "ts",
      anns.toDF().toDF("user_id", "ann_ts", "label"), "ann_ts",
      keys = Seq("user_id"), watermark = "10 minutes", within = "15 minutes",
      joinType = "left_outer")
    val query = joined.writeStream.format("memory").queryName("corr_outer")
      .outputMode(OutputMode.Append).start()
    try {
      docs.addData(
        Event(1, ts(10), "doc", 1.0),  // will match
        Event(2, ts(10), "doc", 2.0))  // will NEVER match
      anns.addData((1L, ts(15), "good"))
      query.processAllAvailable()
      // only the matched row so far — user 2's window [10, 25] is open
      // (watermark ~ 15 - 10 = 5) and the row must NOT have emitted yet
      def rows() = spark.table("corr_outer")
        .collect().map(r => (r.getLong(0), Option(r.getString(5)))).toSet
      assert(rows() === Set((1L, Some("good"))))
      // advance BOTH watermarks far past 25: user 2's window closes
      // unmatched -> exactly one null-padded emission at eviction (the
      // ts(100) pair matches immediately and emits as a normal inner row;
      // user 2 is the only null-padded one)
      docs.addData(Event(9, ts(100), "doc", 0.0))
      anns.addData((9L, ts(100), "advance"))
      query.processAllAvailable()
      assert(rows() === Set((1L, Some("good")), (2L, None), (9L, Some("advance"))),
        "closed-unmatched must emit null-padded exactly once")
    } finally query.stop()
  }

  test("stream-stream correlation full_outer: both sides null-pad at eviction, keys coalesce") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[Event]
    val anns = MemoryStream[(Long, Timestamp, String)]
    val joined = EventStream.correlateStreams(
      docs.toDF(), "ts",
      anns.toDF().toDF("user_id", "ann_ts", "label"), "ann_ts",
      keys = Seq("user_id"), watermark = "10 minutes", within = "15 minutes",
      joinType = "full_outer")
    val query = joined.writeStream.format("memory").queryName("corr_full")
      .outputMode(OutputMode.Append).start()
    try {
      docs.addData(
        Event(1, ts(10), "doc", 1.0),  // will match
        Event(2, ts(10), "doc", 2.0))  // left-only: no ann ever comes
      anns.addData(
        (1L, ts(15), "good"),
        (3L, ts(5), "orphan"))         // right-only: no doc BEFORE ts 5
      query.processAllAvailable()
      def rows() = spark.table("corr_full")
        .collect()
        .map(r => (r.getLong(0), Option(r.getString(2)), Option(r.getString(5))))
        .toSet
      // only the match so far: user 2's window and user 3's eviction bound
      // are both still ahead of the watermark
      assert(rows() === Set((1L, Some("doc"), Some("good"))))
      // advance both watermarks far past every bound: user 2 closes
      // unmatched (null right), user 3 evicts unmatched (null LEFT — and
      // its user_id must still surface through the coalesced key)
      docs.addData(Event(9, ts(100), "doc", 0.0))
      anns.addData((9L, ts(100), "advance"))
      query.processAllAvailable()
      assert(rows() === Set(
        (1L, Some("doc"), Some("good")),
        (2L, Some("doc"), None),
        (3L, None, Some("orphan")),
        (9L, Some("doc"), Some("advance"))),
        "both unmatched sides must emit null-padded exactly once, keys intact")
    } finally query.stop()
  }

  test("stream-stream correlation right_outer: ONLY the right side null-pads, keys coalesce") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[Event]
    val anns = MemoryStream[(Long, Timestamp, String)]
    val joined = EventStream.correlateStreams(
      docs.toDF(), "ts",
      anns.toDF().toDF("user_id", "ann_ts", "label"), "ann_ts",
      keys = Seq("user_id"), watermark = "10 minutes", within = "15 minutes",
      joinType = "right_outer")
    val query = joined.writeStream.format("memory").queryName("corr_right")
      .outputMode(OutputMode.Append).start()
    try {
      docs.addData(
        Event(1, ts(10), "doc", 1.0),  // will match
        Event(2, ts(10), "doc", 2.0))  // left-only: must stay ABSENT
      anns.addData(
        (1L, ts(15), "good"),
        (3L, ts(5), "orphan"))         // right-only: null-pads at eviction
      query.processAllAvailable()
      def rows() = spark.table("corr_right")
        .collect()
        .map(r => (r.getLong(0), Option(r.getString(2)), Option(r.getString(5))))
        .toSet
      assert(rows() === Set((1L, Some("doc"), Some("good"))))
      docs.addData(Event(9, ts(100), "doc", 0.0))
      anns.addData((9L, ts(100), "advance"))
      query.processAllAvailable()
      assert(rows() === Set(
        (1L, Some("doc"), Some("good")),
        (3L, None, Some("orphan")),
        (9L, Some("doc"), Some("advance"))),
        "the unmatched LEFT (user 2) must be absent; the right orphan " +
          "null-pads once with its key surfaced through the coalesce")
    } finally query.stop()
  }

  test("stream-stream correlation: colliding right-side columns rejected eagerly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[Event]
    val anns = MemoryStream[Event] // same schema -> ts/event_type/value collide
    val e = intercept[IllegalArgumentException] {
      EventStream.correlateStreams(docs.toDF(), "ts", anns.toDF(), "ts",
        keys = Seq("user_id"), watermark = "10 minutes", within = "15 minutes")
    }
    assert(e.getMessage.contains("collide"))
  }

  test("stateless chunking and C4 screen run unchanged on a live stream") {
    // Chunking.chunkDocs and Heuristics.c4Keep are pure projections/filters
    // (no state, no aggregation) — this pins that they stay streaming-legal
    // and batch-identical, so the ingest path can chunk and screen in-line
    // without a foreachBatch bridge.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = "this sentence has enough words to pass the line filter."
    val rows = Seq(
      1L -> "a b c d e f g h i j",
      2L -> s"$good\n$good\n$good",
      3L -> "")
    val source = MemoryStream[(Long, String)]
    val streamed = source.toDF().toDF("doc_id", "text")
    val chunkQ = graft.operators.Chunking.chunkDocs(streamed, "doc_id", "text",
      maxTokens = 4, stride = 3)
      .writeStream.format("memory").queryName("chunkstream")
      .outputMode(OutputMode.Append).start()
    val c4Q = streamed.filter(graft.functions.Heuristics.c4Keep(
      org.apache.spark.sql.functions.col("text")))
      .writeStream.format("memory").queryName("c4stream")
      .outputMode(OutputMode.Append).start()
    try {
      source.addData(rows: _*)
      chunkQ.processAllAvailable(); c4Q.processAllAvailable()
      val gotChunks = spark.table("chunkstream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
      val batchChunks = graft.operators.Chunking.chunkDocs(
        rows.toDF("doc_id", "text"), "doc_id", "text", maxTokens = 4, stride = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
      assert(gotChunks === batchChunks && gotChunks.nonEmpty)
      val gotKeep = spark.table("c4stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(gotKeep === Set(2L), "only the well-formed multi-line page passes C4")
    } finally { chunkQ.stop(); c4Q.stop() }
  }

  test("ingest curation gate: streaming verdicts equal the batch gate per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pass1 = "the quick brown fox jumps over the lazy dog and then runs on " +
      "to the next field where it rests for a while today."
    val pass2 = "reach the admin at admin@example.net and the backup line " +
      "+14155550100 is open all of the day for the whole team."
    val failLang = "el la los las de que y en la casa grande junto al rio claro."
    val failShort = "hi there."
    val source = MemoryStream[(Long, String)]
    val query = EventStream.curateStream(source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cur").outputMode(OutputMode.Append).start()
    try {
      source.addData((1L, pass1), (2L, failLang), (3L, failShort))
      query.processAllAvailable()
      source.addData((4L, pass2))
      query.processAllAvailable()
      val got = spark.table("cur").orderBy("doc_id")
      assert(got.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(1L, 4L))
      // the text column ITSELF is scrubbed in place at ingest — a sink
      // persisting this stream verbatim must never store raw PII (and no
      // parallel column keeps the raw bytes around)
      val text4 = got.filter($"doc_id" === 4L).head().getAs[String]("text")
      assert(text4.contains("<EMAIL>") && text4.contains("<PHONE>"))
      assert(!text4.contains("admin@example.net") && !text4.contains("+14155550100"))
      assert(!got.columns.contains("scrubbed"), "raw text must not survive in a parallel column")
      // streaming output IS the batch gate applied to the same rows —
      // including the in-place-scrubbed text column
      val batch = EventStream.curateStream(
        Seq(1L -> pass1, 2L -> failLang, 3L -> failShort, 4L -> pass2)
          .toDF("doc_id", "text"))
      assert(got.collect().toSeq === batch.orderBy("doc_id").collect().toSeq)
      assert(got.select("text").collect().toSeq ===
        batch.orderBy("doc_id").select("text").collect().toSeq)
      // …and, NON-self-referentially, its keep decisions equal the ACTUAL
      // q41 batch curation (Curation.decisions) on the same rows — these
      // docs are distinct, so the one stage curateStream doesn't fuse in
      // (exact-dedup canonicalization) can't fire, and the gate decisions
      // must match rule for rule. Guards against the two paths' thresholds
      // drifting apart (they share Curation.Gate*, but this asserts it).
      val q41Kept = Curation.decisions(
        Seq(1L -> pass1, 2L -> failLang, 3L -> failShort, 4L -> pass2)
          .toDF("doc_id", "text"))
        .filter($"keep").select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(q41Kept === Seq(1L, 4L))
    } finally query.stop()
  }

  test("sessionize: sessions close exactly once when the watermark passes the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val query = EventStream.sessionize(source.toDS(), "0 seconds", gapMillis = 10 * 60000L)
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append).start()
    try {
      // session A: two events 5 min apart; then silence
      source.addData(Event(1, ts(0), "click", 1.0), Event(1, ts(5), "view", 2.0))
      query.processAllAvailable()
      assert(spark.table("sess").count() === 0) // watermark has not passed the gap

      // an event far in the future advances the watermark past A's gap
      source.addData(Event(2, ts(120), "click", 7.0))
      query.processAllAvailable()
      source.addData(Event(2, ts(121), "view", 1.0)) // one more batch to fire timeouts
      query.processAllAvailable()

      val got = spark.table("sess").as[EventStream.ClosedSession].collect()
      assert(got.length === 1)
      assert(got(0).user_id === 1L && got(0).n_events === 2L &&
        got(0).sum_value === 3.0 &&
        got(0).session_start === ts(0) && got(0).session_end === ts(5))
    } finally query.stop()
  }

  test("sessionize: in-watermark out-of-order event extends the session backwards") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val query = EventStream.sessionize(source.toDS(), "30 minutes", gapMillis = 10 * 60000L)
      .writeStream.format("memory").queryName("sess3").outputMode(OutputMode.Append).start()
    try {
      source.addData(Event(1, ts(10), "click", 1.0), Event(1, ts(15), "view", 2.0))
      query.processAllAvailable()
      // late event 5 min BEFORE the session start, still within the watermark
      source.addData(Event(1, ts(5), "click", 4.0))
      query.processAllAvailable()
      // advance watermark far past the gap, then one more batch to fire timeouts
      source.addData(Event(2, ts(240), "click", 0.0))
      query.processAllAvailable()
      source.addData(Event(2, ts(241), "view", 0.0))
      query.processAllAvailable()
      val got = spark.table("sess3").as[EventStream.ClosedSession]
        .collect().filter(_.user_id == 1L)
      assert(got.length === 1)
      assert(got(0).session_start === ts(5), "late event must move session start")
      assert(got(0).n_events === 3L && got(0).sum_value === 7.0)
    } finally query.stop()
  }

  test("sessionize: multiple old in-watermark events merge into one old session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val query = EventStream.sessionize(source.toDS(), "3 hours", gapMillis = 10 * 60000L)
      .writeStream.format("memory").queryName("sess4").outputMode(OutputMode.Append).start()
    try {
      source.addData(Event(1, ts(100), "click", 1.0))
      query.processAllAvailable()
      // two late events 2 min apart, both > gap before the open session
      source.addData(Event(1, ts(10), "view", 2.0), Event(1, ts(12), "view", 3.0))
      query.processAllAvailable()
      val got = spark.table("sess4").as[EventStream.ClosedSession].collect()
      assert(got.length === 1, got.mkString(";"))
      assert(got(0).session_start === ts(10) && got(0).session_end === ts(12))
      assert(got(0).n_events === 2L && got(0).sum_value === 5.0)
    } finally query.stop()
  }

  test("sessionize: in-batch gap split emits the earlier session immediately") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val query = EventStream.sessionize(source.toDS(), "0 seconds", gapMillis = 10 * 60000L)
      .writeStream.format("memory").queryName("sess2").outputMode(OutputMode.Append).start()
    try {
      source.addData(
        Event(1, ts(0), "click", 1.0),
        Event(1, ts(50), "view", 2.0)) // 50 min later: new session, old one closes
      query.processAllAvailable()
      val got = spark.table("sess2").as[EventStream.ClosedSession].collect()
      assert(got.length === 1)
      assert(got(0).n_events === 1L && got(0).session_start === ts(0))
    } finally query.stop()
  }

  test("sessionize: sum_value rides exact DECIMAL(18,2) cents — per-event rounding, order-free") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val query = EventStream.sessionize(source.toDS(), "0 seconds", gapMillis = 10 * 60000L)
      .writeStream.format("memory").queryName("sess5").outputMode(OutputMode.Append).start()
    try {
      // each value rounds to 2dp AT ACCUMULATION (shortest-decimal-repr
      // HALF_UP — BigDecimal.valueOf, the exact semantics of Spark's
      // double→DECIMAL(18,2) cast): 0.005 → 0.01, 0.004 → 0.00,
      // 1.555 → 1.56; the chain sums exact cents to 1.57. A plain double
      // sum of the raw values would give 1.5639999…, never exactly 1.57
      source.addData(
        Event(1, ts(0), "a", 0.005),
        Event(1, ts(1), "b", 0.004),
        Event(1, ts(2), "c", 1.555),
        Event(1, ts(50), "d", 0.0)) // closes the session by gap
      query.processAllAvailable()
      val got = spark.table("sess5").as[EventStream.ClosedSession].collect()
      assert(got.length === 1)
      assert(got(0).n_events === 3L)
      assert(got(0).sum_value === 1.57,
        s"expected the decimal-cents chain 0.01+0.00+1.56, got ${got(0).sum_value}")
    } finally query.stop()
  }

  test("streaming embedding ingest maintains the disk ANN index: O(batch) upserts, queryable between batches") {
    // the index-maintenance composition: a vector stream folds into the
    // persisted AnnIndex via per-batch assign-only upserts; between batches
    // the index serves full-probe (exact) queries over everything ingested
    // so far. The 100 TB shape: each micro-batch writes only the cell
    // directories it touches, and no retrain happens on the hot path.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ann, AnnIndex}
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("annstream").toString)
    val base = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    AnnIndex.build(store, "e", base.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nClusters = 4)
    val source = MemoryStream[(Long, Seq[Float])]
    val query = source.toDF().toDF("vec_id", "embedding").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        AnnIndex.upsert(store, "e", batch, "vec_id", "embedding"): Unit
      }
      .start()
    try {
      val odds = base.filter(col("vec_id") % 2 === 1)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val (wave1, wave2) = odds.splitAt(odds.length / 2)
      source.addData(wave1.toSeq)
      query.processAllAvailable()
      // mid-stream: the index already answers over base-evens + wave1
      val seen1 = base.filter(col("vec_id") % 2 === 0)
        .unionByName(wave1.toSeq.toDF("vec_id", "embedding"))
      def keyOf(df: org.apache.spark.sql.DataFrame) = df
        .select("id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(keyOf(AnnIndex.query(store, "e", seen1, "vec_id", "embedding",
        k = 3, nProbe = 4)) ===
        keyOf(Ann.blockTopK(seen1, "vec_id", "embedding", k = 3)),
        "mid-stream index must equal exact top-3 over everything ingested")
      source.addData(wave2.toSeq)
      query.processAllAvailable()
      assert(keyOf(AnnIndex.query(store, "e", base, "vec_id", "embedding",
        k = 3, nProbe = 4)) ===
        keyOf(Ann.blockTopK(base, "vec_id", "embedding", k = 3)),
        "after the stream drains, the index must cover the full corpus")
    } finally query.stop()
  }

  test("streaming k-core maintenance: per-batch insert-only deltas land on the batch fixpoint") {
    // the q208 composition on hand data: edges arrive in waves, foreachBatch
    // maintains the 2-core with each wave as the declared delta; a LATE wave
    // must pull a previously-peeled node back in (pendant 4 joins the core
    // once the cycle {4,5,6} closes) — mid-stream state is the true core OF
    // THE EDGES SO FAR, final state the full-graph core.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.KCore
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val source = MemoryStream[(Long, Long)]
    var acc: org.apache.spark.sql.DataFrame = null
    var core: org.apache.spark.sql.DataFrame =
      spark.range(0).select(col("id").as("node"))
    val query = source.toDF().toDF("src", "dst").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint(true)
        if (!b.isEmpty) {
          acc = (if (acc == null) b else acc.unionByName(b))
            .localCheckpoint(true)
          core = KCore.maintain(acc, core.select("node"), k = 2,
            delta = Some(b)).localCheckpoint(true)
        }
      }
      .start()
    try {
      source.addData((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      query.processAllAvailable()
      assert(asMap(core) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
        "wave 1: triangle in, pendant 4 out")
      source.addData((4L, 5L), (5L, 6L), (6L, 4L))
      query.processAllAvailable()
      assert(asMap(core) ===
        asMap(KCore.core(acc, k = 2)) &&
        asMap(core).keySet === Set(1L, 2L, 3L, 4L, 5L, 6L),
        "wave 2: the late cycle pulls 4 back in; state = batch fixpoint")
    } finally query.stop()
  }

  test("streaming coreness maintenance: per-batch deltas land on the batch shell grading") {
    // the q223 composition on hand data: edges arrive in waves, foreachBatch
    // re-grades every shell via corenessMaintain with each wave as the
    // declared delta; a LATE wave must upgrade previously-graded nodes (the
    // K4 closing edge lifts {1,2,3,4} from shell 2 to 3) — mid-stream state
    // is the true grading OF THE EDGES SO FAR, final the full-graph grading.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.KCore
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val source = MemoryStream[(Long, Long)]
    var acc: org.apache.spark.sql.DataFrame = null
    var shells: org.apache.spark.sql.DataFrame =
      spark.range(0).select(col("id").as("node"), col("id").as("coreness"))
    val query = source.toDF().toDF("src", "dst").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint(true)
        if (!b.isEmpty) {
          acc = (if (acc == null) b else acc.unionByName(b))
            .localCheckpoint(true)
          shells = KCore.corenessMaintain(acc, shells, delta = Some(b))
            .localCheckpoint(true)
        }
      }
      .start()
    try {
      source.addData((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      query.processAllAvailable()
      assert(asMap(shells) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L),
        "wave 1: K4 minus one edge grades everyone shell 2")
      source.addData((3L, 4L), (4L, 5L))
      query.processAllAvailable()
      assert(asMap(shells) === asMap(KCore.coreness(acc)) &&
        asMap(shells) ===
          Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L),
        "wave 2: the closing edge upgrades the K4 to shell 3, the " +
          "pendant grades 1; state = batch fixpoint")
    } finally query.stop()
  }

  test("streaming k-truss maintenance: per-batch deltas land on the batch edge fixpoint") {
    // the q215 composition on hand data: edges arrive in waves, foreachBatch
    // maintains the 3-truss (every edge in >= 1 triangle) with each wave as
    // the declared delta; a LATE closing edge must pull a previously-bare
    // path into the truss — mid-stream state is the true truss OF THE EDGES
    // SO FAR, final state the full-graph truss.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Truss
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    val source = MemoryStream[(Long, Long)]
    var acc: org.apache.spark.sql.DataFrame = null
    var truss: org.apache.spark.sql.DataFrame =
      spark.range(0).select(col("id").as("u"), col("id").as("v"))
    val query = source.toDF().toDF("src", "dst").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint(true)
        if (!b.isEmpty) {
          acc = (if (acc == null) b else acc.unionByName(b))
            .localCheckpoint(true)
          truss = Truss.maintain(acc, truss.select("u", "v"), k = 3,
            delta = Some(b)).localCheckpoint(true)
        }
      }
      .start()
    try {
      source.addData((1L, 2L), (2L, 3L))
      query.processAllAvailable()
      assert(asMap(truss) === Map.empty, "wave 1: a bare path, no truss")
      source.addData((1L, 3L))
      query.processAllAvailable()
      assert(asMap(truss) ===
        Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 1L),
        "wave 2: the closing edge pulls the whole triangle in")
      source.addData((3L, 4L), (1L, 4L))
      query.processAllAvailable()
      assert(asMap(truss) === asMap(Truss.edges(acc, k = 3)) &&
        asMap(truss).keySet ===
          Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (3L, 4L)),
        "wave 3: the second triangle joins; state = batch fixpoint")
    } finally query.stop()
  }

  test("streaming SCC maintenance: per-batch deltas land on the batch labeling") {
    // the q216 composition on hand data: DIRECTED edges arrive in waves; a
    // late back-edge must merge previously-separate classes through the
    // condensation solve — state after every wave equals the from-scratch
    // labeling of the edges so far.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Scc
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val source = MemoryStream[(Long, Long)]
    var acc: org.apache.spark.sql.DataFrame = null
    var scc: org.apache.spark.sql.DataFrame =
      spark.range(0).select(col("id"), col("id").as("scc"))
    val query = source.toDF().toDF("src", "dst").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint(true)
        if (!b.isEmpty) {
          acc = (if (acc == null) b else acc.unionByName(b))
            .localCheckpoint(true)
          scc = Scc.maintain(acc, scc, delta = Some(b))
            .localCheckpoint(true)
        }
      }
      .start()
    try {
      source.addData((1L, 2L), (2L, 3L))
      query.processAllAvailable()
      assert(asMap(scc) === Map(1L -> 1L, 2L -> 2L, 3L -> 3L),
        "wave 1: a one-way chain is all singletons")
      source.addData((3L, 1L))
      query.processAllAvailable()
      assert(asMap(scc) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
        "wave 2: the back-edge closes the cycle into one class")
      source.addData((3L, 4L), (4L, 5L), (5L, 3L))
      query.processAllAvailable()
      assert(asMap(scc) === asMap(Scc.components(acc)
          .select(col("id"), col("scc"))) &&
        asMap(scc) === (1L to 5L).map(_ -> 1L).toMap,
        "wave 3: the second cycle shares node 3 — everything merges")
    } finally query.stop()
  }
}
