package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over an event stream with the same
  * semantics as the batch analytics: event-time windowed aggregation under a
  * watermark, and gap-based sessionization as explicit keyed state
  * (`flatMapGroupsWithState`).
  *
  * The reference pipeline is batch-only (SURVEY §2.10), so this module is the
  * engine's forward path for streaming ingest: the same events.parquet schema
  * arriving as a stream (`spark.readStream` on a directory, Kafka, etc.)
  * flows through these unchanged. State size is bounded: windowed counts
  * evict on watermark, sessions time out on event-time and emit exactly once.
  */
object EventStream {

  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)

  // the value sum rides an exact scaled integer (DECIMAL(18,2) cents —
  // the windowedCountsExact policy, state-side): addition on longs is
  // order-independent, so the emitted sum is bit-identical under any
  // arrival interleaving and a batch oracle can verify the FULL row
  final case class SessionState(start: Long, last: Long, n: Long, sumCents: Long)

  final case class ClosedSession(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      sum_value: Double)

  /** Event-time windowed counts per event type: tumbling `windowDur` windows,
    * late data beyond `watermark` dropped, window state evicted as the
    * watermark passes (bounded state at any input rate). The value sum is
    * routed through DECIMAL(18,2) — the oracle-exact form (the q141 policy:
    * exact decimal addition is order-independent, so the streamed sum is
    * bit-identical to any batch engine's). Used by the driver-oracled
    * append-mode registration, where the accumulated sink is hash-compared
    * against batch SQL: a double sum would drift by partial-aggregation
    * order, a decimal sum cannot. */
  def windowedCountsExact(events: DataFrame, watermark: String, windowDur: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("__sum"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"),
        col("__sum").cast("double").as("sum_value"))

  /** Streaming exact-dedup rollup: the per-content-hash keeper/copy-count
    * aggregation maintained as STREAMING STATE — each micro-batch folds
    * into the per-hash (min keeper id, running count), so the snapshot
    * after any prefix of batches equals the batch aggregation over the
    * rows seen so far. min and count are commutative-associative, which
    * makes the result independent of batch slicing and arrival order —
    * the property that lets the driver oracle this stateful path against
    * plain batch SQL (q121), not just row-gate it.
    *
    * State is O(distinct hashes) — the right shape for a dedup REGISTRY
    * (one row per distinct content). At 100 TB the complete-mode in-memory
    * sink below this would be replaced by update-mode output into the
    * keyed corpus layout ([[graft.io.TableStore.upsertKeyed]] — only
    * touched hash buckets rewrite per batch); the aggregation itself is
    * already that scale shape, hash-partitioned by content key. */
  def dedupRollup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(
        md5(coalesce(col(textCol), lit("")).cast("binary")).as("content_hash"))
      .agg(
        min(col(idCol)).as("keeper_id"),
        count(lit(1)).as("n_copies"))

  /** Ingest-time curation gate: the batch curation scoring (q41) plus PII
    * scrubbing (q54) applied to a LIVE document stream. Every operator here
    * is a per-row Catalyst expression, so this is a STATELESS streaming
    * projection — no watermark, no state store, identical semantics to the
    * batch path by construction (asserted per batch in StreamingSpec).
    * The one q41 stage that needs state — exact-dedup canonicalization — is
    * deliberately not fused in: [[dedupRollup]] is the streaming form of
    * that stage.
    *
    * Returns the gated stream with lang_pred / quality_score / n_tokens
    * columns and `textCol` scrubbed IN PLACE — the same contract as the
    * batch pipeline ([[graft.CuratePipeline]]), so a sink persisting this
    * stream verbatim never stores raw PII. All gate decisions (language,
    * quality, token budget) are made on the RAW text before the scrub, the
    * q41 batch semantics; rows failing a gate are dropped at ingest (the
    * cheapest place to drop them).
    */
  def curateStream(
      docs: DataFrame,
      textCol: String = "text",
      lang: String = graft.functions.Curation.GateLang,
      minQuality: Double = graft.functions.Curation.GateMinQuality,
      tokenRange: (Long, Long) =
        (graft.functions.Curation.GateTokenMin, graft.functions.Curation.GateTokenMax)): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("lang_pred", graft.functions.Text.langId(t))
      .withColumn("quality_score", graft.functions.Text.qualityScore(t))
      .withColumn("n_tokens", graft.functions.Text.tokenCount(t))
      // scrub REPLACES the text column (after the gate columns above are
      // derived from the raw bytes): keeping raw text in a parallel column
      // would hand every downstream sink unscrubbed PII by default
      .withColumn(textCol, graft.functions.Curation.scrubPii(t))
      .filter(col("lang_pred") === lang &&
        col("quality_score") >= minQuality &&
        col("n_tokens").between(tokenRange._1, tokenRange._2))
  }

  /** Watermarked stream-stream interval join: correlate two live streams on
    * equality `keys` where the right event lands within
    * `[left.ts, left.ts + within]` — the late-metadata correlation shape of
    * a streaming ingest pipeline (document events matched with quality /
    * annotation / toxicity events that arrive up to `within` later). Both
    * sides carry event-time watermarks AND the join carries the explicit
    * time bound, which together let Spark derive state eviction: a buffered
    * left row is dropped once the right watermark passes `ts + within`, a
    * right row once the left watermark passes its timestamp — bounded state
    * at any input rate, the non-negotiable property of a stream-stream join
    * (without the bound, both sides buffer forever). Append mode either
    * way; two join types:
    *
    *  - `"inner"` (default): a correlation by definition needs both sides;
    *    events that never get their annotation are the batch completeness
    *    sweep's job, not the stream's.
    *  - `"left_outer"`: the completeness sweep IN the stream — a left row
    *    whose match window closes unmatched (watermark passes
    *    `ts + within`) is emitted once with null right columns at state
    *    EVICTION time, the only moment the stream can prove "no annotation
    *    ever came". Matched rows still emit as they join. The null-padded
    *    tail is therefore watermark-gated: rows whose window the final
    *    watermark never passed are still buffered, not absent (q150 states
    *    this set exactly in batch SQL).
    *  - `"right_outer"`: the symmetric sweep alone — only the unmatched
    *    RIGHT rows null-pad (the q184 cell; eviction rule below), matched
    *    rows emit as they join.
    *  - `"full_outer"`: BOTH completeness sweeps — q150's unmatched-left
    *    rule plus the symmetric right side: a right row that can no longer
    *    match any future left row (the watermark passes its timestamp — the
    *    tightest left a right row at `t` can join is `leftTs = t`) is
    *    emitted once with null left columns at ITS state eviction. Both
    *    tails are watermark-gated the same way (q173 states both sets in
    *    batch SQL). Key columns are COALESCEd across sides so a
    *    right-only row still carries its key.
    *
    * Output: every left column, then the right side's non-key columns
    * (under full_outer, each key column is `coalesce(left, right)`).
    * Right-side names (beyond `keys`) must not collide with left names —
    * rejected eagerly with the offenders listed, same contract as
    * [[graft.operators.AsOfJoin]].
    */
  def correlateStreams(
      left: DataFrame,
      leftTs: String,
      right: DataFrame,
      rightTs: String,
      keys: Seq[String],
      watermark: String,
      within: String,
      joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "correlateStreams needs at least one equality key")
    require(joinType == "inner" || joinType == "left_outer" ||
      joinType == "right_outer" || joinType == "full_outer",
      s"joinType must be inner, left_outer, right_outer or full_outer (got $joinType)")
    val collisions = right.columns.toSet.intersect(left.columns.toSet) -- keys
    require(collisions.isEmpty,
      s"right-side columns collide with left: ${collisions.mkString(", ")} — rename them first")
    val l = left.withWatermark(leftTs, watermark).alias("__l")
    val r = right.withWatermark(rightTs, watermark).alias("__r")
    val keyCond = keys.map(k => col(s"__l.$k") === col(s"__r.$k")).reduce(_ && _)
    val bound = col(rightTs) >= col(leftTs) &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within")
    val leftCols = left.columns.map { c =>
      // under full_outer/right_outer a right-only row's left key is null —
      // surface the right side's key instead (inner/left_outer keep their
      // exact shape: the left key is never null there)
      if ((joinType == "full_outer" || joinType == "right_outer") &&
        keys.contains(c))
        coalesce(col(s"__l.$c"), col(s"__r.$c")).as(c)
      else col(s"__l.$c")
    }
    l.join(r, keyCond && bound, joinType)
      .select(leftCols ++
        right.columns.filterNot(keys.contains).map(c => col(s"__r.$c")): _*)
  }

  /** Gap-based sessionization with explicit keyed state: a session closes
    * when event time advances more than `gapMillis` past its last event
    * (enforced via event-time timeout, i.e. by the watermark). Out-of-order
    * events within the watermark merge into the open session from either
    * side, extending its bounds; an event more than a gap BEFORE the open
    * session's start is emitted as its own immediately-closed session (the
    * open session is the only retained state, so older sessions cannot be
    * reopened — a documented divergence from full-history batch
    * sessionization, bounded by the watermark). Emits each closed session
    * exactly once, in append mode.
    *
    * `sum_value` semantics: each event's value is rounded to DECIMAL(18,2)
    * at accumulation (`BigDecimal.valueOf(v).setScale(2, HALF_UP)` — the
    * exact per-row rounding Spark's double→DECIMAL(18,2) cast performs, the
    * [[windowedCountsExact]] policy) and summed as exact scaled-integer
    * cents in the state, so the emitted sum is order-independent and
    * batch-restatable bit-for-bit (q151 hashes the full row).
    */
  def sessionize(events: Dataset[Event], watermark: String, gapMillis: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          def cents(v: Double): Long =
            java.math.BigDecimal.valueOf(v)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact()
          def close(s: SessionState): ClosedSession =
            // cents → double through the scale-2 BigDecimal, the exact
            // mirror of CAST(DECIMAL(18,2) AS DOUBLE) on both engines
            ClosedSession(userId, new Timestamp(s.start), new Timestamp(s.last), s.n,
              java.math.BigDecimal.valueOf(s.sumCents, 2).doubleValue())

          if (state.hasTimedOut) {
            val out = state.getOption.map(close).iterator
            state.remove()
            out
          } else {
            val events = batch.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            // gap-sessionized accumulator for in-watermark events that fall
            // entirely BEFORE the open session: they form their own sessions
            // (merging among themselves by the same gap rule) and are emitted
            // closed, since only the open session is retained as state
            var old: Option[SessionState] = None
            def flushOld(): Unit = old.foreach { o => closed ::= close(o); old = None }
            for (e <- events) {
              val t = e.ts.getTime
              cur match {
                // within the gap of EITHER end: merge, extending both bounds
                // (an in-watermark out-of-order event that precedes the
                // session start must not inflate it without moving start)
                case Some(s) if t >= s.start - gapMillis && t <= s.last + gapMillis =>
                  cur = Some(s.copy(
                    start = math.min(s.start, t), last = math.max(s.last, t),
                    n = s.n + 1, sumCents = s.sumCents + cents(e.value)))
                // entirely before the open session: grows the old-session
                // accumulator (events arrive sorted, so gap logic is local)
                case Some(s) if t < s.start - gapMillis =>
                  old match {
                    case Some(o) if t - o.last <= gapMillis =>
                      old = Some(o.copy(last = t, n = o.n + 1, sumCents = o.sumCents + cents(e.value)))
                    case _ =>
                      flushOld()
                      old = Some(SessionState(t, t, 1, cents(e.value)))
                  }
                // after the gap: the open session closes, a new one starts
                case Some(s) =>
                  closed ::= close(s)
                  cur = Some(SessionState(t, t, 1, cents(e.value)))
                case None =>
                  cur = Some(SessionState(t, t, 1, cents(e.value)))
              }
            }
            flushOld()
            cur.foreach { s =>
              state.update(s)
              // time out (and emit) once the watermark passes last + gap
              state.setTimeoutTimestamp(s.last + gapMillis)
            }
            closed.reverseIterator
          }
      }
  }

  /** KMV DISTINCT-COUNT SKETCH MAINTENANCE as streaming state
    * ([[graft.operators.Kmv]] online): per key, the ≤k smallest distinct
    * hashes of the value column, maintained incrementally across
    * micro-batches in `flatMapGroupsWithState` — O(k) state per key
    * forever, the streaming form of the cardinality rollup (live "distinct
    * users today" dashboards without a distinct-aggregation state store
    * that grows with true cardinality). Because the sketch is a SET
    * property of the data (insertion order irrelevant), the streamed
    * sketch equals the batch [[graft.operators.Kmv.sketch]] EXACTLY under
    * any arrival interleaving — which is what lets a batch oracle verify
    * the full streamed row (the q105/q167 batch-equality argument, here
    * for STATEFUL maintenance).
    *
    * Emits `(key, n_seen, kmv)` per key per touched micro-batch (Update
    * mode); `n_seen` counts every row ever seen for the key — strictly
    * increasing across a key's emissions — so the LATEST state is
    * `max_by(kmv, n_seen)` in the sink, with no wall-clock anywhere. */
  def kmvSketchStream(ev: DataFrame, keyCol: String, valueCol: String,
                      k: Int): Dataset[(Long, Long, Seq[Long])] = {
    require(k >= 2, s"k must be >= 2 (got $k)")
    val spark = ev.sparkSession
    import spark.implicits._
    ev.select(col(keyCol).cast("long"),
        graft.operators.Kmv.hash(col(valueCol)))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Seq[Long]), (Long, Long, Seq[Long])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long)],
         state: GroupState[(Long, Seq[Long])]) =>
          val (seen0, arr0) = state.getOption.getOrElse((0L, Seq.empty[Long]))
          val cur = scala.collection.mutable.TreeSet[Long](arr0: _*)
          var seen = seen0
          rows.foreach { case (_, h) =>
            seen += 1
            if (!cur.contains(h)) {
              if (cur.size < k) cur += h
              else if (h < cur.last) { cur -= cur.last; cur += h }
            }
          }
          val out = (key, seen, cur.toSeq)
          state.update((seen, out._3))
          Iterator.single(out)
      }
      .toDF("key", "n_seen", "kmv")
      .as[(Long, Long, Seq[Long])]
  }
}
