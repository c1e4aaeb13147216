package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming extension (SURVEY §2.10: the reference is
  * batch-only; this is the additive streaming path over the same events
  * shape). Transforms are defined on unbounded DataFrames so the identical
  * code runs on `readStream` in production and is exercised by file-source
  * streams in tests.
  *
  * Scale notes: watermarking bounds state; the windowed aggregate is a
  * streaming hash aggregate partitioned by (window, event_type); the
  * sessionizer keys state by user_id — state store size is O(active keys),
  * not O(events).
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionUpdate(user_id: Long, events: Long,
      total_value: Double, session_start: Timestamp, last_seen: Timestamp)

  /** Event-time lateness the session and window aggregates tolerate. */
  val Watermark = "10 minutes"
  /** Inactivity that closes a session, as a duration and in ms. */
  val SessionGapMinutes = 30
  val SessionGap = s"$SessionGapMinutes minutes"
  val SessionGapMs = SessionGapMinutes * 60 * 1000L
  val JoinWatermark = "2 hours"
  val DedupWatermark = "1 hour"

  /** Windowed counts/sums per event type with a watermark for late data:
    * windows of `windowLen` starting every `slide`. The tumbling case is
    * `slide == windowLen`; a shorter slide overlaps the windows, so each
    * event contributes to windowLen/slide of them (trend smoothing over
    * streams). Late rows beyond the watermark are dropped; closed windows
    * become immutable results (append-mode compatible). */
  def windowedAgg(events: DataFrame, windowLen: String, slide: String,
      watermark: String = Watermark): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Per-user session state via flatMapGroupsWithState: emits an updated
    * session row per user per micro-batch (Update mode). Custom state
    * beyond what windowed aggs express — the KeyValueGroupedDataset.state
    * API from SURVEY §7.
    *
    * State is bounded two ways: an EVENT-TIME timeout evicts a key once
    * the watermark passes its last event + gap (state size stays O(users
    * active within gap), not O(users ever) — and unlike a processing-time
    * timeout it needs no wall-clock batches, so synchronous test drains
    * terminate), and an event-time gap inside a key closes the previous
    * session and starts a new one. */
  def sessionize(spark: SparkSession, events: Dataset[Event],
      gapMs: Long = SessionGapMs): Dataset[SessionUpdate] = {
    import spark.implicits._
    events
      .withWatermark("ts", Watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionUpdate, SessionUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionUpdate]) =>
          if (state.hasTimedOut) {
            // watermark passed last_seen + gap: evict the idle key (its
            // latest state was already emitted in Update mode)
            state.remove()
            Iterator.empty
          } else {
            // fold the batch through the gap rule, splitting WITHIN the
            // batch too — a whole day arriving as one micro-batch must
            // produce the same sessions as it would event by event (and
            // the same sessions as the batch operator, which
            // StreamingSpec asserts)
            val batch = rows.toSeq.sortBy(_.ts.getTime)
            val closed = scala.collection.mutable.ListBuffer.empty[SessionUpdate]
            var cur = state.getOption
            batch.foreach { e =>
              cur match {
                case Some(c) if e.ts.getTime - c.last_seen.getTime <= gapMs =>
                  // a late-but-within-watermark event from an earlier
                  // micro-batch can carry ts < last_seen; merging must
                  // never move the session boundary backwards, or the next
                  // in-order event would be compared against a rewound
                  // last_seen and wrongly split the session
                  cur = Some(c.copy(events = c.events + 1,
                    total_value = c.total_value + e.value,
                    session_start = if (e.ts.before(c.session_start)) e.ts
                                    else c.session_start,
                    last_seen = if (e.ts.after(c.last_seen)) e.ts
                                else c.last_seen))
                case other =>
                  other.foreach(closed += _) // gap: final row of that session
                  cur = Some(SessionUpdate(userId, 1L, e.value, e.ts, e.ts))
              }
            }
            val open = cur.get // batch was non-empty
            state.update(open)
            // timeout must sit beyond the current watermark
            state.setTimeoutTimestamp(math.max(
              open.last_seen.getTime + gapMs,
              state.getCurrentWatermarkMs() + 1000L))
            closed.iterator ++ Iterator.single(open)
          }
      }
  }

  /** Stream-stream interval join: pair left rows with right rows on the
    * same key whose timestamp lands in [left_ts, left_ts + maxDelay] —
    * click-to-conversion attribution. Both sides are watermarked and the
    * join condition carries the time bound, so Spark can compute how long
    * each side's state must be retained and evict it — without the bound,
    * stream-stream join state grows forever. Key/ts column names must
    * differ across sides (Spark resolves the condition by name). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      maxDelay: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, JoinWatermark)
    val r = right.withWatermark(rightTs, JoinWatermark)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxDelay"))
  }

  /** Streaming exact dedup: drop duplicate event_ids, with the watermark
    * bounding how long each key is remembered — state is O(keys inside the
    * watermark window), not O(stream). The streaming face of the batch
    * Dedup.exact operator. */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", DedupWatermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: attach dimension attributes to a
    * stream. The static side is a plain DataFrame — Spark re-plans it per
    * micro-batch (picking up dimension updates between batches) and
    * broadcasts it when small, so the stream side never shuffles; state
    * stays empty (unlike stream-stream joins). The streaming face of the
    * batch J4 broadcast lookup. */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String): DataFrame =
    stream.join(dim, stream(streamKey) === dim(dimKey), "left")
      .drop(dim(dimKey))

  /** Streaming → lake sink: foreachBatch bridges the stream to the batch
    * writer, landing each micro-batch in (date, batch_id) partitions via
    * dynamic partition overwrite. A micro-batch REPLAYED after a failure
    * rewrites exactly its own partitions with the same rows — the
    * idempotent-sink contract that makes checkpoint-restart exactly-once
    * at the lake level — while distinct batches sharing a date coexist as
    * sibling partitions. Synchronous test drain via processAllAvailable;
    * in production attach a checkpointLocation and drop the stop(). */
  def toLake(df: DataFrame, pipeline: graft.engine.Pipeline, layer: String,
      table: String, dateCol: String): Unit =
    drain(df.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        pipeline.upsertBatch(batch, layer, table, dateCol, batchId)
      })

  /** Streaming sink contract for tests/demos: memory table, processed
    * synchronously. Returns the query name to select from. */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): Unit =
    drain(df.writeStream.outputMode(mode).format("memory").queryName(name))

  /** Start `w`, process everything its source holds, then stop it — also
    * when processing fails, so no query outlives its caller. */
  def drain(w: DataStreamWriter[Row]): Unit = {
    val q = w.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Sessionization via Spark's NATIVE session_window aggregate — the
    * declarative sibling of [[sessionize]]'s flatMapGroupsWithState:
    * same 30-minute-gap semantics (a session extends while successive
    * events arrive within the gap; the window closes at last_event +
    * gap), but the state machine lives inside the streaming aggregation
    * operator — watermark-evicted, merge-capable, no user state code.
    * Prefer this form when the per-session output is an aggregate;
    * drop to the explicit state API only when per-EVENT emission or
    * custom transitions are needed. Append-mode compatible (results
    * emit when the watermark passes a session's close). */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Watermark)
      .groupBy(col("user_id"), session_window(col("ts"), SessionGap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))
}
