package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface. The reference has no streams at all
  * (request/response HTTP; SURVEY.md §2.2) — this is the scale path for
  * continuous ingest: the same declarative transforms run incrementally
  * with watermark-bounded state.
  *
  * Everything here uses `Trigger.AvailableNow` + a memory sink so runs
  * are finite and deterministic (batch/stream parity is asserted by the
  * oracle: the streaming result must hash-match the batch SQL).
  */
object Streaming {

  /** Shuffle-partition count — and therefore state-store instance count —
    * pinned for every streaming query started by the runners below.
    *
    * Stateful streaming does NOT get AQE partition coalescing: each state
    * partition is a full store (checkpoint delta files, snapshot
    * maintenance, per-batch commit) whose cost is paid per micro-batch
    * regardless of how little data it holds. Deriving the count from the
    * host CPU count (32 on the bench host) multiplies that fixed overhead
    * for kilobyte-scale state while adding nothing — state stores are
    * I/O-bound, not CPU-bound. A real deployment sizes this to state
    * VOLUME (keys × state size / healthy-store size), never to cores —
    * set `graft.streaming.statePartitions` in the session conf to
    * override the default of 4.
    */
  val DefaultStatePartitions = 4

  def statePartitions(spark: SparkSession): Int =
    spark.conf.getOption("graft.streaming.statePartitions")
      .map(_.toInt).getOrElse(DefaultStatePartitions)

  /** Run `body` (which must both start AND drain the streaming query)
    * with `spark.sql.shuffle.partitions` pinned to
    * [[statePartitions]]. The value is captured by the query at start
    * and kept for the checkpoint's lifetime; batch queries around it
    * are unaffected because the previous value is restored on exit.
    *
    * Public because `foreachBatch` bodies need it too: the micro-batch
    * runs on a clone of the session taken at `.start()`, so batch work
    * inside the batch function (delta-sized index updates, store
    * upserts) inherits whatever shuffle-partition count was live at
    * start — 32 CPU-derived partitions over kilobyte deltas multiplies
    * fixed per-task overhead for nothing (measured: s10 ran 2.4×
    * SLOWER at local[32] than local[4] until pinned here).
    */
  def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, statePartitions(spark).toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** File stream over the driver's events parquet. `ts` has shipped as
    * both TIMESTAMP(NANOS) and TIMESTAMP_NTZ(MICROS) across testdata
    * generations — adapt to the inferred schema exactly like
    * [[graft.Tables.events]].
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer div, not `/`: epoch nanos exceed a double's exact range
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Run a finite (available-now) stream to a memory sink and return
    * the result table. `outputMode` is "complete" for aggregations (the
    * full aggregate, so the result equals the batch computation),
    * "append" for stateful row-level operators (dedup) whose results
    * accrete, and "update" for mapGroupsWithState, which emits one
    * refreshed row per touched group per micro-batch.
    */
  def runAvailableNow(spark: SparkSession, rows: DataFrame,
                      queryName: String, outputMode: String): DataFrame =
    withStatePartitions(spark) {
      val q = rows.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(queryName)
    }

  /** Hourly per-type event counts as a watermarked windowed streaming
    * aggregation — the streaming twin of the batch hourly rollup. State
    * is bounded by the 1h watermark at production scale; with
    * AvailableNow over a finite source it drains to the exact batch
    * answer.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup on a key column — the streaming twin of the
    * reference's INSERT OR IGNORE (reference server.js:198) — with
    * watermark-BOUNDED state: `dropDuplicatesWithinWatermark` evicts a
    * key's state once the event-time watermark passes its first-seen
    * timestamp plus `delay`, so state size is O(keys seen within the
    * watermark horizon), not O(all keys ever) — the difference between a
    * job that runs forever and one that OOMs its state store at 100 TB.
    *
    * Contract: a key recurring AFTER its state was evicted is emitted
    * again (the standard bounded-state tradeoff; callers needing exact
    * global dedup reconcile downstream, e.g. the batch anti-join of
    * [[graft.operators.Ingest.dedupIngest]]). Within one micro-batch —
    * the AvailableNow parity runs — the result is exact.
    */
  def streamingDedup(stream: DataFrame, keyCol: String,
                     tsCol: String = "ts",
                     delay: String = "3 hours"): DataFrame =
    stream.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Store-backed streaming upsert: each micro-batch anti-joins against
    * the DURABLE STORE ([[graft.operators.Ingest.dedupIngestKeyed]])
    * and appends only novel content — INSERT OR IGNORE (reference
    * server.js:198) as `foreachBatch`. Unlike state-based
    * `dropDuplicates*`, this holds ZERO streaming state and is exact at
    * ANY horizon: the store itself is the dedup ground truth. The store
    * PERSISTS the 8-byte `content_key` column, so per-batch cost really
    * is one column-pruned key scan (never a rehash of the corpus text)
    * — the right trade when batches are seconds apart, the wrong one at
    * per-event latencies (use [[streamingDedup]] there).
    *
    * Only an empty store — no directory yet, or one without data files
    * ([[graft.operators.Ingest.readStore]]) — falls back to no keys; any
    * other read failure PROPAGATES and fails the batch (the checkpoint
    * retries it) — swallowing it would silently disable dedup and
    * append duplicates.
    */
  def upsertToStore(rows: DataFrame, storePath: String,
                    checkpointPath: String, contentCol: String,
                    orderCol: String,
                    trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    // pinning only needs to bracket .start(): the micro-batch session
    // clone captures the conf there, so the batch-side joins run at
    // the delta-proportional count even though the caller drains later
    withStatePartitions(rows.sparkSession) {
    rows.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.functions.lit
        val storeKeys = graft.operators.Ingest.readStore(spark, storePath)
          .fold(batch.select(lit(0L).as("content_key")).limit(0))(
            _.select("content_key"))
        val novel = graft.operators.Ingest
          .dedupIngestKeyed(batch, storeKeys, contentCol, orderCol)
        graft.operators.Ingest.writeStore(novel, storePath)
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .start()
    }

  /** Sessionization via Spark's NATIVE `session_window` — the built-in
    * twin of the custom-state [[sessionCounts]]: the aggregation
    * operator itself merges overlapping [event, event+gap) windows in
    * state, no user code. Prefer this form when per-session output is an
    * aggregation (counts/sums); drop to mapGroupsWithState only for
    * logic aggregates can't express (e.g. [[sessionCounts]]'s segment
    * bookkeeping).
    *
    * Boundary semantics differ by one tick from the lag/cumsum batch
    * rule: a window is [start, last + gap), so an event arriving EXACTLY
    * `gap` after the previous one starts a NEW session — the batch twin
    * is `gap >= G`, where r11/s03 use `gap > G`.
    */
  def sessionWindowCounts(events: DataFrame,
                          gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))

  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  case class SessState(segStart: Long, lastTs: Long,
                       sessions: Long, events: Long)
  case class SessOut(user_id: Long, seg_start: Long,
                     n_sessions: Long, n_events: Long)

  /** Custom-state sessionization with `mapGroupsWithState`: a session
    * ends after a >30 min silence per user (same contract as the batch
    * lag/cumsum formulation). State per user is 32 bytes — the
    * KeyValueGroupedDataset path for logic that windows/aggregations
    * can't express.
    *
    * State is WATERMARK-BOUNDED via `EventTimeTimeout`: once the
    * watermark passes a user's last event + the session gap, no
    * in-watermark event can ever extend that user's current session, so
    * the state is emitted one final time and removed. A user recurring
    * later starts a fresh state *segment*; because eviction only happens
    * after the gap has provably elapsed, session boundaries partition
    * cleanly across segments and per-user totals are the SUM over
    * segments. Each output row carries `seg_start` (epoch millis of the
    * segment's first event) so downstream aggregation can take the final
    * row per segment and then sum — see
    * [[graft.queries.StreamingQueries.streamSessions]].
    *
    * Events are sorted within each micro-batch delivery; state carries
    * the last timestamp so session boundaries survive batch splits (with
    * the usual streaming caveat that late cross-batch arrivals belong in
    * front of the watermark — late rows are dropped by the stateful
    * operator once a watermark is set).
    */
  def sessionCounts(events: DataFrame, delay: String = "3 hours",
                    gapSeconds: Long = 1800)
      : org.apache.spark.sql.Dataset[SessOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("user_id"), col("ts"), col("event_id"))
      .as[SessEvent]
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessState, SessOut](
          GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[SessEvent], state) =>
          if (state.hasTimedOut) {
            // watermark > lastTs + gap: the segment can never grow.
            // Emit its final row once more (idempotent downstream) and
            // release the state — THE eviction that bounds state size.
            val s = state.get
            val out = SessOut(uid, s.segStart, s.sessions, s.events)
            state.remove()
            out
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var (segStart, lastTs, sessions, count) = state.getOption
              .map(s => (s.segStart, s.lastTs, s.sessions, s.events))
              .getOrElse((sorted.head.ts.getTime, Long.MinValue, 0L, 0L))
            for (e <- sorted) {
              val t = e.ts.getTime / 1000
              if (lastTs == Long.MinValue || t - lastTs > gapSeconds)
                sessions += 1
              lastTs = t
              count += 1
            }
            state.update(SessState(segStart, lastTs, sessions, count))
            // Safe-eviction point: one second past the first instant at
            // which any still-valid event would start a new session
            // anyway. Must stay ahead of the current watermark or Spark
            // rejects the timestamp (can lag when this group's events
            // arrived well behind other keys').
            val evictAt = (lastTs + gapSeconds + 1) * 1000
            state.setTimeoutTimestamp(
              math.max(evictAt, state.getCurrentWatermarkMs + 1))
            SessOut(uid, segStart, sessions, count)
          }
      }
  }
}
