package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface for the engine.
  *
  * The reference has no event-time streaming (SURVEY §2.9 — its
  * asyncio concurrency is physical, not logical), but its crawler
  * drops metadata JSON into a landing directory incrementally; the
  * idiomatic Spark analogue (SURVEY §7 stretch goal) is a
  * file-arrival `readStream` over that directory plus the two
  * streaming shapes a 100 TB training-data pipeline actually needs:
  * watermarked tumbling-window aggregation and stateful
  * sessionization. Both run identically under `Trigger.AvailableNow`
  * for batch backfill — one code path for live and catch-up.
  *
  * This object holds only the stateful shapes a registered lane runs
  * (windowed counts, sessions, HLL registers, the stream-stream join)
  * and the reference's parquet sink. A stateless operator (a batch-fit
  * model scored per row, a generator) needs no streaming wrapper: it
  * runs unchanged on a streaming DataFrame, as q234 runs
  * [[graft.operators.Dedup.corpusTriageScored]].
  */
object EventStreams {

  /** Epoch-nano BIGINT → timestamp column. `div`, not `/`: Column./
    * on longs is DOUBLE division, and realistic epoch-nanos
    * (~1.8e18) exceed 2^53, so the double detour rounds ts by up to
    * ~128 ns and the truncating cast then lands 1 µs off exact
    * ns÷1000 — enough to flip an inclusive horizon-boundary match
    * relative to the exact-integer batch twin (the same hazard
    * [[graft.operators.Temporal.intervalJoin]] documents for its
    * bucket arithmetic). */
  def tsCol: org.apache.spark.sql.Column =
    timestamp_micros(expr("ts div 1000"))

  /** Watermarked tumbling-window aggregate: events per (window,
    * type) with value sum. Late events beyond the watermark are
    * dropped — state is bounded, which is the whole point at scale:
    * without the watermark the window state grows with the stream. */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("event_time", tsCol)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Stream-STATIC enrichment + windowed aggregate (r16) — the
    * canonical ingest-enrichment shape completing the streaming join
    * matrix beside [[attributionJoin]]'s stream-stream case: each
    * arriving event joins a STATIC dimension (broadcast — the dim is
    * bounded; no state store, no watermark needed for the join
    * itself, Spark re-plans the static side per micro-batch), then
    * rolls into watermarked hourly windows per dimension attribute.
    * At 100 TB the dimension outgrowing the broadcast threshold
    * degrades gracefully to a shuffle join of each micro-batch —
    * the same plan decision as batch. Sums should arrive decimal
    * (the q187 order-independence rule). */
  def enrichedHourlyCounts(events: DataFrame, dim: DataFrame,
                           keyCol: String, dimKeyCol: String, attrCol: String,
                           watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("event_time", tsCol)
      .withWatermark("event_time", watermark)
      .join(broadcast(dim.select(col(dimKeyCol).as(keyCol), col(attrCol))), keyCol)
      .groupBy(window(col("event_time"), "1 hour"), col(attrCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col(attrCol), col("n"), col("sum_value"))

  /** One closed user session. */
  case class Session(userId: Long, startTs: Long, endTs: Long, nEvents: Int, totalValue: Double)

  case class SessionBuf(startTs: Long, endTs: Long, nEvents: Int, totalValue: Double)

  /** Stateful sessionization (`flatMapGroupsWithState`): per-user
    * sessions closed after `gapMinutes` of event-time silence. State
    * per user is one small buffer regardless of stream length —
    * the KeyValueGroupedDataset form of the reference's per-book
    * accumulate-then-flush loops. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30,
                 watermark: String = "2 hours"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapNanos = gapMinutes * 60L * 1000000000L

    // The watermark column must survive the projection into the
    // grouped Dataset — dropping it disables event-time timeouts.
    val typed = events
      .withColumn("event_time", tsCol)
      .withWatermark("event_time", watermark)
      .select(col("user_id"), col("ts"), col("value"), col("event_time"))
      .as[(Long, Long, Double, java.sql.Timestamp)]

    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionBuf, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionBuf]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.startTs, s.endTs, s.nEvents, s.totalValue))
          } else {
            // Scale bound: this buffers ONE user's events from ONE
            // micro-batch (not the stream's history — state stays a
            // single SessionBuf). ~48 bytes/event, so even a hot key
            // with 10⁶ events in a trigger is ~50 MB on one task;
            // a corpus where single users exceed that per trigger
            // needs a smaller trigger interval (or pre-aggregation
            // to (user, minute) rows upstream) — the same per-key
            // buffering bound documented at Dedup.collapseIdentical.
            val sorted = rows.toSeq.sortBy(_._2)
            var buf = state.getOption.orNull
            val closed = Seq.newBuilder[Session]
            for ((_, ts, v, _) <- sorted) {
              if (buf == null) buf = SessionBuf(ts, ts, 1, v)
              else if (ts - buf.endTs > gapNanos) {
                closed += Session(userId, buf.startTs, buf.endTs, buf.nEvents, buf.totalValue)
                buf = SessionBuf(ts, ts, 1, v)
              } else {
                buf = SessionBuf(buf.startTs, ts max buf.endTs, buf.nEvents + 1, buf.totalValue + v)
              }
            }
            if (buf != null) {
              state.update(buf)
              // close the open session once the watermark passes endTs+gap
              state.setTimeoutTimestamp(buf.endTs / 1000000L + gapMinutes * 60L * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Declarative sessionization — the same gap-session semantics as
    * [[sessionize]] through Catalyst's native `session_window`
    * aggregate instead of custom `flatMapGroupsWithState` state.
    * This is the preference-order point (compose built-ins before
    * custom state): the built-in window gets codegen, state-store
    * merge, and watermark eviction for free; the custom path earns
    * its keep only where the semantics outgrow an aggregate (the
    * reference's accumulate-then-flush loops map to either).
    * EventStreamsSpec pins the two against each other on closed
    * sessions — the session_window's `end` is last-event + gap by
    * definition, so `session_end_ts` here subtracts the gap back to
    * the last event time to match [[Session]]'s convention.
    *
    * Precision contract: `session_window` works on TimestampType,
    * which is MICROsecond-precision — [[tsCol]] truncates the
    * engine's nano timestamps, so gap decisions and the emitted
    * `session_*_ts` are exact only for micro-aligned event times
    * (the driver's events are). A sub-microsecond delta straddling
    * exactly `gap` can merge here while [[sessionize]] (raw nanos)
    * splits — the one place the two paths may diverge; data with
    * meaningful sub-µs gaps must use the stateful path.
    *
    * State per open (user, session) is one aggregation buffer —
    * same bound as the tumbling windows above, evicted when the
    * watermark passes the session end. */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30,
                       watermark: String = "2 hours"): DataFrame = {
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .withColumn("event_time", tsCol)
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).cast("int").as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("user_id"),
        (unix_micros(col("session_window.start")) * 1000L).as("session_start_ts"),
        ((unix_micros(col("session_window.end")) - gapMicros) * 1000L).as("session_end_ts"),
        col("n_events"), col("total_value"))
  }

  /** Streaming HyperLogLog: per (tumbling window, event_type)
    * distinct-user registers, maintained as a watermarked streaming
    * max-aggregation. State is bounded at `2^p` registers per open
    * (window, type) — a streaming `count(DISTINCT)` would hold every
    * key — and registers emit when the watermark closes the window.
    * The emitted rows are exactly the shape
    * [[graft.operators.Sketches.hllFinalize]] folds into estimates
    * (run it as a cheap batch pass over the sink — Structured
    * Streaming's single-aggregation rule keeps the finalize out of
    * the streaming query), and because both paths share
    * [[Sketches.hllRegister]]/[[Sketches.hllRank]], a streamed
    * window's registers — and therefore its estimate — are
    * bit-identical to batch [[Sketches.hyperloglog]] over the same
    * rows. */
  def hllRegistersWindowed(events: DataFrame, p: Int = 6,
                           watermark: String = "2 hours"): DataFrame = {
    import graft.operators.Sketches
    events
      .withColumn("event_time", tsCol)
      .withWatermark("event_time", watermark)
      .groupBy(
        window(col("event_time"), "1 hour"),
        col("event_type"),
        Sketches.hllRegister(col("user_id"), p).as("reg"))
      .agg(max(Sketches.hllRank(col("user_id"), p)).as("maxrho"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("reg"), col("maxrho"))
  }

  /** Watermarked STREAM-STREAM inner join — the attribution /
    * request-response correlation shape (click within `horizon` of
    * its impression, response matched to request, ASR result matched
    * to submitted segment), and the tier's one two-unbounded-inputs
    * operator: every other streaming op here is one stream against
    * bounded state.
    *
    * Both sides carry a watermark and the join predicate carries a
    * closed event-time range; together those are what let Spark
    * EVICT join state — an impression can only match clicks in
    * `[imp_time, imp_time + horizon]`, so once the click watermark
    * passes that bound the buffered impression row is dropped. State
    * is bounded by (watermark + horizon) × arrival rate per key,
    * never by stream length; an unconstrained stream-stream join
    * would buffer both streams forever, which is why the time bound
    * is mandatory, not an optimization. Shuffle is on the join key —
    * the same exchange the batch join runs. Inner-join results are
    * watermark-independent under AvailableNow backfill, so batch
    * parity is EXACT (spec-pinned: the same frames joined with the
    * same predicate in batch).
    *
    * Emits every qualifying (impression, click) pair — last-touch /
    * first-touch attribution is a downstream aggregate over pairs
    * (arg-min by click_time per impression, the q98-style
    * min(struct) cut), kept out of this operator so the pair stream
    * stays append-mode composable.
    *
    * `joinType = "left_outer"` additionally emits each UNATTRIBUTED
    * impression once, with null click columns, when the click
    * watermark proves no match can still arrive (watermark past
    * `imp_time + horizon`) — the conversion-funnel denominator.
    * Unlike inner pairs, outer rows are inherently
    * watermark-DEPENDENT: an impression whose horizon the final
    * watermark never passed stays buffered unemitted, so the spec's
    * batch-parity claim restricts to impressions with a closed
    * horizon. */
  def attributionJoin(impressions: DataFrame, clicks: DataFrame,
                      keyCol: String = "user_id",
                      horizon: String = "30 minutes",
                      watermark: String = "1 hour",
                      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer",
      s"attribution join supports inner and left_outer, got $joinType")
    val imp = impressions
      .withColumn("imp_time", tsCol)
      .withWatermark("imp_time", watermark)
      .select(col(keyCol).as("__k"), col("event_id").as("imp_id"), col("imp_time"))
    val clk = clicks
      .withColumn("click_time", tsCol)
      .withWatermark("click_time", watermark)
      .select(col(keyCol).as("__ck"), col("event_id").as("click_id"), col("click_time"))
    imp.join(clk,
        col("__k") === col("__ck") &&
          col("click_time") >= col("imp_time") &&
          col("click_time") <= col("imp_time") + expr(s"INTERVAL $horizon"),
        joinType)
      .select(col("__k").as(keyCol), col("imp_id"), col("click_id"),
        col("imp_time"), col("click_time"))
  }

  /** Streaming file sink (S16 shape): append the stream to a
    * partitioned parquet dataset with checkpointing — exactly-once
    * per file-sink semantics. Returns the started query. */
  def writeParquetSink(df: DataFrame, outDir: String, checkpointDir: String,
                       availableNow: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
    (if (availableNow) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()) else w)
      .start()
  }
}
