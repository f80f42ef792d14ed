package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.8).
  *
  * The reference is strictly batch (all-async but no watermarks/state
  * anywhere in its tree); these are the streaming counterparts a
  * trace-by-trace ingest pipeline needs, built on the engine's own
  * operators so batch and streaming share semantics:
  *  - [[tumblingCounts]] / [[slidingCounts]] — event-time windowed
  *    aggregation with watermark-bounded state;
  *  - [[sessionize]] — gap-based sessions via flatMapGroupsWithState
  *    (the streaming twin of Relational.qEventsSessionize);
  *  - [[dedupStream]] — watermarked exact dedup (state = one key per id
  *    inside the watermark horizon, bounded memory at any throughput);
  *  - [[chunkAlignedSink]] — foreachBatch writer that lands each
  *    micro-batch into the MDIO store chunk-aligned (the reference's
  *    SEG-Y-ingest shape, regression_tests/multidimio_compatibility_test.py).
  *
  * All state is keyed + watermark-bounded, so at cluster scale the state
  * store grows with (keys in horizon), not stream length.
  */
object Streams {

  /** Event schema shared with the batch `events` table. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     n_events: Long, total_value: Double)

  /** Per-user open-session state for [[sessionize]]. */
  case class SessState(start: Long, last: Long, n: Long, total: Double)

  /** Per-type CUSUM carry for [[cusumAlarms]]: prefix sum of deviations
    * and its running minimum — the O(1) state that makes Page's CUSUM a
    * streaming operator (the batch twin `events_cusum` computes the same
    * statistic as a closed-form window pass). */
  case class CusumState(p: Long, minP: Long)

  case class CusumAlarm(event_type: String, event_id: Long, s: Long)

  /** Per-user funnel progress for [[funnelConversions]]: first qualified
    * timestamp (epoch micros) of each completed step, -1 while pending. */
  case class FunnelState(t1: Long, t2: Long, t3: Long)

  case class FunnelConv(user_id: Long, t1_us: Long, t2_us: Long, t3_us: Long)

  /** Epoch microseconds of a Timestamp (getTime carries millis; the
    * sub-millisecond residue lives in the nanos field). */
  @inline private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** STREAMING CONVERSION FUNNEL — the incremental twin of the batch
    * `events_funnel`: per user, advance a 3-step machine (first view →
    * first click ≥ 30 within `windowUs` → first purchase ≥ 60 within
    * `windowUs`) and emit ONE conversion row the moment step 3 completes.
    * State is three longs per user — bounded by the user population, no
    * timeout needed (funnel progress never expires; this is conversion
    * tracking, not windowing). Events inside a micro-batch sort by
    * (event time, funnel step order, event_id) — step order breaks
    * equal-timestamp ties the way the batch oracle's `t >= t1` closure
    * does: a click stamped identically to the user's first view must be
    * processed AFTER it so it can qualify (id-ordered ties would skip it
    * whenever the click's id sorts first). Single-batch ingest thereby
    * reproduces the batch min-timestamp semantics exactly; across
    * triggers a straggler that would retroactively move an EARLIER step
    * is not replayed (the standard streaming-funnel trade-off: steps
    * only advance). */
  def funnelConversions(spark: SparkSession, events: Dataset[Event],
                        windowUs: Long): Dataset[FunnelConv] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelConv](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          val step = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
          val evs = batch.toSeq
            .sortBy(e => (micros(e.ts), step.getOrElse(e.event_type, 3), e.event_id))
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          var conv: Option[FunnelConv] = None
          evs.foreach { e =>
            val t = micros(e.ts)
            if (st.t1 < 0 && e.event_type == "view")
              st = st.copy(t1 = t)
            else if (st.t1 >= 0 && st.t2 < 0 && e.event_type == "click" &&
                     e.value >= 30.0 && t >= st.t1 && t <= st.t1 + windowUs)
              st = st.copy(t2 = t)
            else if (st.t2 >= 0 && st.t3 < 0 && e.event_type == "purchase" &&
                     e.value >= 60.0 && t >= st.t2 && t <= st.t2 + windowUs) {
              st = st.copy(t3 = t)
              conv = Some(FunnelConv(userId, st.t1, st.t2, st.t3))
            }
          }
          state.update(st)
          conv.iterator
      }
  }

  /** Streaming CUSUM change-point detector: per event type, maintain the
    * prefix sum P of cent deviations from the fixed baseline `driftCents`
    * and its running minimum; emit an alarm row for every event whose
    * excursion S = P − min(0, min prefix P) exceeds `thresholdCents`.
    * State is two longs per key — bounded forever, no watermark needed
    * (the statistic never expires; this is drift detection, not
    * windowing). Events inside a micro-batch sort by event_id (the
    * [[sessionize]] discipline: batch iterators are unordered); batches
    * are assumed id-ordered across triggers, which file-source ingest of
    * an append-only log satisfies. Cent quantization matches the batch
    * column form (`CAST(value AS DECIMAL(18,2)) · 100`) digit for digit,
    * so the DuckDB oracle certifies the streaming run's alarms exactly. */
  def cusumAlarms(spark: SparkSession, events: Dataset[Event],
                  driftCents: Long, thresholdCents: Long): Dataset[CusumAlarm] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (etype: String, batch: Iterator[Event], state: GroupState[CusumState]) =>
          val evs = batch.toSeq.sortBy(_.event_id)
          var st = state.getOption.getOrElse(CusumState(0L, Long.MaxValue))
          val alarms = scala.collection.mutable.ArrayBuffer[CusumAlarm]()
          evs.foreach { e =>
            val cents = new java.math.BigDecimal(e.value)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
            val p = st.p + (cents - driftCents)
            val minP = math.min(st.minP, p)
            st = CusumState(p, minP)
            val s = p - math.min(minP, 0L)
            if (s > thresholdCents) alarms += CusumAlarm(etype, e.event_id, s)
          }
          state.update(st)
          alarms.iterator
      }
  }

  /** Tumbling event-time windows with late-data tolerance. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Sliding windows (length, slide). */
  def slidingCounts(events: DataFrame, length: String = "1 hour",
                    slide: String = "15 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), length, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Gap-based sessionization: a session closes after `gapSeconds` of
    * inactivity. An EVENT-TIME timeout closes stragglers: when the
    * watermark passes a user's `last event + gap`, the open session is
    * emitted and its state dropped — so trailing sessions of quiet users
    * are not lost, state stays watermark-bounded, and the behavior is
    * deterministic in event time (a processing-time timeout would both
    * depend on wall-clock and keep scheduling no-data batches). Emits one
    * row per closed session. */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapSeconds: Long = 1800L,
                 watermark: String = "2 hours"): Dataset[Session] = {
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new events: close the session
            val st = state.get
            state.remove()
            Iterator.single(Session(userId, new java.sql.Timestamp(st.start), st.n, st.total))
          } else {
            // events within a micro-batch are not ordered — sort this user's slice
            val evs = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer[Session]()
            evs.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(st) if t - st.last <= gapSeconds * 1000 =>
                  cur = Some(st.copy(last = t, n = st.n + 1, total = st.total + e.value))
                case Some(st) =>
                  closed += Session(userId, new java.sql.Timestamp(st.start), st.n, st.total)
                  cur = Some(SessState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessState(t, t, 1L, e.value))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // deadline must sit beyond the current watermark: a late-but-
              // allowed event can leave last+gap already behind it, in which
              // case the session closes at the next watermark advance
              state.setTimeoutTimestamp(
                math.max(st.last + gapSeconds * 1000, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** Stream-stream interval join: each purchase matches the same user's
    * clicks from the preceding `windowSeconds`. Both sides watermark, and
    * the time-bound condition lets Spark expire join state — without it a
    * stream-stream join buffers forever (the canonical unbounded-state
    * hazard). */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
                      windowSeconds: Long = 3600L,
                      watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowSeconds SECONDS"))
  }

  /** LEFT-OUTER stream-stream interval join: as [[clickToPurchase]], but a
    * purchase with NO click in its preceding `windowSeconds` still emits —
    * null-padded — once the event-time watermark passes the purchase's
    * match horizon and its join state is evicted (the unattributed-revenue
    * shape). The outer row CANNOT emit eagerly: only watermark passage
    * proves no matching click can still arrive, so emission rides state
    * eviction — this is the one join shape whose output inherently spans
    * micro-batches, and why callers must advance the watermark beyond the
    * data (a horizon row) before draining the sink. Same two-sided
    * watermark + time-bound condition keeps state bounded at 100 TB/day:
    * a purchase's state lives exactly `watermark` past its timestamp. */
  def clickToPurchaseOuter(clicks: DataFrame, purchases: DataFrame,
                           windowSeconds: Long = 3600L,
                           watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowSeconds SECONDS"),
      "leftOuter")
  }

  /** FULL-OUTER stream-stream interval join: matched (purchase, click)
    * pairs emit eagerly; an unmatched purchase emits null-padded once the
    * watermark passes its match window ([[clickToPurchaseOuter]]); an
    * unmatched CLICK likewise emits null-padded once the watermark passes
    * the last instant a qualifying purchase could arrive (`click_ts +
    * windowSeconds`). Both sides' state is watermark-evicted — full-outer
    * is the shape where BOTH eviction paths also produce output. */
  def clickToPurchaseFull(clicks: DataFrame, purchases: DataFrame,
                          windowSeconds: Long = 3600L,
                          watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowSeconds SECONDS"),
      "fullOuter")
  }

  /** LEFT-SEMI stream-stream interval join: purchases with AT LEAST ONE
    * click in the preceding `windowSeconds`, emitted ONCE each (the
    * attributed-purchase filter — EXISTS, not the pair multiplication of
    * the inner join). Emission is eager: a purchase emits the moment its
    * first matching click is present, whichever side arrived first, and
    * the engine's per-row matched flag suppresses re-emission on later
    * matches. Same watermark + time-bound state eviction as the other
    * shapes. Returns the purchase side's columns only. */
  def clickToPurchaseSemi(clicks: DataFrame, purchases: DataFrame,
                          windowSeconds: Long = 3600L,
                          watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowSeconds SECONDS"),
      "leftSemi")
  }

  /** Watermarked exact dedup on an id column: a duplicate id arriving
    * within the watermark horizon is dropped even when its timestamp
    * differs (true id-only dedup — dropDuplicatesWithinWatermark keys
    * state on the id alone and expires it with the watermark, so state
    * stays bounded). */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
                  watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(idCol)

  /** foreachBatch sink landing micro-batches into an MDIO variable,
    * chunk-aligned (single-writer-per-chunk holds per micro-batch because
    * writeVariable's owner shuffle routes every cell of a chunk or shard to
    * one task). */
  def chunkAlignedSink(spark: SparkSession, path: String, variable: String)(
      batch: DataFrame, batchId: Long): Unit =
    graft.sources.MdioWriter.writeVariable(spark, batch, path, variable)
}
