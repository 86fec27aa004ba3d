package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}

import graft.functions.Exact

/** Event-time windowing logic shared between the BATCH twins (registered as
  * q45/q46, oracle-checked by the driver) and the Structured Streaming
  * runner (exercised by the ScalaTest suite): one definition, two execution
  * modes — the Spark idiom for keeping a streaming pipeline testable
  * (SURVEY.md §2.9).
  */
object Windows {

  /** Tumbling window length — single source of truth for [[tumbling]] and
    * for the suite's horizon arithmetic (StreamingSpec), so the two can't
    * silently drift apart.
    */
  val TumblingWindowMs: Long = 3600L * 1000

  /** Watermark delay used by every streaming runner here. */
  val WatermarkDelayMs: Long = 10L * 60 * 1000

  /** Tumbling 1-hour windows per event type: count + order-independent
    * decimal-exact sum ([[Exact.dsum]]) + min/max.
    */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        Exact.dsum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("n"), col("sum_value"),
        col("min_value"), col("max_value"))

  /** Sliding 1-hour windows advancing every 30 minutes (each event lands in
    * two windows).
    */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Session windows with a 30-minute inactivity gap per user: a session
    * closes when the next event arrives ≥ gap after the previous EVENT;
    * session end = last event + gap.
    */
  def session(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"))

  /** Structured Streaming variant of [[tumbling]]: parquet file source →
    * 10-minute watermark → windowed aggregation → in-memory sink (named
    * `tableName`). APPEND mode: a window is emitted exactly once, when the
    * watermark passes its end — which is also what makes the watermark's
    * scale claims real: late rows beyond the watermark are dropped and the
    * evicted window's state is freed, so the query runs forever on an
    * unbounded stream with bounded state. (Complete mode would retain every
    * window and never drop late data.) The cost of append for the observer
    * is that windows still inside the watermark horizon are not yet visible.
    */
  def streamTumbling(
      spark: SparkSession, sfDir: String, tableName: String): StreamingQuery = {
    runTumbling(graft.Tables.eventsStream(spark, sfDir), tableName)
  }

  /** Watermark + tumbling + append-mode memory sink over any ts-bearing
    * source — shared by [[streamTumbling]] and the suite's MemoryStream
    * late-data test.
    */
  def runTumbling(raw: DataFrame, tableName: String): StreamingQuery =
    tumbling(raw.withWatermark("ts", "10 minutes"))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()

  /** Custom keyed state via `mapGroupsWithState` (SURVEY.md §2.9): a running
    * per-user event counter, the minimal shape of any bespoke stateful
    * operator (sessionization, CDC merge, enrichment caches). Each
    * micro-batch folds its events into the user's persisted count and emits
    * the new total (update mode). State is bounded by an EVENT-TIME timeout
    * one hour past the watermark — on an unbounded stream every idle key is
    * evicted, which is what keeps the state store from growing without
    * bound at scale; the timeout branch emits a tombstone row (`closed =
    * true`) with the final count.
    */
  def streamRunningCount(
      spark: SparkSession, sfDir: String, tableName: String): StreamingQuery = {
    import spark.implicits._
    graft.Tables.eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[Long, (Long, Long, Boolean)](
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val total = state.get
            state.remove()
            (user, total, true)
          } else {
            val total = state.getOption.getOrElse(0L) + events.size
            state.update(total)
            state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs() + 60L * 60 * 1000)
            (user, total, false)
          }
      }
      .toDF("user_id", "n_events", "closed")
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("update")
      .start()
  }

  /** Batch twin of [[streamViewPurchase]]: every (view, purchase) pair for
    * a user where the purchase follows the view by 0–30 minutes. In batch
    * this is a plain interval join; both sides come from one `events`
    * relation.
    */
  def viewPurchasePairs(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("b_ts"))
    views.join(buys,
      col("v_user") === col("b_user") &&
        col("b_ts") >= col("v_ts") &&
        col("b_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("v_user").as("user_id"), col("view_id"), col("buy_id"))
  }

  /** STREAM-STREAM inner join — the attribution shape (impressions ×
    * conversions) that dominates real event pipelines: views join purchases
    * by user within a 0–30-minute event-time interval. Both sides carry
    * watermarks and the join condition bounds event time in BOTH
    * directions, which is what lets Spark evict join state — without the
    * time bound each side's state would grow with the whole stream. The
    * same condition at 100 TB: state ≈ one watermark-window of the smaller
    * side per user, shuffled by user_id.
    */
  def streamViewPurchase(
      spark: SparkSession, sfDir: String, tableName: String): StreamingQuery = {
    def side() = graft.Tables.eventsStream(spark, sfDir)
    val views = side().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val buys = side().filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", "10 minutes")
    views.join(buys,
      col("v_user") === col("b_user") &&
        col("b_ts") >= col("v_ts") &&
        col("b_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("v_user").as("user_id"), col("view_id"), col("buy_id"))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }

  /** [[streamViewPurchase]]'s LEFT OUTER form — "which impressions
    * converted, and which provably did NOT": an unmatched view emits a
    * null-padded row only after the watermark passes the END of its join
    * window (v_ts + 30 min), because until then a matching purchase could
    * still arrive. This is the stream-stream shape that REQUIRES both the
    * watermarks and the two-sided time bound — without them Spark rejects
    * the outer join outright (state could never be declared complete). The
    * no-data batch Spark runs after a watermark advance is what flushes
    * the final nulls; state stays one watermark-window per user, as in
    * the inner form. StreamingSpec pins both halves against the batch
    * twins: matches ≡ inner join, nulls ≡ anti-join older than the final
    * watermark.
    */
  def streamViewPurchaseOuter(
      spark: SparkSession, sfDir: String, tableName: String): StreamingQuery = {
    def side() = graft.Tables.eventsStream(spark, sfDir)
    val views = side().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val buys = side().filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", "10 minutes")
    views.join(buys,
      col("v_user") === col("b_user") &&
        col("b_ts") >= col("v_ts") &&
        col("b_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter")
      .select(col("v_user").as("user_id"), col("view_id"), col("buy_id"),
        col("v_ts"))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }

  /** Custom sessionization via `flatMapGroupsWithState` — the MULTI-emit
    * stateful API (mapGroupsWithState above returns exactly one row per
    * group per batch; a sessionizer must emit ZERO OR MANY completed
    * sessions and hold the open one). Per user the state is the open
    * session (start, last, count) in MICROSECONDS — the event timestamps
    * carry sub-ms precision, so `Timestamp.getTime` (ms) would corrupt
    * gap arithmetic; each batch folds its events in ts order, closing a
    * session whenever the next event arrives ≥ gap after the last
    * ([[session]]'s semantics: interval = [start, last+gap)). Completed
    * sessions flush immediately; the open session is emitted by the
    * EVENT-TIME timeout once the watermark passes last+gap — which also
    * bounds the state store to one open session per active user at 100 TB.
    */
  def streamSessionize(
      spark: SparkSession, sfDir: String, tableName: String): StreamingQuery = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    graft.Tables.eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      // the watermarked ts column must stay in the grouped Dataset for the
      // event-time timeout to be allowed; the µs twin does the exact math
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (s0, l0, n0) = state.get
            state.remove()
            Iterator((user, s0, l0 + gapUs, n0))
          } else {
            val ts = events.map(_._3).toArray.sorted
            var completed = List.empty[(Long, Long, Long)]
            var cur = state.getOption
            for (t <- ts) cur match {
              case None => cur = Some((t, t, 1L))
              case Some((s0, l0, n0)) =>
                if (t - l0 >= gapUs) {
                  completed ::= ((s0, l0, n0)); cur = Some((t, t, 1L))
                } else cur = Some((s0, t, n0 + 1))
            }
            cur.foreach { c =>
              state.update(c)
              // timeout once the watermark passes the session's close edge
              state.setTimeoutTimestamp((c._2 + gapUs) / 1000)
            }
            completed.reverseIterator
              .map { case (s0, l0, n0) => (user, s0, l0 + gapUs, n0) }
          }
      }
      .toDF("user_id", "start_us", "end_us", "n_events")
      .select(col("user_id"),
        expr("timestamp_micros(start_us)").as("sess_start"),
        expr("timestamp_micros(end_us)").as("sess_end"),
        col("n_events"))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }

  /** Shared enrichment logic for the STREAM-STATIC join pair: events
    * decorated with the customer dimension (user_id+1 keys into
    * c_custkey on the driver fixtures). The dim side is explicitly
    * broadcast: stateless per micro-batch, no streaming state at all —
    * the standard shape for decorating an unbounded stream with a
    * bounded dimension. At 100 TB the dimension either stays broadcastable
    * (most dims) or the join falls back to a per-batch shuffle; either
    * way no state store is involved, unlike the stream-stream join above.
    */
  def enriched(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") + 1 === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_name"), col("c_nationkey"))

  /** Structured Streaming execution of [[enriched]]: parquet events stream
    * joined to the static customer dimension, append-mode memory sink.
    */
  def streamEnrich(
      spark: SparkSession, sfDir: String, tableName: String): StreamingQuery = {
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val raw = graft.Tables.eventsStream(spark, sfDir)
    enriched(raw, dim)
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }

  /** Streaming stateful dedup: drop duplicate (user_id, event_type) pairs
    * arriving within the watermark — `dropDuplicatesWithinWatermark` keeps
    * the dedup state bounded (keys expire with the watermark) where plain
    * dropDuplicates would grow state forever.
    */
  def streamDedup(
      spark: SparkSession, sfDir: String, tableName: String): StreamingQuery = {
    graft.Tables.eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }

  /** Minimum per-hour counts that flag a burst, per event type — the
    * static reference a deployment derives from a trusted corpus snapshot
    * (the [[driftReference]] probe shape: one bounded driver read of
    * |types| rows). threshold = ⌈3·total/span⌉, the smallest count
    * satisfying q178's integer predicate cnt·span ≥ 3·total — so a
    * monitor primed with these thresholds flags EXACTLY the hours the
    * batch operator flags on the same corpus.
    */
  def burstThresholds(events: DataFrame): Map[String, Long] =
    events.filter(col("ts").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("total"),
        (max(col("m")) - min(col("m")) + 1).as("span"))
      .select(col("event_type"),
        expr("(3 * total + span - 1) div span").as("thr"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Open per-type monitor state: hour counts not yet finalized by the
    * watermark, plus the open burst (m0, m1, n_events, peak). */
  final case class BurstState(
      pending: Map[Long, Long],
      open: Option[(Long, Long, Long, Long)])

  /** STREAMING BURST MONITOR — q178's incident detection as it would run
    * in production: flag sustained ≥3× hourly elevation while the batch
    * is still loading. One `flatMapGroupsWithState` keyed by event type
    * owns the whole operator; hour counting, watermark-driven hour
    * FINALIZATION, and island assembly all live in the keyed state
    * (chaining a windowed aggregate into flatMapGroupsWithState is not a
    * supported stateful-operator sequence, so the monitor finalizes hours
    * itself against `getCurrentWatermarkMs` — the same edge the window
    * aggregate would have used). A burst CLOSES — and only then emits —
    * once the watermark proves hour m1+1 complete and unflagged
    * ((m1+2)·3600s ≤ watermark with no extension), i.e. an OPEN incident
    * is deliberately not emitted: it is not over. Event-time timeouts
    * re-invoke the group when the watermark crosses the next pending
    * edge, so closed bursts flush without waiting for new data.
    *
    * State is bounded: pending hours span at most the watermark delay
    * (finalized hours leave the map every invocation), and at most one
    * open burst per type.
    */
  def streamBurst(spark: SparkSession, sfDir: String, tableName: String,
      thr: Map[String, Long]): StreamingQuery = {
    import spark.implicits._
    val hourUs = 3600L * 1000 * 1000
    val hourMs = 3600L * 1000
    graft.Tables.eventsStream(spark, sfDir)
      .filter(col("ts").isNotNull)
      .withWatermark("ts", "10 minutes")
      .select(col("event_type"), col("ts"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BurstState, (String, Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (typ: String, events: Iterator[(String, java.sql.Timestamp, Long)],
         state: GroupState[BurstState]) =>
          val t = thr.getOrElse(typ, Long.MaxValue)
          val prev = state.getOption.getOrElse(BurstState(Map.empty, None))
          val wm = state.getCurrentWatermarkMs()
          // fold this batch's events into the pending hour counts,
          // DROPPING events whose hour is already provably complete at the
          // current watermark: flatMapGroupsWithState receives
          // later-than-watermark stragglers unfiltered, and without this
          // guard a straggler for an already-finalized hour would
          // re-finalize it with a partial count (and, over threshold, hit
          // the gap branch and spuriously close/reopen the burst island).
          // Finalized hours are immutable; an event this late is past the
          // declared 10-minute delay, so dropping it is exactly the
          // contract a windowed aggregate would have applied.
          val pending0 = events.foldLeft(prev.pending) { (acc, e) =>
            if ((e._3 + 1) * hourMs <= wm) acc
            else acc.updated(e._3, acc.getOrElse(e._3, 0L) + 1L)
          }
          // finalize hours fully behind the watermark, ascending
          val (done, pending) = pending0.partition {
            case (h, _) => (h + 1) * hourMs <= wm
          }
          var open = prev.open
          var closed = List.empty[(Long, Long, Long, Long)]
          for ((h, cnt) <- done.toSeq.sortBy(_._1)) {
            if (cnt >= t) open match {
              case Some((m0, m1, n, pk)) if h == m1 + 1 =>
                open = Some((m0, h, n + cnt, math.max(pk, cnt)))
              case Some(b) => // gap between flagged hours: close, reopen
                closed ::= b; open = Some((h, h, cnt, cnt))
              case None => open = Some((h, h, cnt, cnt))
            }
            // unflagged finalized hours close nothing here: the watermark
            // rule below is what proves hour m1+1 elapsed even when EMPTY
            // (an hour with zero events never appears in `pending`)
          }
          // the open burst closes once hour m1+1 is provably complete
          // and did not extend it
          open match {
            case Some(b @ (_, m1, _, _)) if (m1 + 2) * hourMs <= wm =>
              closed ::= b; open = None
            case _ => ()
          }
          if (pending.isEmpty && open.isEmpty) state.remove()
          else {
            state.update(BurstState(pending, open))
            // re-invoke when the watermark reaches the next edge that can
            // finalize an hour or close the open burst
            val edges = pending.keys.map(h => (h + 1) * hourMs) ++
              open.map { case (_, m1, _, _) => (m1 + 2) * hourMs }
            state.setTimeoutTimestamp(edges.min)
          }
          closed.reverseIterator.map { case (m0, m1, n, pk) =>
            (typ, m0 * hourUs, (m1 + 1) * hourUs, n, pk)
          }
      }
      .toDF("event_type", "start_us", "end_us", "n_events",
        "peak_hour_events")
      .select(col("event_type"),
        expr("timestamp_micros(start_us)").as("burst_start"),
        expr("timestamp_micros(end_us)").as("burst_end"),
        col("n_events"), col("peak_hour_events"))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }

  /** Per-(user, type) double-fire state: events not yet finalized by
    * the watermark, plus the last finalized event's µs — the gap anchor
    * the next finalized event compares against. */
  final case class FireState(
      pending: Vector[(Long, Long)], lastUs: Option[Long])

  /** STREAMING DOUBLE-FIRE DETECTOR — q285's sub-second (user, type)
    * retry detection as it runs in production (telemetry hygiene is the
    * family you want LIVE): one `flatMapGroupsWithState` keyed by
    * (user_id, event_type). Events buffer in keyed state until the
    * watermark proves their µs final (no earlier event can still
    * arrive); finalization sorts the proven prefix by the batch
    * operator's exact (us, event_id) total order and walks it against
    * the carried last-µs anchor, emitting every event within 1 s of its
    * predecessor — the same integer gap rule as q285, so streamed
    * emissions over the closed set ≡ the batch dup set (StreamingSpec).
    *
    * State is bounded and watermark-EVICTED: `pending` holds at most
    * the watermark delay's worth of one (user, type)'s events, and the
    * last-µs anchor is dropped once the watermark passes lastUs + 1 s —
    * provably lossless, because any event the engine still accepts has
    * event-time ≥ watermark > lastUs + 1 s and so could never pair with
    * the dropped anchor. Stragglers already behind the watermark are
    * dropped on arrival (the windowed-aggregate contract, q178's
    * straggler guard — a late event folded into an already-finalized
    * order could re-flag a closed gap).
    *
    * Event-time timeouts re-invoke the group at the next pending µs
    * edge (flush without new data) or at the anchor's eviction edge.
    */
  def streamDoubleFire(spark: SparkSession, sfDir: String,
      tableName: String): StreamingQuery = {
    import spark.implicits._
    graft.Tables.eventsStream(spark, sfDir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("event_type").isNotNull)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"), col("ts"))
      .as[(Long, String, Long, Long, java.sql.Timestamp)]
      .groupByKey(e => (e._1, e._2))
      .flatMapGroupsWithState[FireState, (Long, String, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, String),
         events: Iterator[(Long, String, Long, Long, java.sql.Timestamp)],
         state: GroupState[FireState]) =>
          val prev = state.getOption.getOrElse(FireState(Vector.empty, None))
          val wm = state.getCurrentWatermarkMs()
          // straggler guard: an event whose µs the watermark has already
          // finalized would splice into a closed order — drop it
          val pending0 = prev.pending ++ events.collect {
            case e if e._4 / 1000 >= wm => (e._4, e._3)
          }
          // finalize events provably complete: us strictly behind the
          // watermark ms edge (an equal-ms event could still arrive)
          val (doneV, pend) = pending0.partition {
            case (us, _) => us / 1000 < wm
          }
          var last = prev.lastUs
          var out = List.empty[(Long, String, Long, Long, Long)]
          for ((us, id) <- doneV.sortBy(identity)) {
            last match {
              case Some(p) if us - p <= 1000000L =>
                out ::= ((key._1, key._2, id, us, us - p))
              case _ => ()
            }
            last = Some(us)
          }
          // watermark-driven eviction: an anchor more than 1 s behind
          // the watermark can never pair with a still-acceptable event
          val keepAnchor = last.exists(l => l / 1000 + 1000 >= wm)
          if (pend.isEmpty && !keepAnchor) state.remove()
          else {
            state.update(FireState(pend, if (keepAnchor) last else None))
            val edges = pend.map(_._1 / 1000 + 1) ++
              (if (pend.isEmpty) last.map(_ / 1000 + 1001) else None)
            state.setTimeoutTimestamp(edges.min)
          }
          out.reverseIterator
      }
      .toDF("user_id", "event_type", "event_id", "us", "gap_us")
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }

  /** Open per-type trend-tracker state: hour counts not yet finalized by
    * the watermark, the last finalized hour, and the Brown smoothed pair
    * (s1, s2) — constant-size no matter how long the stream runs. */
  final case class LevelState(
      pending: Map[Long, Long],
      lastFin: Option[Long],
      s1: Double, s2: Double)

  /** STREAMING BROWN/EWMA LEVEL TRACKER — q193/q203's smoothing as it
    * runs in production: one `flatMapGroupsWithState` keyed by event
    * type owns hour counting, watermark-driven hour FINALIZATION
    * (q178's streamBurst shape, including the straggler guard), and the
    * order-2 recurrence s1 ← αx + (1−α)s1, s2 ← αs1 + (1−α)s2 advanced
    * once per finalized hour — SILENT hours are finalized as x = 0
    * exactly like the batch dense grid, driven by event-time timeouts
    * so the series keeps emitting while a type is quiet.
    *
    * Seeding is the streaming-native convention s1 = s2 = x₀ (first
    * finalized hour): the batch μ-seed is a whole-series quantity no
    * online operator can know. The two conventions CONVERGE at exactly
    * the W-truncation rate — the seed's residual after t hours is
    * (1−α)^t·(x₀−μ), the same geometric tail [[graft.queries.Analytic.ewmaChartPlan]]
    * proves sub-quantum past wlag ≈ 120 — so this recurrence IS the
    * truncated form run forward, and StreamingSpec asserts both the
    * bit-exact ≡ to a driver-side replay of this definition AND the
    * ≤1e-4 convergence to batch q203's s1/s2 past lag 130.
    *
    * State is bounded: pending hours span at most the watermark delay,
    * and the smoothed pair is two doubles — nothing grows with stream
    * length or corpus size.
    */
  def streamBrownLevel(spark: SparkSession, sfDir: String,
      tableName: String): StreamingQuery = {
    import spark.implicits._
    val alpha = 0.2
    val hourUs = 3600L * 1000 * 1000
    val hourMs = 3600L * 1000
    graft.Tables.eventsStream(spark, sfDir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .withWatermark("ts", "10 minutes")
      .select(col("event_type"), col("ts"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LevelState,
        (String, Long, Long, Double, Double)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (typ: String, events: Iterator[(String, java.sql.Timestamp, Long)],
         state: GroupState[LevelState]) =>
          val prev = state.getOption
            .getOrElse(LevelState(Map.empty, None, 0.0, 0.0))
          val wm = state.getCurrentWatermarkMs()
          // the q178 straggler guard: an event for a provably-complete
          // hour is past the declared delay; finalized hours are
          // immutable, so it is dropped — except that before the FIRST
          // finalization no hour is locked yet, and the guard must not
          // fire (lastFin nails the boundary thereafter)
          val pending0 = events.foldLeft(prev.pending) { (acc, e) =>
            if (prev.lastFin.exists(e._3 <= _)) acc
            else acc.updated(e._3, acc.getOrElse(e._3, 0L) + 1L)
          }
          var s1 = prev.s1; var s2 = prev.s2
          var lastFin = prev.lastFin
          var out = List.empty[(String, Long, Long, Double, Double)]
          // first finalization seeds the pair at x0; afterwards advance
          // hour by hour (zero-filling silence) while the watermark
          // proves each hour complete
          var cursor = lastFin match {
            case Some(h) => h + 1
            case None => pending0.keys.minOption.getOrElse(Long.MaxValue)
          }
          while (cursor != Long.MaxValue && (cursor + 1) * hourMs <= wm) {
            val x = pending0.getOrElse(cursor, 0L)
            if (lastFin.isEmpty) { s1 = x.toDouble; s2 = x.toDouble }
            else {
              s1 = alpha * x + (1 - alpha) * s1
              s2 = alpha * s1 + (1 - alpha) * s2
            }
            lastFin = Some(cursor)
            out ::= ((typ, cursor, x, s1, s2))
            cursor += 1
          }
          val pending = pending0.filter {
            case (h, _) => !lastFin.exists(h <= _)
          }
          state.update(LevelState(pending, lastFin, s1, s2))
          // re-invoke at the next hour-completion edge: the one after the
          // last finalized hour (keeps silent types emitting zeros), or
          // the first pending hour's edge before any finalization — both
          // strictly ahead of the current watermark by the loop guard
          val edge = lastFin match {
            case Some(h) => (h + 2) * hourMs
            case None => pending.keys.minOption.map(h => (h + 1) * hourMs)
                .getOrElse(Long.MaxValue)
          }
          if (edge != Long.MaxValue) state.setTimeoutTimestamp(edge)
          out.reverseIterator
      }
      .toDF("event_type", "m", "n", "s1", "s2")
      .select(col("event_type"),
        expr(s"timestamp_micros(m * ${hourUs}L)").as("hour"),
        col("n"), col("s1"), col("s2"),
        (lit(2.0) * col("s1") - col("s2")).as("level"),
        (lit(0.25) * (col("s1") - col("s2"))).as("trend"))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }

  /** Number of fixed-width `value` bins the drift monitor tracks. */
  val DriftBins: Int = 8

  /** The drift monitor's bin geometry plus the reference proportions it
    * was computed under — the unit a deployment persists alongside the
    * reference corpus snapshot. Carrying the geometry WITH the proportions
    * makes it impossible to score a window against a reference under
    * mismatched edges. */
  final case class DriftReference(
      lo: Double, width: Double, props: Seq[Double])

  /** Bin column for a given geometry: equi-width over [lo, lo+8·width),
    * clamped on BOTH sides so live values outside the reference's observed
    * range land in the edge bins (where they inflate PSI — drift below the
    * historical minimum is drift too, which the old floor-only clamp at 0
    * could never see). */
  private def driftBin(lo: Double, width: Double) =
    least(greatest(floor((col("value") - lo) / width), lit(0L)).cast("long"),
      lit(DriftBins - 1L))

  /** Laplace-smoothed bin proportions of `value` over the TRUSTED corpus —
    * the reference side of the drift monitor (driver-side: DriftBins+2
    * scalars, the Profile.scala:55 probe shape), baked into the streaming
    * plan as literals. Bin edges are DERIVED from the reference corpus
    * min/max (one 2-scalar probe), not hard-coded — the monitor
    * generalizes to any value range (StreamingSpec's shifted-range case),
    * where a fixed `/62.5` encoded this fixture's [0,500] domain as a
    * literal. Smoothing keeps every proportion strictly positive so the
    * PSI's log is always finite — for the reference AND each window.
    */
  def driftReference(events: DataFrame): DriftReference = {
    val mm = events.agg(min(col("value")), max(col("value"))).head
    val lo = mm.getDouble(0)
    val hi = mm.getDouble(1)
    // degenerate single-valued reference still needs a positive width
    val width = if (hi > lo) (hi - lo) / DriftBins else 1.0
    val counts = events
      .groupBy(driftBin(lo, width).as("bin"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val n = counts.values.sum
    DriftReference(lo, width,
      (0 until DriftBins).map(b =>
        (counts.getOrElse(b, 0L) + 1).toDouble / (n + DriftBins)))
  }

  /** Per-window Population Stability Index of the `value` distribution
    * against a static reference — q111's STREAMING shape: the monitor that
    * flags a bad upstream deploy while the batch is still loading. One
    * windowed aggregate carries all DriftBins conditional counters (single
    * shuffle, bounded state under the watermark); the PSI fold over the
    * bins is a pure projection of that one row, so the whole monitor adds
    * nothing stateful beyond the tumbling aggregate itself.
    */
  def driftPsi(events: DataFrame, ref: DriftReference): DataFrame = {
    require(ref.props.length == DriftBins, s"need $DriftBins reference bins")
    val bin = driftBin(ref.lo, ref.width)
    val counters = (0 until DriftBins).map(b =>
      count(when(bin === b, 1)).as(s"c$b"))
    val agg = events
      .groupBy(window(col("ts"), "24 hours").as("win"))
      .agg(counters.head, counters.tail :+ count(lit(1)).as("n"): _*)
    val psi = (0 until DriftBins).map { b =>
      val p = (col(s"c$b") + 1).cast("double") / (col("n") + DriftBins)
      (p - ref.props(b)) * log(p / ref.props(b))
    }.reduce(_ + _)
    agg.select(col("win.start").as("win_start"), col("n"),
      round(psi, 6).as("psi"))
  }

  /** Streaming runner for [[driftPsi]]: parquet source → watermark →
    * daily windowed drift vs the baked-in reference → append-mode memory
    * sink. Append emits each day's PSI exactly once, when the watermark
    * passes the window — the alerting semantics a monitor wants (one final
    * verdict per day, no flapping partials).
    */
  def streamDriftPsi(
      spark: SparkSession, sfDir: String, tableName: String,
      ref: DriftReference): StreamingQuery = {
    val raw = graft.Tables.eventsStream(spark, sfDir)
    driftPsi(raw.withWatermark("ts", "10 minutes"), ref)
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }

  /** Differentially private DAILY count release over an events frame —
    * the q125 geometric mechanism applied per (day window, type), shared
    * verbatim by the batch query (q129, oracle-checked) and the streaming
    * runner ([[streamDpDaily]]): one 24-hour tumbling aggregate, then a
    * STATELESS noise projection — the seed is sha256(day ‖ type ‖ salt),
    * a pure function of the finalized window key, which is exactly why a
    * privacy mechanism can run under append-mode streaming at all (no
    * randomness to replay, no state beyond the window aggregate; a
    * replayed window re-derives the identical noise). Epoch salt rotates
    * per release campaign, here pinned to "dpd1".
    */
  def dpDaily(events: DataFrame): DataFrame = {
    val u = conv(substring(sha2(concat(col("day").cast("string"), lit("|"),
      col("event_type"), lit("|dpd1")), 256), 1, 15), 16, 10).cast("long")
    events
      .filter(col("value").isNotNull) // q124's explicit-NULL rule
      .groupBy(window(col("ts"), "24 hours").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").cast("date").as("day"),
        col("event_type"), col("n"))
      // noise as a PURE PROJECTION (Gaps.dpNoiseExpr): no join, no second
      // aggregation — the shape append-mode streaming permits
      .select(col("day"), col("event_type"),
        greatest(lit(0L),
          col("n") + graft.queries.Gaps.dpNoiseExpr(u))
          .cast("long").as("released"))
  }

  /** Streaming runner for [[dpDaily]]: each day's private count is
    * emitted exactly once when the watermark finalizes the window —
    * private telemetry with the drift monitor's alerting semantics. */
  def streamDpDaily(
      spark: SparkSession, sfDir: String, tableName: String): StreamingQuery = {
    val raw = graft.Tables.eventsStream(spark, sfDir)
    dpDaily(raw.withWatermark("ts", "10 minutes"))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }

  /** STREAMING CHUNK-NOVELTY CREDIT — q329's first-occurrence signal at
    * INGESTION time, where it belongs (r16 verdict Next #7): every
    * arriving document explodes into q83's 200-char/150-stride chunks,
    * and one `flatMapGroupsWithState` keyed by (source, chunk-md5)
    * emits a credit row for exactly the chunk's FIRST occurrence —
    * (source, crediting doc_id, chunk_md5) — so the cumulative novelty
    * curve (and the stop-crawling alarm q329 reads off it) is available
    * per micro-batch instead of per batch re-scan.
    *
    * First-occurrence semantics: within the batch that first carries a
    * chunk, the credit goes to the MINIMUM doc_id among that batch's
    * occurrences — so when documents arrive in doc_id order (intake
    * order, q329's stated proxy), streamed credits ≡ the batch
    * `min(doc_id) GROUP BY source, h` frame exactly, at ANY batch
    * boundary placement (StreamingSpec asserts both the 1-batch and
    * the multi-batch split). Out-of-order intake shifts credit to the
    * earliest ARRIVAL — the online definition, stated.
    *
    * State is one boolean per DISTINCT chunk — the persisted exact-
    * dedup state every ingest pipeline already keeps (the q319 plan
    * note's "reps frame IS the stored state"); no watermark and no
    * eviction because novelty against ALL history is the query. Input
    * is a streaming documents frame (source, doc_id, text).
    */
  def streamChunkNovelty(
      docs: DataFrame, tableName: String): StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col("source").isNotNull && length(col("text")) > 0)
      .select(col("source"), col("doc_id"),
        explode(sequence(lit(0L), (length(col("text")) - 1).cast("long"),
          lit(150L))).as("cs"), col("text"))
      .select(col("source"), col("doc_id"),
        md5(expr("substring(text, CAST(cs + 1 AS INT), 200)")).as("h"))
      .as[(String, Long, String)]
      .groupByKey(e => (e._1, e._3))
      .flatMapGroupsWithState[Boolean, (String, Long, String)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: (String, String),
         occurrences: Iterator[(String, Long, String)],
         state: GroupState[Boolean]) =>
          if (state.getOption.contains(true)) Iterator.empty
          else {
            state.update(true)
            Iterator((key._1, occurrences.map(_._2).min, key._2))
          }
      }
      .toDF("source", "doc_id", "chunk_md5")
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }

  /** HORIZON-BOUNDED chunk novelty (r19, the r18 verdict's Next #5):
    * [[streamChunkNovelty]]'s per-distinct-chunk state is unbounded BY
    * DESIGN (novelty against all history is that query); this variant
    * bounds it — a chunk is credited on its first occurrence AND again
    * after every silence gap longer than `horizonMs` of EVENT time, and
    * state older than the horizon is EVICTED via event-time timeouts, so
    * resident state is "chunks seen within the last horizon", a plateau
    * instead of a line (the measured curve is in SCALE_r19.md §9).
    *
    * Correctness does NOT lean on timeout timing: the credit decision
    * compares each occurrence's event time against the stored last-seen
    * time (one Long per live chunk) — a gap is a gap whether or not the
    * evictor has run — and occurrences WITHIN a batch are walked in
    * (ts, doc_id) order, so under in-order intake (the same stated
    * precondition as the unbounded device) streamed credits ≡ the batch
    * lag-window oracle `credit iff ts − lag(ts) > horizon` at ANY batch
    * boundary placement (StreamingSpec asserts 1-batch vs 3-batch).
    * The timeout only SAVES SPACE: it removes a chunk once the watermark
    * passes lastSeen + horizon, and any later in-order occurrence is
    * > horizon away, which re-credits under the oracle too.
    *
    * Input must carry an event-time `ts` column (the ingest clock);
    * watermark delay 0 = the in-order contract made explicit.
    */
  def streamChunkNoveltyTtl(
      docs: DataFrame, tableName: String, horizonMs: Long): StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col("source").isNotNull && length(col("text")) > 0 &&
        col("ts").isNotNull)
      .withWatermark("ts", "0 seconds")
      .select(col("source"), col("doc_id"),
        explode(sequence(lit(0L), (length(col("text")) - 1).cast("long"),
          lit(150L))).as("cs"), col("text"), col("ts"))
      .select(col("source"), col("doc_id"),
        md5(expr("substring(text, CAST(cs + 1 AS INT), 200)")).as("h"),
        // the watermark-carrying ts column itself must reach the grouped
        // Dataset — EventTimeTimeout refuses a frame whose watermark
        // attribute was projected away
        col("ts"))
      .as[(String, Long, String, java.sql.Timestamp)]
      .groupByKey(e => (e._1, e._3))
      .flatMapGroupsWithState[Long, (String, Long, String)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: (String, String),
         occurrences: Iterator[(String, Long, String, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove() // horizon of silence: the space bound
            Iterator.empty
          } else {
            val sorted = occurrences.toArray
              .map(r => (r._1, r._2, r._3, r._4.getTime))
              .sortBy(r => (r._4, r._2))
            var last = state.getOption.getOrElse(Long.MinValue / 4)
            val credits = Array.newBuilder[(String, Long, String)]
            for (r <- sorted) {
              if (r._4 - last > horizonMs)
                credits += ((key._1, r._2, key._2))
              last = math.max(last, r._4)
            }
            state.update(last)
            // evict once the watermark passes last + horizon; must stay
            // strictly above the current watermark (late-data floor)
            state.setTimeoutTimestamp(math.max(last + horizonMs,
              state.getCurrentWatermarkMs() + 1))
            credits.result().iterator
          }
      }
      .toDF("source", "doc_id", "chunk_md5")
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .start()
  }
}
