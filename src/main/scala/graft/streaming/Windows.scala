package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Event-time windowing logic of the batch queries that StreamingQ
  * registers (tumbling, sliding and session windows, the view→purchase
  * interval join, stream-static enrichment and the DP daily release). Each
  * is written in the shape append-mode Structured Streaming accepts — a
  * windowed aggregate, a time-bounded join or a broadcast dimension join —
  * so the same definition could feed a watermarked stream (SURVEY.md §2.9).
  */
object Windows {

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

  /** Every (view, purchase) pair for a user where the purchase follows the
    * view by 0–30 minutes: a plain interval join, both sides from one
    * `events` relation. The time bound on both sides is what would let a
    * watermarked stream-stream join evict its state.
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

  /** Shared enrichment logic for the STREAM-STATIC join pair: events
    * decorated with the customer dimension (user_id+1 keys into
    * c_custkey on the driver fixtures). The dim side is explicitly
    * broadcast: stateless per micro-batch, no streaming state at all —
    * the standard shape for decorating an unbounded stream with a
    * bounded dimension. At 100 TB the dimension either stays broadcastable
    * (most dims) or the join falls back to a per-batch shuffle; either
    * way no state store is involved, unlike the interval join above.
    */
  def enriched(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") + 1 === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_name"), col("c_nationkey"))

  /** Differentially private DAILY count release over an events frame —
    * the q125 geometric mechanism applied per (day window, type) for the
    * batch query q129 (oracle-checked): one 24-hour tumbling aggregate,
    * then a STATELESS noise projection — the seed is sha256(day ‖ type ‖ salt),
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
}
