package graft.queries

import graft.{Q, Tables}
import graft.functions.Exact
import graft.streaming.Windows
import org.apache.spark.sql.functions._

/** The event-time window slice (SURVEY.md §2.9): the
  * [[graft.streaming.Windows]] logic run in batch mode so the driver's
  * DuckDB oracle can check the window semantics.
  */
object StreamingQ {

  def all: Seq[Q] = Seq(
    q45TumblingWindow, q46SessionWindow, q47SlidingWindow, q60StreamJoinTwin,
    q73StreamEnrichTwin, q129DpDailyTwin)

  /** The DP daily release ([[Windows.dpDaily]]): each (UTC day, event
    * type) count released under the q125 geometric mechanism — private
    * telemetry with one-verdict-per-finalized-day semantics. The noise
    * seed is a pure function of the window key, so the SAME release comes
    * out of the Spark plan and the DuckDB twin (whose CASE chain mirrors
    * Gaps.dpNoiseExpr) — a privacy mechanism with a hash-checkable oracle.
    */
  val q129DpDailyTwin = Q(
    "q129_dp_daily_twin",
    s"""WITH g AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
      |    count(*) AS n
      |  FROM events WHERE value IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |r AS (
      |  SELECT day, event_type, n,
      |    ${graft.queries.Gaps.dpNoiseSql(
          "('0x' || substr(sha256(CAST(day AS VARCHAR) || '|' || " +
            "event_type || '|dpd1'), 1, 15))::BIGINT")} AS k
      |  FROM g
      |)
      |SELECT day, event_type,
      |  CAST(greatest(0, n + k) AS BIGINT) AS released
      |FROM r
      |ORDER BY day NULLS FIRST, event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Windows.dpDaily(Tables.events(s, d))
      .orderBy(col("day"), col("event_type"))
  }

  /** The STREAM-STATIC enrichment join ([[Windows.enriched]]): every
    * event decorated with its customer dimension row. The dim side is
    * broadcast — stateless, the §2.9 join shape that needs no watermark.
    */
  val q73StreamEnrichTwin = Q(
    "q73_stream_enrich_twin",
    """SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_nationkey
      |FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
      |ORDER BY e.event_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Windows.enriched(
      Tables.events(s, d),
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
      .orderBy(col("event_id"))
  }

  /** The stream-stream interval join shape
    * ([[Windows.viewPurchasePairs]]): view→purchase attribution pairs
    * within 30 minutes per user.
    */
  val q60StreamJoinTwin = Q(
    "q60_stream_join_twin",
    """SELECT v.user_id, v.event_id AS view_id, b.event_id AS buy_id
      |FROM events v JOIN events b
      |  ON v.user_id = b.user_id
      | AND v.event_type = 'view' AND b.event_type = 'purchase'
      | AND CAST(b.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
      | AND CAST(b.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
      |ORDER BY v.user_id NULLS FIRST, view_id NULLS FIRST, buy_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Windows.viewPurchasePairs(Tables.events(s, d))
      .orderBy(col("user_id"), col("view_id"), col("buy_id"))
  }

  /** Tumbling 1h event-time windows: window start == date_trunc('hour'). */
  val q45TumblingWindow = Q(
    "q45_tumbling_window",
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
       |  event_type, count(*) AS n,
       |  ${Exact.Sql.dsum("value")} AS sum_value,
       |  min(value) AS min_value, max(value) AS max_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY win_start NULLS FIRST, event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Windows.tumbling(Tables.events(s, d))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** Session windows (30-min gap) via gaps-and-islands in the oracle: a new
    * session starts when the inter-event gap is ≥ 30 minutes; session end =
    * last event + gap (Spark session_window semantics).
    */
  val q46SessionWindow = Q(
    "q46_session_window",
    """WITH t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |f AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM t),
      |g AS (
      |  SELECT user_id, ts,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f)
      |SELECT min(ts) AS sess_start,
      |  max(ts) + INTERVAL 30 MINUTE AS sess_end,
      |  user_id, count(*) AS n_events
      |FROM g
      |GROUP BY user_id, sid
      |ORDER BY user_id NULLS FIRST, sess_start NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Windows.session(Tables.events(s, d))
      .orderBy(col("user_id"), col("sess_start"))
  }

  /** Sliding windows (1h every 30min): each event contributes to exactly two
    * windows — the oracle unions the two half-hour-aligned window starts.
    */
  val q47SlidingWindow = Q(
    "q47_sliding_window",
    """WITH t AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |w AS (
      |  SELECT make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - 1800)
      |    * 1000000 AS BIGINT)) AS win_start, event_type FROM t
      |  UNION ALL
      |  SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800
      |    * 1000000 AS BIGINT)) AS win_start, event_type FROM t)
      |SELECT win_start, event_type, count(*) AS n
      |FROM w
      |GROUP BY 1, 2
      |ORDER BY win_start NULLS FIRST, event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Windows.sliding(Tables.events(s, d))
      .orderBy(col("win_start"), col("event_type"))
  }
}
