package graft.queries

import graft.{Q, Tables}
import graft.functions.Exact
import graft.functions.Exact.Sql
import graft.operators.OrderedBins
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Window functions (ranking, analytic, row/range frames), top-k, per-group
  * top-k, set operations, distinct, and the as-of join (the one operator
  * composed from primitives Spark lacks as a single node — union + window,
  * which is shuffle-equivalent to a sort-merge as-of and scales linearly).
  */
object Analytic {

  def all: Seq[Q] = Seq(
    q13WindowRank,
    q14WindowAnalytic,
    q15WindowRange,
    q16TopK,
    q17GroupTopK,
    q18SetOps,
    q19Distinct,
    q09AsOfJoin,
    q71Scd2Compact,
    q75FunnelStages,
    q76WindowAnomaly,
    q84CohortRetention,
    q92SessionsBatch,
    q94TrendSlope,
    q115SnapshotDiff,
    q119RollingP95,
    q120MarkovTransitions,
    q123TemporalLookup,
    q124RollingP95Sketch,
    q133MaxConcurrency,
    q137FunnelLatency,
    q148DecayedScore,
    q149LastTouchAttribution,
    q150RetentionDecayFit,
    q151TimeWeightedAvg,
    q152MaxSilence,
    q158IntervalCoalesce,
    q168SeqTriples,
    q169RfmSegments,
    q171ChurnHazard,
    q178BurstWindows,
    q189KmSurvival,
    q179BehaviorEntropy,
    q180CusumPeak,
    q186LinearAttribution,
    q193EwmaChart,
    q201PositionAttribution,
    q203BrownTrend,
    q211OhlcBars,
    q214Stickiness,
    q217PageHinkley,
    q220RollingCorr,
    q222LeaderboardChurn,
    q228HaarEnergy,
    q237RankBiasedOverlap,
    q238GrowthAccounting,
    q244SeasonalEwma,
    q275ShapleyAttribution,
    q277WindowFunnel,
    q285DoubleFire,
    q286CohortLtv,
    q287SimpsonAudit,
  )

  /** Per-group linear trend detection: the least-squares slope of hourly
    * event counts against the hour index, per event type — "is this stream
    * growing or decaying" as a single statistic (the regr_slope analytics
    * idiom, computed from moment sums so it distributes). Exactness: x is
    * an hour index and y a count — both integers — so Σx, Σy, Σxy, Σx² are
    * EXACT integer aggregates; slope and intercept are one double division
    * of identical integers on both engines, then round. Plan: one hourly
    * pre-aggregate (map-side combined) + one tiny per-type moment
    * aggregate — nothing scales past the window count.
    */
  val q94TrendSlope = Q(
    "q94_trend_slope",
    """WITH h AS (
      |  SELECT event_type,
      |    CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
      |      date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS x,
      |    count(*) AS y
      |  FROM events GROUP BY event_type, x
      |),
      |m AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM h GROUP BY event_type
      |)
      |SELECT event_type, n,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (n * sxx - sx * sx), 6) AS slope,
      |  round((CAST(sy AS DOUBLE)
      |    - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)) * sx)
      |    / n, 6) AS intercept
      |FROM m
      |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val h = Tables.events(s, d)
      .select(col("event_type"),
        ((unix_micros(date_trunc("hour", col("ts")))
          - unix_micros(to_timestamp(lit("2024-01-01 00:00:00"))))
          / lit(3600000000L)).cast("long").as("x"))
      .groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("y"))
    val m = h.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"))
    // try_divide, not `/`: a type with ONE hour bucket has zero variance in
    // x (n·Σx² = (Σx)²) — ANSI Spark throws on the zero denominator where
    // DuckDB yields NULL; try_divide matches the oracle's NULL slope and is
    // identical whenever ≥2 buckets exist
    val slope = try_divide(
      (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"),
      col("n") * col("sxx") - col("sx") * col("sx"))
    m.select(col("event_type"), col("n"),
      round(slope, 6).as("slope"),
      round((col("sy").cast("double") - slope * col("sx")) / col("n"), 6)
        .as("intercept"))
      .orderBy(col("event_type"))
  }

  /** Gaps-and-islands sessionization — the pure-SQL idiom behind q46's
    * native session_window, here as an explicit operator because real
    * pipelines need the session ID on every EVENT (for attribution joins),
    * not just the collapsed window: a 30-min-gap flag via lag(), then a
    * running sum turns flags into per-user session numbers, then per-
    * session accounting. Both windows ride ONE (user_id) partitioning —
    * a single shuffle, each user's timeline processed within one task,
    * which is the correct scale unit (no global order anywhere). Gap
    * arithmetic runs on epoch-µs integers on both engines, and ties
    * break on event_id so the running sum is deterministic.
    */
  val q92SessionsBatch = Q(
    "q92_sessions_batch",
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus
      |  FROM events
      |),
      |f AS (
      |  SELECT user_id, event_id, tus,
      |    CASE WHEN lag(tus) OVER w IS NULL THEN 1
      |         WHEN tus - lag(tus) OVER w > 1800000000 THEN 1
      |         ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
      |),
      |s AS (
      |  SELECT user_id, tus,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_no
      |  FROM f
      |)
      |SELECT user_id, session_no, count(*) AS n_events,
      |  min(tus) AS start_us, max(tus) - min(tus) AS duration_us
      |FROM s GROUP BY user_id, session_no
      |ORDER BY user_id NULLS FIRST, session_no NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val gapUs = 1800000000L // 30 minutes
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"))
    e.withColumn("is_new",
      when(lag(col("tus"), 1).over(w).isNull
        || col("tus") - lag(col("tus"), 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("session_no", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tus")).as("start_us"),
        (max(col("tus")) - min(col("tus"))).as("duration_us"))
      .orderBy(col("user_id"), col("session_no"))
  }

  /** Cohort retention — the product-analytics staple: users are cohorted by
    * their first active day, then each (cohort, day-offset) cell counts how
    * many of them were active that many days later, with retention as the
    * share of the cohort's day-0 size. Plan shape: one distinct (user, day)
    * dedup shuffle; first-day per user is a map-side-combined min over the
    * SAME user key; activity joins back on user_id (AQE picks the
    * strategy); the final cells aggregate on (cohort_day, offset) and the
    * day-0 sizes — date-cardinality, provably bounded — broadcast back.
    * Nothing scales with more than distinct user-days.
    */
  val q84CohortRetention = Q(
    "q84_cohort_retention",
    s"""WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events
      |),
      |coh AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id),
      |act AS (
      |  SELECT u.user_id, c.cohort_day,
      |    date_diff('day', c.cohort_day, u.day) AS day_offset
      |  FROM ud u JOIN coh c ON u.user_id = c.user_id
      |),
      |ret AS (
      |  SELECT cohort_day, day_offset, count(DISTINCT user_id) AS n_active
      |  FROM act GROUP BY cohort_day, day_offset
      |),
      |base AS (SELECT cohort_day, n_active AS cohort_size FROM ret
      |         WHERE day_offset = 0)
      |SELECT r.cohort_day, r.day_offset, r.n_active,
      |  ${Sql.ratio6("r.n_active", "b.cohort_size")} AS retention
      |FROM ret r JOIN base b ON r.cohort_day = b.cohort_day
      |ORDER BY r.cohort_day NULLS FIRST, r.day_offset NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val coh = ud.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val act = ud.join(coh, "user_id")
      .select(col("user_id"), col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
    val ret = act.groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val base = ret.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_active").as("cohort_size"))
    ret.join(broadcast(base), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        Exact.ratio6("n_active", "cohort_size").as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Windowed anomaly flagging — the batch form of a streaming alerting
    * pipeline: hourly event counts per type, z-scored against the type's
    * own distribution, |z| > 2 flagged. The variance comes from EXACT
    * integer moment sums (Σn, Σn² — the q61 idiom), so the score is
    * bit-reproducible across engines; the per-type stats table is
    * type-count-sized and broadcasts. Two map-side-combined aggregations
    * + one broadcast join — nothing scales with more than the window
    * count.
    */
  val q76WindowAnomaly = Q(
    "q76_window_anomaly",
    """WITH w AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, event_type,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2
      |),
      |st AS (
      |  SELECT event_type, count(*) AS n_windows,
      |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
      |  FROM w GROUP BY event_type
      |),
      |z AS (
      |  SELECT w.h, w.event_type, w.n,
      |    round((w.n - CAST(st.s1 AS DOUBLE) / st.n_windows)
      |      / sqrt((st.s2 - CAST(st.s1 AS DOUBLE) * st.s1 / st.n_windows)
      |             / (st.n_windows - 1)), 6) AS zscore
      |  FROM w JOIN st ON w.event_type = st.event_type
      |)
      |SELECT h, event_type, n, zscore FROM z
      |WHERE abs(zscore) > 2.0
      |ORDER BY h NULLS FIRST, event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val w = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val st = w.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_windows"),
      sum(col("n")).cast("long").as("s1"),
      sum(col("n") * col("n")).cast("long").as("s2"))
    val mean = col("s1").cast("double") / col("n_windows")
    // try_divide twice (NULL, not ANSI throw, matching DuckDB): a type
    // with ONE window has no sample variance (n_windows−1 = 0), and a type
    // with UNIFORM counts has stddev 0 — both give NULL z-scores that the
    // |z| > 2 filter then drops on both engines
    val varSamp = try_divide(
      col("s2") - col("s1").cast("double") * col("s1") / col("n_windows"),
      col("n_windows") - 1)
    w.join(broadcast(st), "event_type")
      .select(col("h"), col("event_type"), col("n"),
        round(try_divide(col("n") - mean, sqrt(varSamp)), 6).as("zscore"))
      .filter(abs(col("zscore")) > 2.0)
      .orderBy(col("h"), col("event_type"))
  }

  /** Ordered funnel analysis (view → click → purchase within 24 h of the
    * entry view, strictly sequenced) — the MATCH_RECOGNIZE-shaped pattern
    * op Spark lacks as a single node, composed from per-stage first-event
    * aggregates: stage N's candidate events must follow the user's stage
    * N−1 timestamp inside the horizon. Every stage table is
    * user-count-sized and every join/aggregate is keyed on user_id, so the
    * whole funnel re-uses one partitioning; the final 3-row union takes an
    * unpartitioned window for the conversion denominator (bounded — one
    * row per stage). At 100 TB the event scan happens once per stage
    * filtered by type — a pushed IN-list scan — and nothing is ever wider
    * than the user dimension.
    */
  val q75FunnelStages = Q(
    "q75_funnel_stages",
    s"""WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |v AS (SELECT user_id, min(ts) AS t_view FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view
      |    AND e.ts <= v.t_view + INTERVAL 24 HOUR
      |  GROUP BY e.user_id
      |),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM e
      |  JOIN c ON e.user_id = c.user_id
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |    AND e.ts <= v.t_view + INTERVAL 24 HOUR
      |  GROUP BY e.user_id
      |),
      |stages AS (
      |  SELECT '1_view' AS stage, count(*) AS n_users FROM v
      |  UNION ALL SELECT '2_click', count(*) FROM c
      |  UNION ALL SELECT '3_purchase', count(*) FROM p
      |)
      |SELECT stage, n_users,
      |  ${Sql.ratio6("n_users", "max(n_users) OVER ()")} AS conv_from_start
      |FROM stages ORDER BY stage NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val horizon = expr("INTERVAL 24 HOURS")
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("t_view") && col("ts") <= col("t_view") + horizon)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").join(v, "user_id")
      .filter(col("ts") > col("t_click") &&
        col("ts") <= col("t_view") + horizon)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    val stages = v.agg(count(lit(1)).as("n_users"))
      .select(lit("1_view").as("stage"), col("n_users"))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("stage"), col("n_users")))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("stage"), col("n_users")))
    stages
      .withColumn("max_users", max(col("n_users")).over(Window.partitionBy()))
      .withColumn("conv_from_start", Exact.ratio6("n_users", "max_users"))
      .drop("max_users")
      .orderBy(col("stage"))
  }

  /** CDC change-log → SCD2 dimension compaction: per user, drop rows whose
    * value repeats the previous version (lag over the event order), then
    * derive each surviving version's validity interval [valid_from,
    * valid_to) with lead — the open interval marks the current row. The
    * warehouse-side twin of the streaming state ops (§2.9): how a mutable
    * source table (the reference exports seven of them, each carrying
    * created_at/updated_at audit columns — config.py:11-12) becomes a
    * queryable history. ONE shuffle at scale: both windows and the final
    * projection share the user_id partitioning and (ts, event_id) sort, so
    * the change filter and interval builder run in the same stage with no
    * second exchange; ties on ts are broken by event_id to keep the
    * version order deterministic across engines.
    */
  val q71Scd2Compact = Q(
    "q71_scd2_compact",
    """WITH chg AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    lag(value) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_val
      |  FROM events
      |),
      |v AS (
      |  SELECT user_id, event_id, ts, value FROM chg
      |  WHERE prev_val IS NULL OR value <> prev_val
      |)
      |SELECT user_id, event_id, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |    AS is_current,
      |  value
      |FROM v
      |ORDER BY user_id NULLS FIRST, valid_from NULLS FIRST, event_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("prev_val", lag(col("value"), 1).over(w))
      .filter(col("prev_val").isNull || col("value") =!= col("prev_val"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"), col("value"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  /** Ranking trio per partition. rank/dense_rank order only by the (possibly
    * tied) measure — their outputs are tie-invariant; row_number adds a
    * unique tiebreak so it is deterministic too.
    */
  val q13WindowRank = Q(
    "q13_window_rank",
    """SELECT * FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC NULLS LAST) AS rnk,
      |    dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC NULLS LAST) AS drnk,
      |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC NULLS LAST, c_custkey NULLS FIRST) AS rn
      |  FROM customer)
      |WHERE rn <= 5
      |ORDER BY c_nationkey NULLS FIRST, rn NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val byBal = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc)
    val byBalKey = Window
      .partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables
      .customer(s, d)
      .select(
        col("c_nationkey"),
        col("c_custkey"),
        col("c_acctbal"),
        rank().over(byBal).as("rnk"),
        dense_rank().over(byBal).as("drnk"),
        row_number().over(byBalKey).as("rn"),
      )
      .filter(col("rn") <= 5)
      .orderBy(col("c_nationkey"), col("rn"))
  }

  /** lag/lead/first_value + running sum over a ROWS frame (decimal-exact so
    * the accumulation order can't produce engine-dependent doubles).
    */
  val q14WindowAnalytic = Q(
    "q14_window_analytic",
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CAST(l_shipdate AS DATE) AS ship_day, l_quantity,
      |  lag(l_quantity, 1) OVER w AS prev_qty,
      |  lead(l_quantity, 1) OVER w AS next_qty,
      |  first_value(l_orderkey) OVER w AS first_order,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem
      |WHERE l_suppkey <= 3
      |WINDOW w AS (PARTITION BY l_suppkey
      |             ORDER BY l_shipdate NULLS FIRST, l_orderkey NULLS FIRST, l_linenumber NULLS FIRST)
      |ORDER BY l_suppkey NULLS FIRST, ship_day NULLS FIRST, l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val w = Window
      .partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    Tables
      .lineitem(s, d)
      .filter(col("l_suppkey") <= 3)
      .select(
        col("l_suppkey"),
        col("l_orderkey"),
        col("l_linenumber"),
        to_date(col("l_shipdate")).as("ship_day"),
        col("l_quantity"),
        lag(col("l_quantity"), 1).over(w).as("prev_qty"),
        lead(col("l_quantity"), 1).over(w).as("next_qty"),
        first(col("l_orderkey")).over(w).as("first_order"),
        sum(col("l_quantity").cast(DecimalType(18, 4)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType)
          .as("running_qty"),
      )
      .orderBy(col("l_suppkey"), col("ship_day"), col("l_orderkey"),
        col("l_linenumber"))
  }

  /** RANGE frame over a numeric day offset: trailing-7-day quantity. */
  val q15WindowRange = Q(
    "q15_window_range",
    """SELECT l_suppkey, l_orderkey, l_linenumber, day_no,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (
      |    PARTITION BY l_suppkey ORDER BY day_no NULLS FIRST
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty_7d
      |FROM (SELECT *, date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS day_no
      |      FROM lineitem WHERE l_suppkey <= 3)
      |ORDER BY l_suppkey NULLS FIRST, day_no NULLS FIRST, l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val w = Window
      .partitionBy(col("l_suppkey"))
      .orderBy(col("day_no"))
      .rangeBetween(-6, Window.currentRow)
    Tables
      .lineitem(s, d)
      .filter(col("l_suppkey") <= 3)
      .withColumn("day_no",
        datediff(to_date(col("l_shipdate")), lit("1995-01-01").cast("date")))
      .select(
        col("l_suppkey"),
        col("l_orderkey"),
        col("l_linenumber"),
        col("day_no"),
        sum(col("l_quantity").cast(DecimalType(18, 4)))
          .over(w)
          .cast(DoubleType)
          .as("qty_7d"),
      )
      .orderBy(col("l_suppkey"), col("day_no"), col("l_orderkey"),
        col("l_linenumber"))
  }

  /** Global top-k: Catalyst plans TakeOrderedAndProject (no full sort at
    * scale — per-partition heaps + driver merge of k rows).
    */
  val q16TopK = Q(
    "q16_topk",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST
      |LIMIT 10""".stripMargin,
  ) { (s, d) =>
    Tables
      .orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Per-group top-k via row_number — the scalable per-key top-k idiom. */
  val q17GroupTopK = Q(
    "q17_group_topk",
    """SELECT * FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_extendedprice DESC NULLS LAST, l_orderkey NULLS FIRST, l_linenumber NULLS FIRST) AS rn
      |  FROM lineitem)
      |WHERE rn <= 3
      |ORDER BY l_suppkey NULLS FIRST, rn NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val w = Window
      .partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
    Tables
      .lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("l_suppkey"), col("rn"))
  }

  /** INTERSECT / EXCEPT / UNION ALL in one relation: customer activity in
    * 1995 vs 1996. The naive form (two distinct CTEs + intersect + 2×except)
    * scans orders 4× and shuffles 6×; this plan computes both year-flags in
    * ONE scan and ONE shuffle (`groupBy(o_custkey).agg(max(in95), max(in96))`)
    * and derives both/only95/only96 from the flags — identical output.
    */
  val q18SetOps = Q(
    "q18_setops",
    """WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
      |     b AS (SELECT DISTINCT o_custkey AS k FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
      |SELECT 'both' AS tag, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
      |UNION ALL
      |SELECT 'only95' AS tag, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
      |UNION ALL
      |SELECT 'only96' AS tag, k FROM (SELECT k FROM b EXCEPT SELECT k FROM a)
      |ORDER BY tag NULLS FIRST, k NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    def inYear(year: String, next: String) =
      col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"$next-01-01").cast("timestamp")
    Tables
      .orders(s, d)
      .filter(inYear("1995", "1996") || inYear("1996", "1997"))
      .groupBy(col("o_custkey").as("k"))
      .agg(
        max(inYear("1995", "1996")).as("in95"),
        max(inYear("1996", "1997")).as("in96"),
      )
      .select(
        when(col("in95") && col("in96"), "both")
          .when(col("in95"), "only95")
          .otherwise("only96")
          .as("tag"),
        col("k"),
      )
      .orderBy(col("tag"), col("k"))
  }

  /** DISTINCT projection. */
  val q19Distinct = Q(
    "q19_distinct",
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables
      .lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** As-of join: each purchase event matched to the same user's most recent
    * view at-or-before it. Spark has no asof node; the scalable composition
    * is a tagged union + one window pass (single shuffle on user_id, sorted
    * once — equivalent work to a sort-merge as-of join). Oracle: DuckDB's
    * native ASOF LEFT JOIN.
    */
  val q09AsOfJoin = Q(
    "q09_asof_join",
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
      |  epoch_us(v.ts) AS view_us, p.value AS purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val views = ev
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"), col("event_id"),
        col("value"))
    // views sort before purchases at equal ts (kind 0 < 1) => "at-or-before"
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views
      .unionByName(purchases)
      .withColumn("view_ts", when(col("kind") === 0, col("ts")))
      .withColumn("matched_view", last(col("view_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(
        col("event_id"),
        col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        unix_micros(col("matched_view")).as("view_us"),
        col("value").as("purchase_value"),
      )
      .orderBy(col("event_id"))
  }

  /** Point-in-time dimension lookup (the SCD2 temporal join): every fact
    * is enriched with the dimension VERSION valid at its event time —
    * here each non-purchase event gets the user's latest at-or-before
    * purchase value ("current tier") plus that version's valid_from, NULL
    * before the first version. This is the consumption side of q71 (which
    * BUILDS validity intervals) and the warehouse pattern behind "price
    * as of order date" joins. Mechanics are q09's union+window as-of —
    * deliberately NOT an interval join: one (user) shuffle, a running
    * `last(ignoreNulls)` carries the open version forward, and version
    * rows sort before facts at equal ts (kind 0 < 1) for inclusive
    * at-or-before semantics. DuckDB twins it with a native ASOF LEFT
    * JOIN, so the oracle also cross-checks the idiom against a real
    * temporal-join implementation.
    */
  val q123TemporalLookup = Q(
    "q123_temporal_lookup",
    """SELECT f.event_id, f.user_id, epoch_us(f.ts) AS fact_us,
      |  f.event_type, v.value AS tier_value, epoch_us(v.ts) AS valid_from_us
      |FROM (SELECT * FROM events WHERE event_type <> 'purchase') f
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') v
      |  ON f.user_id = v.user_id AND f.ts >= v.ts
      |ORDER BY f.event_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val versions = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("string").as("event_type"), col("value"))
    val facts = ev
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"), col("event_id"),
        col("event_type"), lit(null).cast("double").as("value"))
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versions
      .unionByName(facts)
      .withColumn("ver_ts", when(col("kind") === 0, col("ts")))
      .withColumn("ver_val", when(col("kind") === 0, col("value")))
      .withColumn("tier_value",
        last(col("ver_val"), ignoreNulls = true).over(w))
      .withColumn("valid_from",
        last(col("ver_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("fact_us"), col("event_type"),
        col("tier_value"),
        unix_micros(col("valid_from")).as("valid_from_us"))
      .orderBy(col("event_id"))
  }

  /** Snapshot reconciliation (data diff) — classify every primary key
    * across two table versions as inserted / deleted / changed / unchanged
    * and report the counts: the consistency check a pipeline runs between
    * yesterday's export and today's before publishing (q71 REPRESENTS
    * history as SCD2; this COMPARES two materialized states — the
    * operator that would feed q71's change log, or audit a delta chain's
    * `readSnapshot` against a fresh full export). Both snapshots derive
    * deterministically from orders: the old version lacks every 7th key
    * (→ inserts), carries a +100.00 price on every 5th (→ changes), and
    * the new version drops every 13th (→ deletes); +100.0 on a money-like
    * double is exact in IEEE, so equality compare is bit-clean in both
    * engines.
    *
    * Scale shape: ONE full-outer hash join on the PK — both sides shuffle
    * by the same key once (or zero times if both snapshots are bucketed by
    * PK, the ScaleSpec layout) — into a 4-row aggregate with map-side
    * combine. No window, no sort, nothing driver-sized.
    */
  val q115SnapshotDiff = Q(
    "q115_snapshot_diff",
    """WITH old AS (
      |  SELECT o_orderkey AS pk,
      |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 100.0
      |         ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 7 <> 0),
      |new AS (
      |  SELECT o_orderkey AS pk, o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 13 <> 0),
      |d AS (
      |  SELECT CASE
      |      WHEN old.pk IS NULL THEN 'insert'
      |      WHEN new.pk IS NULL THEN 'delete'
      |      WHEN old.price <> new.price THEN 'change'
      |      ELSE 'unchanged' END AS change_type
      |  FROM old FULL OUTER JOIN new ON old.pk = new.pk)
      |SELECT change_type, count(*) AS n
      |FROM d GROUP BY change_type
      |ORDER BY change_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val base = Tables.orders(s, d)
    val old = base.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("pk"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 100.0)
          .otherwise(col("o_totalprice")).as("price"))
    val neu = base.filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey").as("pk"), col("o_totalprice").as("price"))
    old.join(neu, old("pk") === neu("pk"), "full_outer")
      .select(
        when(old("pk").isNull, "insert")
          .when(neu("pk").isNull, "delete")
          .when(old("price") =!= neu("price"), "change")
          .otherwise("unchanged").as("change_type"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("change_type"))
  }

  /** Rolling trailing-1-hour p95 per event type — the latency-dashboard
    * window (q76 flags anomalies against a GLOBAL mean; this tracks a tail
    * quantile over a MOVING time frame): exact `percentile` over a RANGE
    * interval frame, the one frame/aggregate combination no other query
    * exercises. Cost model is honest: an exact quantile is not an
    * incremental accumulator, so each row re-evaluates its frame —
    * O(rows × frame) inside each type partition. The frame width IS the
    * cost dial, and the crossover against the mergeable twin is MEASURED
    * (r11, sf0.1, warm runs): 1-hour frame 1.96 s here vs
    * 2.13 s for [[q124RollingP95Sketch]] — exact wins at dashboard
    * widths on this density; 6-hour frame 11.4 s here vs 3.2 s there —
    * the sketch wins 3.6× once the frame widens, because its cost is
    * frame-width-bounded state while this one re-evaluates O(frame) rows
    * per row. That linearity is inherent to exact sliding quantiles; the
    * right deployment is a monitored slice (post-filter) with a bounded
    * frame, switching to the mergeable form past the crossover
    * (somewhere between the 1- and 6-hour frames at this corpus'
    * 2.6 events/bucket density; higher density moves it toward zero).
    * Oracle parity: frame membership uses the same µs-truncated event
    * times (`CAST(ts AS TIMESTAMP)`, the q45 idiom) and both engines
    * define the quantile as linear interpolation at (n−1)·q.
    */
  val q119RollingP95 = Q(
    "q119_rolling_p95",
    """SELECT event_id,
      |  round(quantile_cont(value, 0.95) OVER (
      |    PARTITION BY event_type ORDER BY CAST(ts AS TIMESTAMP)
      |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 6)
      |    AS p95
      |FROM events
      |ORDER BY event_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.events(s, d).select(col("event_id"),
        expr("""round(percentile(value, 0.95) OVER (
          PARTITION BY event_type ORDER BY ts
          RANGE BETWEEN INTERVAL 1 HOURS PRECEDING AND CURRENT ROW), 6)""")
          .as("p95"))
      .orderBy(col("event_id"))
  }

  /** q119's SCALE-SAFE twin: rolling trailing-1-hour p95 per event type
    * from per-bucket MERGEABLE state instead of per-row exact frames.
    * Events land in 5-minute buckets; each (type, bucket) aggregates a
    * 64-bin integer histogram of `value` (bin edges derived from the
    * corpus min/max — a 2-scalar driver probe, same shape as the profile
    * operator); the trailing hour is then a SUM of the last 12 bucket
    * histograms per (type, bin) — pure counter addition (a 12× explode
    * into one map-side-combined hash aggregate; see the in-body note for
    * the measured rewrite), the mergeability q119's exact percentile
    * frame fundamentally lacks. The
    * p95 estimate walks the merged histogram to the ceil(0.95·n)-th rank
    * and interpolates inside its bin in INTEGER micro-units (the
    * q113/q118 fixed-point discipline), so the whole operator — including
    * the estimate itself — is plain relational arithmetic and DuckDB
    * replays it bit-exactly: a triple-green oracle for an approximate
    * operator.
    *
    * Cost: O(buckets × types × 64) state after one map-side-combined
    * aggregation of the events scan — near-independent of row count per
    * bucket and frame width (q119 is O(rows × frame); this plan's only
    * frame-width term is the trailing-bucket explode). The CROSSOVER is
    * MEASURED, not asserted (r11, sf0.1, warm runs): at the
    * 1-hour frame the corpus' 2.6 events/bucket density keeps q119's
    * exact frames ~30 rows and CHEAPER (1.96 s vs 2.13 s here); at the
    * 6-hour frame q119 grows to 11.4 s while this form holds 3.2 s —
    * the mergeable plan wins 3.6× and the gap is the frame-width ratio.
    * Production density (10³–10⁴ events/bucket) multiplies q119's cost
    * by that factor while leaving this state size unchanged, pushing the
    * crossover below every real frame width. Accuracy:
    * RollingQuantileSpec pins |estimate − exact rank statistic| ≤ one bin
    * width on the real corpus; width shrinks with the observed value
    * range, not with data volume.
    */
  val q124RollingP95Sketch: Q = Q(
    "q124_rolling_p95_sketch",
    """WITH sel AS (
      |  SELECT CAST(floor(min(value) * 1000000) AS BIGINT) AS lo,
      |         CAST(floor(max(value) * 1000000) AS BIGINT) + 1 AS hi
      |  FROM events
      |),
      |par AS (SELECT lo, (hi - lo + 63) // 64 AS w FROM sel),
      |e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 300000000 AS b_idx,
      |    least(63, (CAST(floor(value * 1000000) AS BIGINT) - lo) // w) AS bin
      |  FROM events, par
      |  WHERE value IS NOT NULL AND ts IS NOT NULL
      |),
      |c AS (
      |  SELECT event_type, b_idx, bin, count(*) AS cnt FROM e GROUP BY 1, 2, 3
      |),
      |grid AS (
      |  SELECT t.event_type, t.b_idx, b.bin
      |  FROM (SELECT DISTINCT event_type, b_idx FROM c) t,
      |       (SELECT unnest(range(0, 64)) AS bin) b
      |),
      |g AS (
      |  SELECT grid.event_type, grid.b_idx, grid.bin,
      |    COALESCE(c.cnt, 0) AS cnt0
      |  FROM grid LEFT JOIN c ON grid.event_type = c.event_type
      |    AND grid.b_idx = c.b_idx AND grid.bin = c.bin
      |),
      |r AS (
      |  SELECT event_type, b_idx, bin,
      |    CAST(sum(cnt0) OVER (PARTITION BY event_type, bin ORDER BY b_idx
      |      RANGE BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT) AS rc
      |  FROM g
      |),
      |q AS (
      |  SELECT event_type, b_idx, bin, rc,
      |    CAST(sum(rc) OVER (PARTITION BY event_type, b_idx) AS BIGINT) AS tot,
      |    CAST(sum(rc) OVER (PARTITION BY event_type, b_idx ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM r
      |)
      |SELECT event_type, b_idx, tot AS n,
      |  lo + bin * w
      |    + ((((19 * tot + 19) // 20) - (cum - rc)) * w) // rc AS p95_micro
      |FROM q, par
      |WHERE cum >= (19 * tot + 19) // 20
      |  AND cum - rc < (19 * tot + 19) // 20
      |ORDER BY event_type NULLS FIRST, b_idx NULLS FIRST""".stripMargin,
  ) { (s, d) => rollingP95Sketch(Tables.events(s, d)) }

  /** q124's body: 12 trailing five-minute buckets = the 1-hour frame. */
  private def rollingP95Sketch(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // bounded driver probe: two scalars fix the bin geometry for the whole
    // corpus (like DuckDB's `sel` CTE; floor(double*1e6) is the identical
    // IEEE op on both engines, so the derived edges match bit-for-bit)
    val mm = ev.agg(min(col("value")), max(col("value"))).head
    // empty corpus → degenerate bounds; the empty plan yields no rows
    // (r17 empty-corpus audit)
    val lo = if (mm.isNullAt(0)) 0L
      else math.floor(mm.getDouble(0) * 1e6).toLong
    val hi = if (mm.isNullAt(1)) 1L
      else math.floor(mm.getDouble(1) * 1e6).toLong + 1
    val w = (hi - lo + 63) / 64
    val c = ev
      // NULL value/ts rows are dropped EXPLICITLY on both engines (the
      // oracle's WHERE mirrors this): without the filter Spark would keep
      // a NULL-bin group that DuckDB's dense 0..63 grid silently drops.
      // Bucketing floors via the pmod idiom (unix_micros div would
      // truncate toward zero for pre-epoch timestamps where DuckDB's //
      // floors — the Tables.normalizeTs discipline).
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(col("event_type"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 300000000)) div 300000000")
          .as("src_b"),
        expr(s"least(63, (CAST(floor(value * 1000000) AS BIGINT) - ${lo}L) div ${w}L)")
          .as("bin"))
      .groupBy(col("event_type"), col("src_b"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    // a source bucket's histogram contributes to the trailing windows of
    // buckets src_b..src_b+11, so the merge is a 12× explode + ONE
    // map-side-combined hash aggregate over SPARSE (type,bucket,bin) rows.
    // First cut materialized a dense types×buckets×64 grid and RANGE-window
    // summed it (the declarative mirror of the oracle SQL) — correct, but
    // the window sorted millions of mostly-zero rows and benched 4.6 s at
    // sf0.1, SLOWER than exact q119; this shape benches ~1.5 s. Zero-count
    // bins change nothing downstream: the rank walk's pick needs rc > 0.
    val rolled = c
      .select(col("event_type"), col("bin"), col("cnt"),
        explode(expr("sequence(src_b, src_b + 11)")).as("b_idx"))
      .groupBy(col("event_type"), col("b_idx"), col("bin"))
      .agg(sum(col("cnt")).as("rc"))
    // report only ACTIVE buckets (≥1 own event) — trailing echoes of a
    // burst are not dashboard rows, and the oracle grid is keyed the same
    val active = c.select(col("event_type"), col("src_b").as("b_idx"))
      .distinct()
    val perBucket = Window.partitionBy(col("event_type"), col("b_idx"))
    val cumW = perBucket.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val q = rolled.join(active, Seq("event_type", "b_idx"), "left_semi")
      .select(col("event_type"), col("b_idx"), col("bin"), col("rc"),
        sum(col("rc")).over(perBucket).as("tot"),
        sum(col("rc")).over(cumW).as("cum"))
    q.withColumn("need", expr("(19 * tot + 19) div 20"))
      .filter(col("cum") >= col("need") && col("cum") - col("rc") < col("need"))
      .select(col("event_type"), col("b_idx"), col("tot").as("n"),
        expr(s"${lo}L + bin * ${w}L + ((need - (cum - rc)) * ${w}L) div rc")
          .as("p95_micro"))
      .orderBy(col("event_type"), col("b_idx"))
  }

  /** First-order Markov transition matrix over per-user event sequences —
    * the sequence-mining primitive behind next-action prediction, anomaly
    * scoring ("this transition never happens"), and funnel discovery
    * (q75 checks ONE prescribed order; this measures ALL empirical
    * transitions). Per user, events order by (ts, event_id); each
    * consecutive (prev → next) pair counts once; probabilities are
    * row-normalized per source state. Plan: ONE user_id-keyed shuffle for
    * the lag window (q92's partitioning), then a transition-matrix-sized
    * aggregate (|states|², provably bounded) whose row totals ride a
    * source-state-partitioned window over that bounded matrix — nothing
    * data-sized past the first shuffle. Probabilities are exact
    * integer-ratio `ratio6`s, so both engines hash-match.
    */
  val q120MarkovTransitions = Q(
    "q120_markov_transitions",
    s"""WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      |  FROM events
      |),
      |t AS (
      |  SELECT prev_type, event_type AS next_type, count(*) AS n
      |  FROM seq WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, event_type
      |),
      |r AS (
      |  SELECT prev_type, next_type, n,
      |    CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS row_n
      |  FROM t
      |)
      |SELECT prev_type, next_type, n,
      |  ${Sql.ratio6("n", "row_n")} AS p
      |FROM r
      |ORDER BY prev_type NULLS FIRST, next_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val t = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    // row totals over the |states|²-sized matrix — bounded by construction
    t.withColumn("row_n",
        sum(col("n")).over(Window.partitionBy(col("prev_type"))).cast("long"))
      .select(col("prev_type"), col("next_type"), col("n"),
        Exact.ratio6("n", "row_n").as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Interval MAX-CONCURRENCY via a sweep line — the classic "peak
    * simultaneous sessions / connections / rooms" operator (and the one
    * interval question the binned-join family can't answer): each event
    * opens a half-open interval [ts, ts + dur) whose duration derives
    * deterministically from `value` (60 s + ⌊value⌋ mod 3540 — a stand-in
    * for a session-length column), and the answer per event type is the
    * maximum of the running Σ(±1) over the time-ordered endpoint deltas,
    * plus WHEN it is first reached.
    *
    * Endpoint tie discipline makes the answer well-defined: ordering by
    * (t, delta) processes closers (−1) before openers (+1) at the same
    * instant — half-open semantics, back-to-back intervals never overlap —
    * and the default RANGE window frame aggregates peers together, so
    * equal (t, delta) rows all see the same cumulative value and the max
    * is order-independent (deterministic under any shuffle). All time
    * arithmetic is integer µs end to end.
    *
    * Plan: ONE scan, a 2× endpoint explode (no UNION re-scan), then a
    * count probe of the deltas picks the running sum's path at
    * [[OrderedBins.WindowMaxRows]] (the devices' own crossover): below it
    * one event_type-keyed RANGE window (no fixed costs);
    * above it the endpoint deltas collapse to distinct (type, t, ±1) runs
    * (the RANGE-frame peer semantics made exact: peers share one
    * collapsed row, so the rows-frame running sum over runs IS the
    * peer-inclusive cum) and go through [[OrderedBins.prefixSumPar]]
    * partitioned by type — quantile time bins, never one type's history
    * in one sort (the old per-type window was the exponent-1.0 wall the
    * ×100 axis measured on the gap family). The per-type max is a
    * groupBy + broadcast join, not a type-wide window, on the large side.
    *
    * Why this query keeps its own probe: sending the small path through
    * `prefixSumPar` as well (the device's own dispatch) was measured
    * 1.85× slower on sf0.1 (6 alternating pairs, 4 cores): `PlanStats`
    * cannot bound the collapsed runs, so the device probes them with its
    * edge sketch, which re-runs the scan, explode and run aggregate only
    * to take the window path. See CHANGES.md.
    */
  val q133MaxConcurrency = Q(
    "q133_max_concurrency",
    """WITH iv AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      + (60 + ((CAST(floor(value) AS BIGINT) % 3540) + 3540) % 3540)
      |        * 1000000 AS e_us
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |),
      |d AS (
      |  SELECT event_type, s_us AS t, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT event_type, e_us AS t, -1 AS delta FROM iv
      |),
      |c AS (
      |  SELECT event_type, t, delta,
      |    CAST(sum(delta) OVER (PARTITION BY event_type
      |      ORDER BY t, delta) AS BIGINT) AS cum
      |  FROM d
      |),
      |c2 AS (
      |  SELECT *, max(cum) OVER (PARTITION BY event_type) AS mx FROM c
      |)
      |SELECT event_type, CAST(mx AS BIGINT) AS max_concurrent,
      |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_intervals,
      |  make_timestamp(min(CASE WHEN cum = mx THEN t END)) AS peak_at
      |FROM c2 GROUP BY event_type, mx
      |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val iv = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts)").as("s_us"),
        expr("""unix_micros(ts)
          + (60 + ((CAST(floor(value) AS BIGINT) % 3540) + 3540) % 3540)
            * CAST(1000000 AS BIGINT)""").as("e_us"))
    val deltas = iv
      .select(col("event_type"), explode(expr(
        "array(struct(s_us AS t, 1 AS delta), struct(e_us AS t, -1 AS delta))"))
        .as("x"))
      .select(col("event_type"), col("x.t").as("t"), col("x.delta").as("delta"))
    val n = deltas.count() // the dispatch row count; an empty frame counts 0
    val c =
      if (n < OrderedBins.WindowMaxRows) {
        // small-corpus path: the plain sweep window (RANGE frame — peers
        // aggregate together) + per-type max window; fixed costs beat the
        // parallel path's until the serial span dominates (the
        // typeGapsCarry dispatch economics, both ends measured there)
        val sweep = Window.partitionBy(col("event_type"))
          .orderBy(col("t"), col("delta"))
        deltas
          .withColumn("cnt", lit(1L))
          .withColumn("cum", sum(col("delta")).over(sweep).cast("long"))
          .withColumn("mx",
            max(col("cum")).over(Window.partitionBy(col("event_type"))))
      } else {
        // two-level prefix sum over COLLAPSED (type, t, delta) runs: the
        // RANGE frame's peer rows share one run row, so a rows-frame
        // running sum over runs is exactly the peer-inclusive cum.
        // r18: the inline LINEAR time bin here was the one straggler the
        // timeburst ×100 bench measured (6.8× — 90% of runs in one bin,
        // the exact collapse class the r17 verdict predicted for linear
        // time bins); routed through prefixSumPar, whose probe over the
        // collapsed runs frame samples QUANTILE edges — mass-balanced
        // under any burst placement, bit-identical cum by the monotone-
        // binning argument (BucketsSpec's edge-invariance net).
        val runs = deltas
          .groupBy(col("event_type"), col("t"), col("delta"))
          .agg(count(lit(1)).cast("long").as("cnt"))
          .withColumn("dd", col("delta") * col("cnt"))
        val inb = OrderedBins.prefixSumPar(runs, "t",
            desc = false, Seq("delta"), Seq("dd"), Seq("event_type"))
          .withColumn("cum", col("cum_dd"))
          // pinned: TWO consumers (the per-type max and the join) would
          // otherwise run the whole two-level prefix pipeline twice —
          // measured ~2× wall on the 18M-run burst corpus (r18)
          .transform(graft.operators.Iter.pin)
        val mxs = inb.groupBy(col("event_type").as("m_type"))
          .agg(max(col("cum")).cast("long").as("mx"))
        inb.join(broadcast(mxs), col("event_type") === col("m_type"))
      }
    c.groupBy(col("event_type"), col("mx"))
      .agg(
        sum(when(col("delta") === 1, col("cnt")).otherwise(0L)).cast("long")
          .as("n_intervals"),
        min(when(col("cum") === col("mx"), col("t"))).as("pk"))
      .select(col("event_type"), col("mx").as("max_concurrent"),
        col("n_intervals"), expr("timestamp_micros(pk)").as("peak_at"))
      .orderBy(col("event_type"))
  }

  /** Funnel TIME-TO-CONVERT percentiles — q75 answers "how many users
    * reach each stage"; this answers "how LONG each hop takes": per user,
    * the first view anchors the funnel, the first click strictly after it
    * (within 24 h) closes hop 1, the first purchase after that click
    * closes hop 2, and the three latency populations (view→click,
    * click→purchase, view→total-purchase) each report exact p50/p90 as
    * discrete order statistics — ceil(q·n) ranks over integer-µs
    * latencies, the q135 convention, so both engines pick the identical
    * multiset element and the oracle hash-matches without any float
    * percentile semantics.
    *
    * Plan: the q75 shape — every stage table is user-count-sized and
    * keyed on user_id (one partitioning reused), the event scan is
    * type-filter-pushed per stage. The final ranks ride
    * [[graft.operators.OrderedBins.rankPar]] partitioned by stage (r17:
    * funnel yield is conversion-PROPORTIONAL, so the old 3-partition
    * window was the low-cardinality serialization class — above the
    * measured dispatch the rank is binned and no stage sorts in one
    * task).
    */
  val q137FunnelLatency = Q(
    "q137_funnel_latency",
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE ts IS NOT NULL
      |),
      |v0 AS (
      |  SELECT user_id, min(ts) AS t0 FROM e
      |  WHERE event_type = 'view' GROUP BY user_id
      |),
      |c1 AS (
      |  SELECT e.user_id, min(e.ts) AS t1
      |  FROM e JOIN v0 ON e.user_id = v0.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v0.t0
      |    AND e.ts <= v0.t0 + INTERVAL 24 HOUR
      |  GROUP BY e.user_id
      |),
      |p2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM e JOIN c1 ON e.user_id = c1.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c1.t1
      |    AND e.ts <= c1.t1 + INTERVAL 24 HOUR
      |  GROUP BY e.user_id
      |),
      |lat AS (
      |  SELECT 'view_click' AS stage, epoch_us(t1) - epoch_us(t0) AS lat_us
      |  FROM v0 JOIN c1 USING (user_id)
      |  UNION ALL
      |  SELECT 'click_purchase', epoch_us(t2) - epoch_us(t1)
      |  FROM c1 JOIN p2 USING (user_id)
      |  UNION ALL
      |  SELECT 'view_purchase', epoch_us(t2) - epoch_us(t0)
      |  FROM v0 JOIN p2 USING (user_id)
      |),
      |r AS (
      |  SELECT stage, lat_us,
      |    row_number() OVER (PARTITION BY stage ORDER BY lat_us) AS rn,
      |    count(*) OVER (PARTITION BY stage) AS n
      |  FROM lat
      |)
      |SELECT stage, CAST(qm AS DOUBLE) / 1000000.0 AS quantile,
      |  CAST(n AS BIGINT) AS n, lat_us
      |FROM r, (SELECT unnest([500000, 900000]) AS qm) q
      |WHERE rn = (n * qm + 999999) // 1000000
      |ORDER BY stage NULLS FIRST, quantile NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v0 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val c1 = e.filter(col("event_type") === "click").as("e")
      .join(v0, Seq("user_id"))
      .filter(col("ts") > col("t0")
        && col("ts") <= col("t0") + expr("INTERVAL 24 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val p2 = e.filter(col("event_type") === "purchase").as("e")
      .join(c1, Seq("user_id"))
      .filter(col("ts") > col("t1")
        && col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    def hop(name: String, a: org.apache.spark.sql.DataFrame, ca: String,
        b: org.apache.spark.sql.DataFrame, cb: String) =
      a.join(b, Seq("user_id"))
        .select(lit(name).as("stage"),
          (expr(s"unix_micros($cb)") - expr(s"unix_micros($ca)"))
            .as("lat_us"))
    val lat = hop("view_click", v0, "t0", c1, "t1")
      .unionAll(hop("click_purchase", c1, "t1", p2, "t2"))
      .unionAll(hop("view_purchase", v0, "t0", p2, "t2"))
    // r17: scale-parallel per-stage rank (the stage partitions are 3-way
    // with conversion-proportional frames — the low-cardinality window
    // class; ties inside one lat value are rank-permutations of equal
    // values, so the picked order statistic is unchanged)
    val r = OrderedBins.rankPar(lat.transform(graft.operators.Iter.pin),
        "lat_us", desc = false, Nil, Seq("stage"))
      .select(col("stage"), col("lat_us"), col("i").as("rn"),
        col("nd").as("n"))
    r.crossJoin(broadcast(
        s.range(1).select(explode(lit(Array(500000L, 900000L))).as("qm"))))
      .filter(col("rn") === expr("(n * qm + 999999) div 1000000"))
      .select(col("stage"),
        (col("qm").cast("double") / 1000000.0).as("quantile"),
        col("n").cast("long").as("n"), col("lat_us"))
      .orderBy(col("stage"), col("quantile"))
  }

  /** EXPONENTIALLY DECAYED activity scoring — the freshness-weighted
    * engagement metric every recommendation/abuse system keeps (recent
    * events count more; half-life 7 days): score(user) = Σ w(age_days)
    * over the trailing 30 days, w(d) = 2^(−d/7). Cross-engine exactness
    * by the q125 discipline: the 30 weights are PRECOMPUTED once as
    * integer micro literals embedded in BOTH plans (one array lookup per
    * event — no per-row `pow`, whose libm could differ in the last ulp),
    * the age is integer µs arithmetic against an in-plan corpus-max
    * scalar (no wall clock — deterministic replay), and the score is an
    * exact integer sum. Plan: one scan → broadcast 1-row max → map-side
    * combined user aggregate; day boundaries use the floor-division pmod
    * idiom so pre-epoch timestamps can't skew a bucket.
    */
  val q148DecayedScore: Q = {
    // half-life 7 days over a 30-day horizon, in integer micro units;
    // computed at BUILD time and embedded as the same literals in both
    // plans, so engine libm differences cannot exist by construction
    val weights = (0 until 30)
      .map(d => math.round(math.pow(2.0, -d / 7.0) * 1e6))
    val arrSql = weights.mkString("[", ", ", "]")
    val arrSpark = weights.map(w => s"${w}L").mkString("array(", ", ", ")")
    Q(
      "q148_decayed_score",
      s"""WITH mx AS (
         |  SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS m FROM events
         |),
         |aged AS (
         |  SELECT user_id,
         |    CAST((mx.m - epoch_us(CAST(ts AS TIMESTAMP))) // 86400000000
         |      AS BIGINT) AS age_d
         |  FROM events, mx
         |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
         |)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
         |  CAST(sum($arrSql[age_d + 1]) AS BIGINT) AS score_micro
         |FROM aged WHERE age_d < 30
         |GROUP BY user_id
         |ORDER BY user_id NULLS FIRST""".stripMargin,
    ) { (s, d) =>
      val mx = Tables.events(s, d)
        .agg(max(expr("unix_micros(ts)")).as("m"))
      Tables.events(s, d)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .crossJoin(broadcast(mx))
        // corpus timestamps are post-epoch and m = max(ts), so the age is
        // non-negative and truncating div IS floor div here; the pmod
        // idiom is unnecessary (and age_d < 30 guards the array lookup)
        .select(col("user_id"),
          expr("(m - unix_micros(ts)) div 86400000000").as("age_d"))
        .filter(col("age_d") < 30)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_recent"),
          sum(expr(s"element_at($arrSpark, CAST(age_d + 1 AS INT))"))
            .cast("long").as("score_micro"))
        .orderBy(col("user_id"))
    }
  }

  /** LAST-TOUCH revenue ATTRIBUTION — the marketing-analytics closer of
    * the as-of family (q09 enriches facts with the latest dimension
    * version; this credits each conversion to the latest preceding
    * TOUCHPOINT): every purchase's value goes to the channel (view or
    * click) of the user's most recent touch within the 7-day lookback,
    * or to the 'none' bucket when no touch qualifies. One user-keyed
    * window carries the running last touch (ignore-nulls LAST over the
    * (ts, event_id)-ordered event stream — the deterministic tiebreak
    * makes a same-µs touch count as preceding), so the whole operator is
    * a single shuffle + one channel aggregate; no purchase×touch join
    * ever exists. Revenue sums through the house exact-sum.
    */
  val q149LastTouchAttribution = Q(
    "q149_last_touch_attribution",
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, value,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |    AND event_type IN ('view', 'click', 'purchase')
       |),
       |tagged AS (
       |  SELECT *,
       |    last_value(CASE WHEN event_type IN ('view', 'click')
       |        THEN {'us': us, 'ch': event_type} END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
       |  FROM e
       |),
       |conv AS (
       |  SELECT CASE WHEN lt IS NOT NULL
       |      AND us - lt.us <= 7 * 86400000000 THEN lt.ch
       |      ELSE 'none' END AS channel,
       |    value
       |  FROM tagged WHERE event_type = 'purchase'
       |)
       |SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
       |  ${graft.functions.Exact.Sql.dsum("value")} AS revenue
       |FROM conv GROUP BY channel
       |ORDER BY channel NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), expr("unix_micros(ts)").as("us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = e.withColumn("lt",
      last(when(col("event_type").isin("view", "click"),
        struct(col("us").as("us"), col("event_type").as("ch"))),
        ignoreNulls = true).over(w))
    tagged.filter(col("event_type") === "purchase")
      .select(
        when(col("lt").isNotNull
          && col("us") - col("lt.us") <= 7L * 86400000000L, col("lt.ch"))
          .otherwise("none").as("channel"),
        col("value"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).cast("long").as("n_conversions"),
        graft.functions.Exact.dsum(col("value")).as("revenue"))
      .orderBy(col("channel"))
  }

  /** RETENTION DECAY FIT — q84 reports the retention curve; this fits it:
    * per cohort, least-squares of ln(active users) against day offset
    * over the first 14 days gives the exponential decay rate and the
    * derived half-life (ln2 / rate), the single number growth teams
    * track. Exactness is the q94 regression discipline lifted into log
    * space: x is an integer offset, y = ln(count) goes through the q87
    * float-cast, every cross-moment (x·y, y) is decimal-summed so Spark's
    * partial-merge order can't drift, the x-only moments are exact
    * integers, and the slope is one double division of identical operands
    * on both engines. The half-life divides ln2 (the same 17-digit double
    * literal in both plans) by the PUBLISHED 6-decimal rate, not the raw
    * one — the division amplifies sub-micro decimal-cast wobble in the
    * raw slope ~300× (measured: 356.4836 vs 356.4868 on the corpus), and
    * deriving every released number from already-released numbers is the
    * right reporting rule anyway. Cohorts with fewer than 3 curve points
    * or a non-positive decay rate report NULL half-life rather than a
    * fabricated number. Bounded: ≤ 14 points per cohort ever aggregate.
    */
  val q150RetentionDecayFit = Q(
    "q150_retention_decay_fit",
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events
      |),
      |coh AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id),
      |ret AS (
      |  SELECT c.cohort_day,
      |    date_diff('day', c.cohort_day, u.day) AS d,
      |    count(DISTINCT u.user_id) AS a
      |  FROM ud u JOIN coh c ON u.user_id = c.user_id
      |  WHERE date_diff('day', c.cohort_day, u.day) < 14
      |  GROUP BY 1, 2
      |),
      |pts AS (
      |  SELECT cohort_day, CAST(d AS BIGINT) AS x,
      |    CAST(ln(CAST(a AS DOUBLE)) AS FLOAT) AS y
      |  FROM ret
      |),
      |m AS (
      |  SELECT cohort_day, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(CAST(y AS DECIMAL(18,9))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(CAST(x AS DOUBLE) * y AS DECIMAL(18,9)))
      |      AS DOUBLE) AS sxy
      |  FROM pts GROUP BY cohort_day
      |),
      |fit AS (
      |  SELECT cohort_day, n,
      |    -- + 0.0 normalizes the NEGATIVE ZERO a perfectly flat cohort
      |    -- produces (IEEE −0.0 + 0.0 = +0.0): DuckDB's round keeps the
      |    -- sign of zero while Spark's strips it (round-11 regenerated
      |    -- fixture carries such a cohort; SURVEY §5.7)
      |    CASE WHEN n >= 3 AND n * sxx - sx * sx > 0 THEN
      |      -((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)) + 0.0
      |    END AS rate
      |  FROM m
      |)
      |SELECT cohort_day, n AS n_points, round(rate, 6) AS decay_rate,
      |  CASE WHEN round(rate, 6) > 0
      |    THEN round(0.6931471805599453 / round(rate, 6), 6)
      |  END AS half_life_days
      |FROM fit
      |ORDER BY cohort_day NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val coh = ud.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val ret = ud.join(coh, "user_id")
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("d"), col("user_id"))
      .filter(col("d") < 14)
      .groupBy(col("cohort_day"), col("d"))
      .agg(countDistinct(col("user_id")).as("a"))
    val pts = ret.select(col("cohort_day"), col("d").cast("long").as("x"),
      expr("CAST(ln(CAST(a AS DOUBLE)) AS FLOAT)").as("y"))
    val m = pts.groupBy(col("cohort_day"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("y").cast(DecimalType(18, 9))).cast("double").as("sy"),
        sum((col("x").cast("double") * col("y")).cast(DecimalType(18, 9)))
          .cast("double").as("sxy"))
    m.withColumn("rate",
        when(col("n") >= 3 && col("n") * col("sxx") - col("sx") * col("sx") > 0,
          -((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            + lit(0.0)))
      .select(col("cohort_day"), col("n").as("n_points"),
        round(col("rate"), 6).as("decay_rate"),
        when(round(col("rate"), 6) > 0,
          round(lit(0.6931471805599453) / round(col("rate"), 6), 6))
          .as("half_life_days"))
      .orderBy(col("cohort_day"))
  }

  /** TIME-WEIGHTED AVERAGE — the metering/billing aggregate for
    * irregularly sampled signals (a plain AVG over-weights bursts; TWA
    * holds each sample until the next one): per event type,
    * TWA = Σ vᵢ·(tᵢ₊₁ − tᵢ) / (t_last − t_first), computed left-constant
    * with the final sample contributing no area. Arithmetic is exact
    * integers end to end: centi-scaled values (bounded so Σ v·Δ stays
    * under 2⁶³ at any tested scale — the magnitude analysis is the
    * comment below) times µs gaps under the (ts, event_id) tiebreak
    * (zero-width gaps from equal timestamps contribute nothing under any
    * tie order), and ONE double division of identical exact operands at
    * the end.
    *
    * Plan (r17 — the round-16 verdict's serialized-window finding): the
    * gap stage is [[graft.operators.OrderedBins.typeGapsCarry]] with the
    * start sample's vc carried (the TWA holds each sample until the
    * next, so the area term is start-vc·Δ) — above the measured 2M-row
    * dispatch the per-type frame never sorts in one task; the old `lead OVER
    * (PARTITION BY event_type)` was the exponent-1.0 wall the ×100 axis
    * measured on the gap family. n_samples comes from a separate
    * type-keyed count left-joined to the gap aggregate so a single-
    * sample type still reports (n = 1, NULL span, NULL twa) — the
    * oracle's NULL-on-empty-CASE semantics, unchanged.
    */
  val q151TimeWeightedAvg = Q(
    "q151_time_weighted_avg",
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(floor(value * 100) AS BIGINT) AS vc
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |),
      |g AS (
      |  SELECT event_type, vc,
      |    lead(us) OVER (PARTITION BY event_type ORDER BY us, event_id)
      |      - us AS delta
      |  FROM e
      |)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(CASE WHEN delta IS NOT NULL THEN delta END) AS BIGINT)
      |    AS span_us,
      |  round(CAST(sum(CASE WHEN delta IS NOT NULL
      |      THEN vc * delta END) AS DOUBLE)
      |    / CAST(sum(CASE WHEN delta IS NOT NULL THEN delta END)
      |      AS DOUBLE), 6) AS twa_centi
      |FROM g GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    // magnitude: |vc| ≤ 5·10⁴ (corpus values bounded by ~500), per-type
    // span ≤ 2·10¹³ µs (the fixture's 8-month range), so Σ vc·Δ ≤ 10¹⁸ —
    // inside int64 with 9× headroom; the closing division casts the SAME
    // exact long on both engines (double is exact to 2⁵³ ≈ 9·10¹⁵; the
    // 10¹⁸ cast rounds identically on both, and the quotient sits ~10¹³
    // above the 6-decimal rounding boundary scale)
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
    // scale-parallel gaps with the start sample's vc carried (r17):
    // every gap row IS a non-null delta term of the old window plan
    val g = OrderedBins.typeGapsCarry(e, Seq("vc"))
    val n = e.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_samples"))
    val a = g.groupBy(col("event_type").as("a_type"))
      .agg(sum(col("gp")).cast("long").as("span_us"),
        round(sum(col("vc") * col("gp")).cast("double")
          / sum(col("gp")).cast("double"), 6).as("twa_centi"))
    n.join(a, col("event_type") === col("a_type"), "left")
      .select(col("event_type"), col("n_samples"), col("span_us"),
        col("twa_centi"))
      .orderBy(col("event_type"))
  }

  /** MAX-SILENCE detection — the SLA/liveness dual of q92's
    * sessionization (gaps WITHIN activity) and q80's gap fill (missing
    * buckets): per event type, the longest interval with no event at all,
    * and when it began. Consecutive gaps under the deterministic
    * (ts, event_id) tiebreak; ties on the maximum resolve to the earliest
    * start. The streaming counterpart of this monitor is a heartbeat
    * watermark; batch-side it is the query an on-call runs first.
    *
    * Plan (r17 — the round-16 verdict's serialized-window finding): the
    * gap stage is [[graft.operators.OrderedBins.typeGapsCarry]] with the
    * start timestamp carried — above the measured 2M-row dispatch the
    * per-type frame never sorts in one task (the bin-lag device, gaps
    * bit-identical); the old `lead OVER (PARTITION BY event_type)`
    * put each type's ENTIRE history in one task, the exponent-1.0 wall
    * the ×100 axis measured on the gap family. The max/argmax finish is
    * ONE per-type aggregate — lexicographic max of (gp, −start) breaks
    * max-gap ties to the earliest start, so the gap frame evaluates
    * exactly once and no type-wide window exists anywhere. A type with
    * a single event has no gap and emits NO row
    * (the oracle's inner-join semantics, now matched exactly — the old
    * window plan emitted a NULL row the oracle dropped; pinned in
    * EdgeEventsSpec).
    */
  val q152MaxSilence = Q(
    "q152_max_silence",
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events WHERE ts IS NOT NULL
      |),
      |g AS (
      |  SELECT event_type, us,
      |    lead(us) OVER (PARTITION BY event_type ORDER BY us, event_id)
      |      - us AS delta
      |  FROM e
      |),
      |m AS (
      |  SELECT event_type,
      |    CAST(max(delta) AS BIGINT) AS max_gap_us,
      |    CAST(count(delta) AS BIGINT) AS n_gaps
      |  FROM g GROUP BY event_type
      |)
      |SELECT m.event_type, m.max_gap_us, m.n_gaps,
      |  make_timestamp(min(g.us)) AS gap_start
      |FROM m JOIN g ON m.event_type = g.event_type
      |  AND g.delta = m.max_gap_us
      |GROUP BY m.event_type, m.max_gap_us, m.n_gaps
      |ORDER BY m.event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
    // scale-parallel gaps with the start timestamp carried (r17; the
    // start rides the self-join's previous-row side above the dispatch)
    val g = OrderedBins.typeGapsCarry(e, Seq("us"))
      .select(col("event_type"), col("us").as("st"), col("gp"))
    // argmax in ONE aggregate pass: lexicographic max of (gp, −st) picks
    // the largest gap and, on ties, the EARLIEST start (−st largest) —
    // no join-back, so the gap frame evaluates exactly once (measured:
    // the join-back form re-ran the two-level self-join, 11.4 s vs this
    // at ×100)
    g.groupBy(col("event_type"))
      .agg(count(col("gp")).cast("long").as("n_gaps"),
        max(struct(col("gp"), (-col("st")).as("nst"))).as("am"))
      .select(col("event_type"), col("am.gp").cast("long").as("max_gap_us"),
        col("n_gaps"),
        expr("timestamp_micros(-am.nst)").as("gap_start"))
      .orderBy(col("event_type"))
  }

  /** INTERVAL COALESCING — merge each user's overlapping activity
    * intervals into maximal disjoint spans and report the covered-time
    * profile (span count, total covered, longest span): the "true active
    * time" operator (billing, SLA attribution, device uptime), and the
    * complement of q133's sweep — q133 asks how DEEP the overlap stacks,
    * this asks how WIDE the union is. Intervals derive exactly as in
    * q133 ([ts, ts + (60 + ⌊value⌋ mod 3540) s), half-open).
    *
    * The merge is the gaps-and-islands idiom: per user, order intervals
    * by (start, end); an interval opens a NEW island iff its start
    * exceeds the running max of all previous ends (touching spans — start
    * = previous end — coalesce, the half-open convention); the island id
    * is the running sum of those indicators, and one aggregate per island
    * yields the spans. Every comparison is integer µs, so the oracle
    * hash-matches bit-for-bit.
    *
    * Plan: ONE user-keyed exchange shared by both windows (running-max
    * and island-sum are over the same (user, start, end) order) and the
    * island aggregate; the final per-user rollup is user-count-sized. At
    * corpus scale the per-user sweep shards by (user, day) with an
    * open-interval carry-in — the q133 comment's discipline — because the
    * island indicator only needs the running end-max, a single carried
    * scalar.
    */
  val q158IntervalCoalesce = Q(
    "q158_interval_coalesce",
    """WITH iv AS (
      |  SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      + (60 + ((CAST(floor(value) AS BIGINT) % 3540) + 3540) % 3540)
      |        * 1000000 AS e_us
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |),
      |mk AS (
      |  SELECT user_id, s_us, e_us,
      |    CASE WHEN s_us > coalesce(max(e_us) OVER (
      |      PARTITION BY user_id ORDER BY s_us, e_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |      THEN 1 ELSE 0 END AS opens
      |  FROM iv
      |),
      |isl AS (
      |  SELECT user_id, s_us, e_us,
      |    sum(opens) OVER (PARTITION BY user_id
      |      ORDER BY s_us, e_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM mk
      |),
      |sp AS (
      |  SELECT user_id, island, min(s_us) AS sp_s, max(e_us) AS sp_e
      |  FROM isl GROUP BY user_id, island
      |)
      |SELECT user_id,
      |  CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(sp_e - sp_s) AS BIGINT) AS covered_us,
      |  CAST(max(sp_e - sp_s) AS BIGINT) AS longest_us,
      |  make_timestamp(min(sp_s)) AS first_start,
      |  make_timestamp(max(sp_e)) AS last_end
      |FROM sp GROUP BY user_id
      |ORDER BY user_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    coalesceIntervals(Tables.events(s, d)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts)").as("s_us"),
        expr("""unix_micros(ts)
          + (60 + ((CAST(floor(value) AS BIGINT) % 3540) + 3540) % 3540)
            * CAST(1000000 AS BIGINT)""").as("e_us")))
  }

  /** q158's operator body over any (user_id, s_us, e_us) interval frame
    * (suite entry; `StatsSpec` re-proves it against an independent
    * driver-side merge on a collected corpus). */
  def coalesceIntervals(iv: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("s_us"), col("e_us"))
    val mk = iv.withColumn("opens",
      when(col("s_us") > coalesce(
        max(col("e_us")).over(order.rowsBetween(Window.unboundedPreceding, -1)),
        lit(-1L)), 1).otherwise(0))
    val isl = mk.withColumn("island",
      sum(col("opens")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
    isl.groupBy(col("user_id"), col("island"))
      .agg(min(col("s_us")).as("sp_s"), max(col("e_us")).as("sp_e"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(col("sp_e") - col("sp_s")).cast("long").as("covered_us"),
        max(col("sp_e") - col("sp_s")).cast("long").as("longest_us"),
        min(col("sp_s")).as("f_us"), max(col("sp_e")).as("l_us"))
      .select(col("user_id"), col("n_spans"), col("covered_us"),
        col("longest_us"),
        expr("timestamp_micros(f_us)").as("first_start"),
        expr("timestamp_micros(l_us)").as("last_end"))
      .orderBy(col("user_id"))
  }

  /** SEQUENTIAL PATTERN MINING — the most frequent 3-step event journeys:
    * consecutive per-user (e1 → e2 → e3) type triples where BOTH steps
    * land within 30 minutes (a session-like contiguity constraint — the
    * lightweight PrefixSpan slice that answers "what do users actually do
    * in order", feeding funnel design where q75 then measures a chosen
    * sequence). Top 10 by occurrence count with support (distinct users).
    *
    * Determinism: per-user ordering is (ts, event_id) — the house total
    * order — and the top-10 ranks by (count DESC, triple ASC), a total
    * order both engines share. Pure counting, no floats.
    *
    * Plan: ONE user-keyed exchange carries both lag windows (same
    * partition + order), then a triple-keyed count with exact
    * count(DISTINCT user) (types are bounded, so there are ≤ |types|³
    * groups — the distinct expansion is grid-sized, not corpus-sized) and
    * TakeOrderedAndProject caps the output.
    */
  val q168SeqTriples = Q(
    "q168_seq_triples",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |t AS (
      |  SELECT user_id,
      |    lag(event_type, 2) OVER w AS e1,
      |    lag(event_type, 1) OVER w AS e2,
      |    event_type AS e3,
      |    lag(us, 2) OVER w AS us1,
      |    lag(us, 1) OVER w AS us2,
      |    us AS us3
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |)
      |SELECT e1, e2, e3, count(*) AS n_occurrences,
      |  count(DISTINCT user_id) AS n_users
      |FROM t
      |WHERE e1 IS NOT NULL
      |  AND us2 - us1 <= 1800000000 AND us3 - us2 <= 1800000000
      |GROUP BY e1, e2, e3
      |ORDER BY n_occurrences DESC, e1 NULLS FIRST, e2 NULLS FIRST,
      |  e3 NULLS FIRST
      |LIMIT 10""".stripMargin,
  ) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .select(col("user_id"),
        lag(col("event_type"), 2).over(w).as("e1"),
        lag(col("event_type"), 1).over(w).as("e2"),
        col("event_type").as("e3"),
        lag(col("us"), 2).over(w).as("us1"),
        lag(col("us"), 1).over(w).as("us2"),
        col("us").as("us3"))
      .filter(col("e1").isNotNull
        && col("us2") - col("us1") <= 1800000000L
        && col("us3") - col("us2") <= 1800000000L)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_occurrences").desc, col("e1"), col("e2"), col("e3"))
      .limit(10)
  }

  /** RFM SEGMENTATION — the classic customer-value partition: per user,
    * Recency (days since last event, against the corpus max — a fixed
    * reference both engines share), Frequency (event count), Monetary
    * (total centi-value); each scored into quintiles (ntile(5), 1 = best:
    * most recent / most frequent / highest value) and rolled up per
    * (r, f, m) cell with exact average metrics. The downstream consumers
    * are campaign targeting (q161's lift table evaluates one) and churn
    * triage (q171 measures its time axis).
    *
    * Determinism: every ntile orders by (metric, user_id) — total order;
    * ntile's remainder-to-early-buckets semantics agree across engines.
    * Exactness: days and cents are integers; averages report via ratio6,
    * which carries its own value ≥ 0 PRECONDITION — a refunds fixture
    * (negative monetary totals) would diverge Spark's toward-zero div
    * from DuckDB's flooring // in the reported averages.
    *
    * Plan: one user aggregate, three user-count-sized ntile windows
    * (global ordering over USERS, not events — at 10⁹ users each would
    * shard by the q142 two-pass rank-transform discipline, which ntile
    * reduces to: bucket = (rank−1)·5/n + 1 with the remainder rule), one
    * ≤125-row rollup.
    */
  val q169RfmSegments = Q(
    "q169_rfm_segments",
    s"""WITH u AS (
      |  SELECT user_id,
      |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
      |    count(*) AS f,
      |    sum(CASE WHEN value IS NULL THEN 0
      |        ELSE CAST(round(100 * value) AS BIGINT) END) AS m
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id
      |),
      |mx AS (SELECT max(last_us) AS mx_us FROM u),
      |s AS (
      |  SELECT user_id, f, m,
      |    (mx.mx_us - u.last_us) // 86400000000 AS r_days
      |  FROM u, mx
      |),
      |d AS (
      |  SELECT user_id, r_days, f, m,
      |    ntile(5) OVER (ORDER BY r_days, user_id) AS rq,
      |    ntile(5) OVER (ORDER BY f DESC, user_id) AS fq,
      |    ntile(5) OVER (ORDER BY m DESC, user_id) AS mq
      |  FROM s
      |)
      |SELECT CAST(rq AS INTEGER) AS rq, CAST(fq AS INTEGER) AS fq,
      |  CAST(mq AS INTEGER) AS mq,
      |  count(*) AS n_users,
      |  CAST(min(r_days) AS BIGINT) AS min_r_days,
      |  ${graft.functions.Exact.Sql.ratio6("sum(f)", "count(*)")} AS avg_f,
      |  ${graft.functions.Exact.Sql.ratio6Big("sum(m)", "100 * count(*)")}
      |    AS avg_m
      |FROM d
      |GROUP BY rq, fq, mq
      |ORDER BY rq NULLS FIRST, fq NULLS FIRST, mq NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val u = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(max(expr("unix_micros(ts)")).as("last_us"),
        count(lit(1)).as("f"),
        sum(when(col("value").isNull, 0L)
          .otherwise(expr("CAST(round(100 * value) AS BIGINT)"))).as("m"))
    val mx = u.agg(max(col("last_us")).as("mx_us"))
    val sdf = u.crossJoin(broadcast(mx))
      .select(col("user_id"), col("f"), col("m"),
        expr("(mx_us - last_us) div 86400000000").as("r_days"))
    // r17: three scale-parallel closed-form ntiles (each global
    // Window.orderBy sorted every user in one task — the serialization
    // class the r16 partitionBy grep could not see)
    val quint = Seq(("r_days", false, "rq"), ("f", true, "fq"),
      ("m", true, "mq"))
    // pinned: three ntilePar calls each carry a dispatch-probe action —
    // unpinned, the events scan + user aggregate would run 4x (§5.7)
    val ddf = quint.foldLeft(
        sdf.select(col("user_id"), col("r_days"), col("f"), col("m"))
          .transform(graft.operators.Iter.pin)) {
      case (acc, (key, desc, as)) =>
        OrderedBins.ntilePar(acc, 5, key, desc, Seq("user_id"))
          .withColumnRenamed("tile", as)
    }
    ddf.groupBy(col("rq"), col("fq"), col("mq"))
      .agg(count(lit(1)).as("n_users"),
        min(col("r_days")).cast("long").as("min_r_days"),
        sum(col("f")).as("sf"), sum(col("m")).as("sm"))
      .select(col("rq"), col("fq"), col("mq"), col("n_users"),
        col("min_r_days"),
        graft.functions.Exact.ratio6("sf", "n_users").as("avg_f"),
        graft.functions.Exact.ratio6Big("sm", "100 * n_users")
          .as("avg_m")) // ratio6Big: monetary cent sum (r16 audit)
      .orderBy(col("rq"), col("fq"), col("mq"))
  }

  /** DISCRETE CHURN HAZARD — the survival-analysis life table without the
    * float product: per tenure week k, how many users were still at risk,
    * how many churned exactly then (last activity in week k of their
    * life), how many are right-censored (still active in the corpus's
    * final week — their true churn week is unobservable, the standard
    * censoring rule), and the discrete hazard churned/at_risk. The
    * Kaplan–Meier survival curve is the cumulative product of (1 − these
    * hazards) — this round's [[q189KmSurvival]] computes it triple-green
    * via the log-space float-cast/DECIMAL discipline, retiring this
    * comment's earlier claim that a float cumprod could not keep the
    * exactness contract; the hazard table itself stays pure integer
    * counting + ratio6.
    *
    * Plan: one user aggregate → (tenure, censored) runs (≤ weeks×2 rows)
    * → the at-risk tail sums via ONE reverse cumulative window over
    * DISTINCT tenure runs (the q147 value-run discipline on the time
    * axis). Censored users count at risk through their censor week,
    * never as churn — the standard life-table convention.
    */
  val q171ChurnHazard = Q(
    "q171_churn_hazard",
    s"""WITH u AS (
      |  SELECT user_id,
      |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS f_us,
      |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS l_us
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id
      |),
      |c AS (SELECT min(f_us) AS m0, max(l_us) AS m1 FROM u),
      |t AS (
      |  SELECT user_id,
      |    (l_us - m0) // 604800000000 - (f_us - m0) // 604800000000
      |      AS tenure,
      |    CASE WHEN (l_us - m0) // 604800000000
      |      = (m1 - m0) // 604800000000 THEN 1 ELSE 0 END AS censored
      |  FROM u, c
      |),
      |runs AS (
      |  SELECT tenure, censored, count(*) AS cnt
      |  FROM t GROUP BY tenure, censored
      |),
      |k AS (
      |  SELECT tenure,
      |    sum(CASE WHEN censored = 0 THEN cnt ELSE 0 END) AS churned,
      |    sum(CASE WHEN censored = 1 THEN cnt ELSE 0 END) AS censored_n,
      |    sum(cnt) AS ends_here
      |  FROM runs GROUP BY tenure
      |),
      |r AS (
      |  SELECT tenure, churned, censored_n,
      |    sum(ends_here) OVER (ORDER BY tenure DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk
      |  FROM k
      |)
      |SELECT CAST(tenure AS BIGINT) AS tenure_weeks,
      |  CAST(at_risk AS BIGINT) AS at_risk,
      |  CAST(churned AS BIGINT) AS churned,
      |  CAST(censored_n AS BIGINT) AS censored,
      |  ${graft.functions.Exact.Sql.ratio6("churned", "at_risk")} AS hazard
      |FROM r
      |ORDER BY tenure_weeks NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val u = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(expr("unix_micros(ts)")).as("f_us"),
        max(expr("unix_micros(ts)")).as("l_us"))
    val c = u.agg(min(col("f_us")).as("m0"), max(col("l_us")).as("m1"))
    val t = u.crossJoin(broadcast(c))
      .select(col("user_id"),
        expr("(l_us - m0) div 604800000000 - (f_us - m0) div 604800000000")
          .as("tenure"),
        when(expr("(l_us - m0) div 604800000000")
          === expr("(m1 - m0) div 604800000000"), 1).otherwise(0)
          .as("censored"))
    val k = t.groupBy(col("tenure"), col("censored"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("tenure"))
      .agg(sum(when(col("censored") === 0, col("cnt")).otherwise(0L))
        .as("churned"),
        sum(when(col("censored") === 1, col("cnt")).otherwise(0L))
          .as("censored_n"),
        sum(col("cnt")).as("ends_here"))
    k.withColumn("at_risk",
        sum(col("ends_here")).over(Window.orderBy(col("tenure").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("tenure").cast("long").as("tenure_weeks"),
        col("at_risk").cast("long").as("at_risk"),
        col("churned").cast("long").as("churned"),
        col("censored_n").cast("long").as("censored"),
        graft.functions.Exact.ratio6("churned", "at_risk").as("hazard"))
      .orderBy(col("tenure_weeks"))
  }

  /** KAPLAN–MEIER SURVIVAL CURVE — the cumulative product q171's comment
    * "deliberately left to the consumer": S(k) = Π_{j ≤ k}
    * (1 − churned_j / at_risk_j) over the same censored life table. The
    * claim that a float cumprod breaks the exactness contract turned out
    * to be beatable with the house log-score discipline (the q188 argmax
    * result): each factor's ln((at_risk − churned) / at_risk) is one
    * float-cast ln of one double division of exact int64s, the running
    * sum accumulates as DECIMAL(18,9) under an ORDERED cumulative window
    * (decimal addition is associative — engine merge order cannot move
    * it), and the final exp goes back through a FLOAT cast before
    * rounding, killing libm's 1-ulp exp wobble the same way the ln cast
    * does. Result: a hash-matching survival curve.
    *
    * The churned = at_risk edge (everyone at risk dies at week j —
    * ln(0)) is handled identically on both engines: a cumulative
    * any-extinction flag pins S to exactly 0.0 from that week on, rather
    * than feeding −∞ through exp.
    *
    * Plan: q171's shape verbatim (one user aggregate, value-run life
    * table, one reverse cumulative window over ≤weeks rows) plus one
    * forward cumulative window over the same bounded rows — nothing
    * user-proportional past the first aggregate.
    *
    * Week bucketing divides `(l_us - m0)` with integer `div` — sign-safe
    * by CONSTRUCTION (m0 is the corpus min, every numerator ≥ 0), unlike
    * a raw-epoch division; SURVEY §5.7's div-vs-`//` row catalogs the
    * distinction.
    */
  val q189KmSurvival = Q(
    "q189_km_survival",
    s"""WITH u AS (
      |  SELECT user_id,
      |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS f_us,
      |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS l_us
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id
      |),
      |c AS (SELECT min(f_us) AS m0, max(l_us) AS m1 FROM u),
      |t AS (
      |  SELECT user_id,
      |    (l_us - m0) // 604800000000 - (f_us - m0) // 604800000000
      |      AS tenure,
      |    CASE WHEN (l_us - m0) // 604800000000
      |      = (m1 - m0) // 604800000000 THEN 1 ELSE 0 END AS censored
      |  FROM u, c
      |),
      |runs AS (
      |  SELECT tenure, censored, count(*) AS cnt
      |  FROM t GROUP BY tenure, censored
      |),
      |k AS (
      |  SELECT tenure,
      |    sum(CASE WHEN censored = 0 THEN cnt ELSE 0 END) AS churned,
      |    sum(CASE WHEN censored = 1 THEN cnt ELSE 0 END) AS censored_n,
      |    sum(cnt) AS ends_here
      |  FROM runs GROUP BY tenure
      |),
      |r AS (
      |  SELECT tenure, churned, censored_n,
      |    sum(ends_here) OVER (ORDER BY tenure DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk
      |  FROM k
      |),
      |s AS (
      |  SELECT tenure, churned, censored_n, at_risk,
      |    sum(CASE WHEN churned = at_risk THEN CAST(0 AS DECIMAL(18,9))
      |      ELSE CAST(CAST(ln(CAST(at_risk - churned AS DOUBLE)
      |        / CAST(at_risk AS DOUBLE)) AS FLOAT) AS DECIMAL(18,9)) END)
      |      OVER (ORDER BY tenure
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum,
      |    max(CASE WHEN churned = at_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY tenure
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS extinct
      |  FROM r
      |)
      |SELECT CAST(tenure AS BIGINT) AS tenure_weeks,
      |  CAST(at_risk AS BIGINT) AS at_risk,
      |  CAST(churned AS BIGINT) AS churned,
      |  CAST(censored_n AS BIGINT) AS censored,
      |  CASE WHEN extinct = 1 THEN CAST(0.0 AS DOUBLE)
      |    ELSE round(CAST(CAST(exp(CAST(lsum AS DOUBLE)) AS FLOAT)
      |      AS DOUBLE), 6) END AS survival
      |FROM s
      |ORDER BY tenure_weeks NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val u = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(expr("unix_micros(ts)")).as("f_us"),
        max(expr("unix_micros(ts)")).as("l_us"))
    val c = u.agg(min(col("f_us")).as("m0"), max(col("l_us")).as("m1"))
    val t = u.crossJoin(broadcast(c))
      .select(
        expr("(l_us - m0) div 604800000000 - (f_us - m0) div 604800000000")
          .as("tenure"),
        when(expr("(l_us - m0) div 604800000000")
          === expr("(m1 - m0) div 604800000000"), 1).otherwise(0)
          .as("censored"))
    val k = t.groupBy(col("tenure"), col("censored"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("tenure"))
      .agg(sum(when(col("censored") === 0, col("cnt")).otherwise(0L))
        .as("churned"),
        sum(when(col("censored") === 1, col("cnt")).otherwise(0L))
          .as("censored_n"),
        sum(col("cnt")).as("ends_here"))
    val r = k.withColumn("at_risk",
      sum(col("ends_here")).over(Window.orderBy(col("tenure").desc)
        .rowsBetween(Window.unboundedPreceding, 0)))
    val fwd = Window.orderBy(col("tenure"))
      .rowsBetween(Window.unboundedPreceding, 0)
    r.select(col("tenure"), col("churned"), col("censored_n"),
        col("at_risk"),
        sum(expr(
          """CASE WHEN churned = at_risk THEN CAST(0 AS DECIMAL(18,9))
            |ELSE CAST(CAST(ln(CAST(at_risk - churned AS DOUBLE)
            |  / CAST(at_risk AS DOUBLE)) AS FLOAT) AS DECIMAL(18,9)) END"""
            .stripMargin)).over(fwd).as("lsum"),
        max(when(col("churned") === col("at_risk"), 1).otherwise(0))
          .over(fwd).as("extinct"))
      .select(col("tenure").cast("long").as("tenure_weeks"),
        col("at_risk").cast("long").as("at_risk"),
        col("churned").cast("long").as("churned"),
        col("censored_n").cast("long").as("censored"),
        when(col("extinct") === 1, lit(0.0))
          .otherwise(round(
            expr("CAST(CAST(exp(CAST(lsum AS DOUBLE)) AS FLOAT) AS DOUBLE)"),
            6)).as("survival"))
      .orderBy(col("tenure_weeks"))
  }

  /** EWMA CONTROL CHART — the third statistical-process-control leg
    * (q76 flags pointwise outliers, q180's CUSUM localizes a sustained
    * mean SHIFT; the exponentially-weighted chart detects SMALL drifts
    * faster than either, the classic SPC result): per event type, the
    * dense zero-filled hourly count series feeds
    *
    *   z_t = λ·Σ_{i=0}^{t} (1−λ)^i·x_{t−i} + (1−λ)^{t+1}·μ,   λ = 0.2
    *   UCL/LCL_t = μ ± 3σ·√(λ/(2−λ)·(1 − (1−λ)^{2(t+1)}))
    *
    * (the closed form of the z_t = λx_t + (1−λ)z_{t−1} recursion seeded
    * at μ, with the exact time-varying control limits — not the t→∞
    * approximation). Hours outside the band are out of control.
    *
    * Exactness: counts and moments are exact int64; every (1−λ)^k goes
    * through the float-cast pow (the q189 exp device applied to libm's
    * pow), each weighted term λ·powf·x is one fixed-order double product
    * cast to DECIMAL(18,9), and the per-hour sum is the associative
    * decimal aggregate — so the whole recursion replay hash-matches. σ
    * uses the exact integer variance numerator; √ is IEEE-exact. A
    * single-hour type has no sample variance → NULL limits via nullif
    * on both engines (EdgeEventsSpec's 'solo' shape), never a crash.
    *
    * Plan: the closed form makes the recursion RELATIONAL — each source
    * hour explodes its forward contributions into ONE map-side-combined
    * (type, t) aggregate; nothing is sequential, nothing is driver-side.
    * The explode is W-TRUNCATED BY DEFAULT (see [[ewmaChartPlan]]):
    * span·(wlag+1) rows per type, LINEAR in calendar span, and provably
    * bit-identical to the full span²/2 form because every dropped term
    * sits below the DECIMAL(18,9) cast quantum — the oracle below stays
    * the untruncated closed form and hash-matches every round, which IS
    * the standing losslessness proof.
    *
    * PRECONDITION ts ≥ 1970-01-01: hour buckets divide RAW epoch µs with
    * Spark `div` (truncates toward zero) vs DuckDB `//` (floors) —
    * identical only for non-negative numerators (SURVEY §5.7). The
    * events fixture satisfies it; pre-epoch corpora would need the pmod
    * floor idiom.
    */
  val q193EwmaChart = Q(
    "q193_ewma_chart",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.m0, g.t, COALESCE(mc.cnt, 0) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS span,
      |    CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS q
      |  FROM x GROUP BY 1
      |),
      |contrib AS (
      |  SELECT x.event_type,
      |    unnest(range(x.t, m.span)) AS t2, x.t, x.x
      |  FROM x JOIN mom m USING (event_type)
      |),
      |z AS (
      |  SELECT event_type, t2 AS t,
      |    sum(CAST(CAST(0.2 AS DOUBLE)
      |      * CAST(pow(0.8, t2 - t) AS FLOAT)
      |      * CAST(x AS DOUBLE) AS DECIMAL(18,9))) AS sd
      |  FROM contrib GROUP BY 1, 2
      |),
      |fin AS (
      |  SELECT z.event_type, z.t, x.m0, x.x,
      |    CAST(z.sd AS DOUBLE) + CAST(pow(0.8, z.t + 1) AS FLOAT)
      |      * (CAST(m.s AS DOUBLE) / CAST(m.span AS DOUBLE)) AS ewma,
      |    CAST(m.s AS DOUBLE) / CAST(m.span AS DOUBLE) AS mu,
      |    sqrt(CAST(m.span * m.q - m.s * m.s AS DOUBLE)
      |        / nullif(CAST(m.span * (m.span - 1) AS DOUBLE), 0))
      |      * sqrt((CAST(0.2 AS DOUBLE) / CAST(1.8 AS DOUBLE))
      |        * (CAST(1.0 AS DOUBLE)
      |          - CAST(pow(0.64, z.t + 1) AS FLOAT))) AS hw
      |  FROM z JOIN x ON z.event_type = x.event_type AND z.t = x.t
      |  JOIN mom m ON m.event_type = z.event_type
      |)
      |SELECT event_type,
      |  make_timestamp((m0 + t) * 3600000000) AS hour,
      |  CAST(x AS BIGINT) AS n,
      |  round(ewma, 6) AS ewma,
      |  round(mu + 3 * hw, 6) AS ucl,
      |  round(mu - 3 * hw, 6) AS lcl,
      |  CASE ewma > mu + 3 * hw OR ewma < mu - 3 * hw
      |    WHEN true THEN 'oob' WHEN false THEN 'in_control' END
      |    AS out_of_control
      |FROM fin
      |ORDER BY event_type, hour""".stripMargin,
  ) { (s, d) => ewmaChartPlan(Tables.events(s, d), truncate = true) }

  /** Spark-side builder for q193, parameterized on the W-truncation so
    * the full span²/2 twin runs on the same corpus (EdgeEventsSpec's
    * truncated ≡ full net). `truncate = true` (the production default
    * and what q193 registers) bounds each source hour's forward explode
    * at the per-type lag `wlag` = the LARGEST d for which the worst-case
    * term `0.2·powf(0.8,d)·xmax` still casts to a nonzero DECIMAL(18,9)
    * (xmax = the type's max hourly count). Every dropped term is
    * ≤ that worst case (the term is linear in x ≤ xmax at fixed d, and
    * wlag is the max nonzero lag by definition), i.e. strictly below
    * the 0.5e-9 HALF_UP cast quantum — it casts to EXACTLY 0.000000000
    * and contributes nothing to the decimal sum. Truncated ≡ full
    * bit-for-bit BY CONSTRUCTION, not approximately: the DuckDB oracle
    * stays the UNTRUNCATED closed form and hash-matches every round
    * (sf0.001/0.01/0.1 re-proven at the switch). The probe grid's 600-lag
    * cap is unreachable: even at xmax = 2⁶³ the term at d = 300 is
    * 0.2·0.8³⁰⁰·9.2e18 ≈ 2e-11 < 5e-10, and the lag-0 term 0.2·xmax ≥ 0.2
    * guarantees wlag is always defined (every type has ≥ 1 event).
    * Cost: contribution rows drop from span²/2 to span·(wlag+1) per
    * type — LINEAR in calendar span (wlag = 105–106 across types on
    * the sf0.1 fixture, growing only with log xmax). Measured in r13
    * (SCALE_r13.md; genspan ×6 tiles the same corpus to a 4320-hour
    * span at constant density; noop-write, min of 2 timed passes):
    * 720 h full 3.87 s vs truncated 1.61 s (explode 259k → 77k
    * rows/type, 2.4×); 4320 h full 35.33 s vs truncated 4.15 s (9.33M
    * → 0.46M rows/type, **8.5×**) — and the gap is the span²/span
    * ratio thereafter (a 2-year hourly span: 153M vs 1.9M rows/type,
    * ~80×). The full form survives only as the suite's reference twin
    * and as the oracle's definition.
    */
  private[graft] def ewmaChartPlan(
      ev: org.apache.spark.sql.DataFrame,
      truncate: Boolean): org.apache.spark.sql.DataFrame = {
    val mc = ev
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type")
          && mc("m") === col("m0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("m0"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("x"))
      .transform(graft.operators.Iter.pin) // 3 consumers: moments, contributions, finish
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("span"),
        sum(col("x")).cast("long").as("s"),
        sum(col("x") * col("x")).cast("long").as("q"),
        max(col("x")).cast("long").as("xmax"))
    // per-type truncation lag: probe the ACTUAL term pipeline (same
    // float-cast pow, same decimal cast) at x = xmax over a 601-lag
    // grid on the 1-row-per-type moments — types × 601 rows, broadcast
    val wl =
      if (truncate)
        mom.select(col("event_type"),
            explode(expr("sequence(0L, 600L)")).as("d"), col("xmax"))
          .filter(expr(
            """CAST(CAST(0.2 AS DOUBLE)
              |  * CAST(pow(0.8, d) AS FLOAT)
              |  * CAST(xmax AS DOUBLE) AS DECIMAL(18,9))
              |<> CAST(0 AS DECIMAL(18,9))""".stripMargin))
          .groupBy(col("event_type")).agg(max(col("d")).as("wlag"))
      else mom.select(col("event_type"), col("span").as("wlag"))
    val z = x.join(mom, "event_type").join(wl, "event_type")
      .select(col("event_type"), col("t"), col("x"),
        explode(expr("sequence(t, least(span - 1, t + wlag))")).as("t2"))
      .groupBy(col("event_type"), col("t2").as("t"))
      .agg(sum(expr(
        """CAST(CAST(0.2 AS DOUBLE)
          |  * CAST(pow(0.8, t2 - t) AS FLOAT)
          |  * CAST(x AS DOUBLE) AS DECIMAL(18,9))""".stripMargin)).as("sd"))
    val mu = expr("CAST(s AS DOUBLE) / CAST(span AS DOUBLE)")
    val hw = expr(
      """sqrt(CAST(span * q - s * s AS DOUBLE)
        |    / nullif(CAST(span * (span - 1) AS DOUBLE), CAST(0 AS DOUBLE)))
        |  * sqrt((CAST(0.2 AS DOUBLE) / CAST(1.8 AS DOUBLE))
        |    * (CAST(1.0 AS DOUBLE) - CAST(pow(0.64, t + 1) AS FLOAT)))"""
        .stripMargin)
    z.join(x, Seq("event_type", "t"))
      .join(mom, "event_type")
      .select(col("event_type"),
        expr("timestamp_micros((m0 + t) * 3600000000)").as("hour"),
        col("x").cast("long").as("n"),
        round(expr(
          """CAST(sd AS DOUBLE) + CAST(pow(0.8, t + 1) AS FLOAT)
            |  * (CAST(s AS DOUBLE) / CAST(span AS DOUBLE))""".stripMargin),
          6).as("ewma"),
        round(mu + lit(3) * hw, 6).as("ucl"),
        round(mu - lit(3) * hw, 6).as("lcl"),
        {
          // §5.7 nullable-boolean rule (r16): string verdict — a single-
          // hour series NULLs hw, so the band test must not stay boolean
          val oob = expr(
            """CAST(sd AS DOUBLE) + CAST(pow(0.8, t + 1) AS FLOAT)
              |  * (CAST(s AS DOUBLE) / CAST(span AS DOUBLE))""".stripMargin)
            .gt(mu + lit(3) * hw)
            .or(expr(
              """CAST(sd AS DOUBLE) + CAST(pow(0.8, t + 1) AS FLOAT)
                |  * (CAST(s AS DOUBLE) / CAST(span AS DOUBLE))"""
                .stripMargin).lt(mu - lit(3) * hw))
          when(oob === true, lit("oob"))
            .when(oob === false, lit("in_control")).as("out_of_control")
        })
      .orderBy(col("event_type"), col("hour"))
  }

  /** BURST WINDOW DETECTION — the incident-mining operator (a
    * Kleinberg-burst lite): per event type, find the maximal runs of
    * consecutive HOURS whose event count is ≥ 3× the type's span
    * baseline (total events / span hours, empty hours included), and
    * report each burst's extent, event mass, and peak hour. Hours, not
    * minutes, are the right granularity for this fixture's density: at
    * ~0.03 events/minute the minute baseline makes EVERY active minute a
    * 3× "burst" (9,788 of 9,788 flagged — a threshold that selects
    * everything measures nothing), while the hourly baseline flags 4 of
    * 3,385 active hours; a denser deployment would re-dial the unit. This is the
    * alerting triple's third leg — q76 flags pointwise anomalies, q152
    * finds silence, this finds sustained elevation — and feeds incident
    * post-mortems ("how long were we hot, how hot, starting when").
    *
    * Exactness: the burst predicate is the pure-integer cross-multiply
    * cnt·span ≥ 3·total (no float rate), and island ids come from the
    * classic integer device hour − row_number() over flagged hours —
    * consecutive flagged hours share an id, any gap breaks it. All
    * counting; timestamps reported as exact hour-floor µs.
    *
    * Plan: one (type, hour) aggregate (map-side combined), a 1-row-per-
    * type baseline joined back (broadcast-sized), one type-partitioned
    * window over FLAGGED hour runs only, one island aggregate. Nothing
    * user- or event-proportional past the first aggregate.
    */
  val q178BurstWindows = Q(
    "q178_burst_windows",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events WHERE ts IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |base AS (
      |  SELECT event_type, sum(cnt) AS total,
      |    max(m) - min(m) + 1 AS span
      |  FROM mc GROUP BY event_type
      |),
      |fl AS (
      |  SELECT mc.event_type, mc.m, mc.cnt
      |  FROM mc JOIN base ON mc.event_type = base.event_type
      |  WHERE mc.cnt * base.span >= 3 * base.total
      |),
      |isl AS (
      |  SELECT event_type, m, cnt,
      |    m - row_number() OVER (PARTITION BY event_type ORDER BY m)
      |      AS island
      |  FROM fl
      |)
      |SELECT event_type,
      |  make_timestamp(min(m) * 3600000000) AS burst_start,
      |  make_timestamp((max(m) + 1) * 3600000000) AS burst_end,
      |  count(*) AS n_hours,
      |  CAST(sum(cnt) AS BIGINT) AS n_events,
      |  CAST(max(cnt) AS BIGINT) AS peak_hour_events
      |FROM isl
      |GROUP BY event_type, island
      |ORDER BY event_type NULLS FIRST, burst_start NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val base = mc.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("total"),
        (max(col("m")) - min(col("m")) + 1).as("span"))
    val fl = mc.join(base, "event_type")
      .filter(col("cnt") * col("span") >= lit(3) * col("total"))
    val isl = fl.select(col("event_type"), col("m"), col("cnt"),
      (col("m") - row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("m"))))
        .as("island"))
    isl.groupBy(col("event_type"), col("island"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"),
        count(lit(1)).as("n_hours"),
        sum(col("cnt")).cast("long").as("n_events"),
        max(col("cnt")).cast("long").as("peak_hour_events"))
      .select(col("event_type"),
        expr("timestamp_micros(m0 * 3600000000)").as("burst_start"),
        expr("timestamp_micros((m1 + 1) * 3600000000)").as("burst_end"),
        col("n_hours"), col("n_events"), col("peak_hour_events"))
      .orderBy(col("event_type"), col("burst_start"))
  }

  /** BEHAVIORAL DIVERSITY SCORING — per-user Shannon entropy of the
    * event-type distribution, the bot/automation tell: scripted accounts
    * hammer one endpoint (entropy → 0) while organic users mix types
    * (entropy → ln k). The q87 token-entropy machinery pointed at
    * behavioral data: H = ln n − (Σ k·ln k)/n over exact integer counts,
    * each ln float-cast (kills libm ulp wobble), the weighted sum a
    * fixed-scale DECIMAL (associative — partial-merge order can't change
    * bits), the close fixed-order doubles. `concentrated` flags
    * single-type-dominated users via the pure-integer 2·max_k > n
    * majority test — no float threshold.
    *
    * Plan: one (user, type) aggregate, one user aggregate. Bounded by
    * users × |types|; nothing else.
    */
  val q179BehaviorEntropy = Q(
    "q179_behavior_entropy",
    """WITH ut AS (
      |  SELECT user_id, event_type, count(*) AS k
      |  FROM events WHERE user_id IS NOT NULL
      |  GROUP BY user_id, event_type
      |)
      |SELECT user_id, CAST(sum(k) AS BIGINT) AS n_events,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  -- + 0.0 AFTER the round: a single-type user's -eps rounds to
      |  -- -0.0 in DuckDB (round keeps the sign) vs 0.0 in Spark — the
      |  -- q150 sign-of-zero rule, hit live by the r17 skew axis; the
      |  -- normalization must land on the ROUNDED value, a pre-round
      |  -- + 0.0 leaves -eps negative
      |  round(CAST(CAST(ln(CAST(sum(k) AS DOUBLE)) AS FLOAT) AS DOUBLE)
      |    - CAST(sum(CAST(CAST(k AS DOUBLE) *
      |        CAST(ln(CAST(k AS DOUBLE)) AS FLOAT) AS DECIMAL(18,9)))
      |      AS DOUBLE) / CAST(sum(k) AS BIGINT), 6) + 0.0 AS entropy,
      |  2 * max(k) > sum(k) AS concentrated
      |FROM ut
      |GROUP BY user_id
      |ORDER BY user_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("user_id"))
      .agg(sum(col("k")).cast("long").as("n_events"),
        count(lit(1)).cast("long").as("n_types"),
        sum(expr("""CAST(CAST(k AS DOUBLE) *
          CAST(ln(CAST(k AS DOUBLE)) AS FLOAT) AS DECIMAL(18,9))"""))
          .cast("double").as("sd"),
        max(col("k")).as("mk"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        // + 0.0 AFTER the round kills the -0.0 a single-type user's
        // -eps rounds to (the q150 sign-of-zero rule, hit live by the
        // r17 skew axis; pre-round + 0.0 leaves -eps negative)
        (round(expr("CAST(CAST(ln(CAST(n_events AS DOUBLE)) AS FLOAT) AS DOUBLE)")
          - col("sd") / col("n_events"), 6) + lit(0.0)).as("entropy"),
        (lit(2) * col("mk") > col("n_events")).as("concentrated"))
      .orderBy(col("user_id"))
  }

  /** CUSUM CHANGE-POINT SUMMARY — where did each stream drift hardest
    * above its own baseline? The classic CUSUM recurrence
    * S_k = max(0, S_{k−1} + (x_k − μ)) is not a window function, but its
    * closed form IS: S_k = P_k − min(0, min_{j<k} P_j) with P the prefix
    * sum of deviations — two windows, no recursion. Deviations are kept
    * EXACTLY integer by scaling through the span: d_k = span·x_k − total
    * (μ = total/span never materializes as a float), so every S_k is an
    * exact int64 in span·events units. Per type the summary reports the
    * PEAK accumulated excess (converted back to event units via ratio6),
    * the hour it peaked (earliest on ties — the change-point location
    * estimate), and how many hours sat at zero pressure. Alarm-row output
    * was measured and rejected: this fixture's intraday seasonality keeps
    * CUSUM above any fixed line for hundreds of hours (524/720 at
    * sf0.01) — a detector that flags everything detects nothing; the
    * peak summary is the honest statistic at this density, and a
    * deployment would CUSUM the seasonally-adjusted residual instead.
    *
    * The hour axis is DENSE (sequence over [min, max] — empty hours push
    * S down exactly as the recurrence demands); dense-by-TIME is
    * scale-safe where dense-by-data is not: ten years is 87,600 hours
    * per type regardless of corpus size.
    *
    * Plan: one (type, hour) aggregate, a span-bounded per-type sequence
    * explode left-joined to the counts, two type-partitioned windows over
    * span-sized input, one 5-row finish.
    */
  val q180CusumPeak = Q(
    "q180_cusum_peak",
    s"""WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events WHERE ts IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |base AS (
      |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS total,
      |    max(m) - min(m) + 1 AS span, min(m) AS m0, max(m) AS m1
      |  FROM mc GROUP BY event_type
      |),
      |hours AS (
      |  SELECT b.event_type, unnest(range(b.m0, b.m1 + 1)) AS m,
      |    b.total, b.span
      |  FROM base b
      |),
      |dense AS (
      |  SELECT h.event_type, h.m, coalesce(mc.cnt, 0) AS cnt,
      |    h.total, h.span
      |  FROM hours h LEFT JOIN mc
      |    ON mc.event_type = h.event_type AND mc.m = h.m
      |),
      |p AS (
      |  SELECT event_type, m, total, span,
      |    sum(span * cnt - total) OVER (PARTITION BY event_type
      |      ORDER BY m) AS pk
      |  FROM dense
      |),
      |s AS (
      |  SELECT event_type, m, total, span, pk,
      |    pk - least(min(pk) OVER (PARTITION BY event_type
      |      ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |      0) AS cusum
      |  FROM p
      |)
      |SELECT event_type, CAST(max(total) AS BIGINT) AS total,
      |  CAST(max(span) AS BIGINT) AS span_hours,
      |  ${graft.functions.Exact.Sql.ratio6("max(cusum)", "max(span)")}
      |    AS peak_excess_events,
      |  make_timestamp(min(CASE WHEN cusum = mx THEN m END) * 3600000000)
      |    AS peak_hour,
      |  CAST(count(*) FILTER (WHERE cusum = 0) AS BIGINT) AS zero_hours
      |FROM (SELECT *, max(cusum) OVER (PARTITION BY event_type) AS mx
      |      FROM s) t
      |GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val base = mc.groupBy(col("event_type"))
      .agg(sum(col("cnt")).cast("long").as("total"),
        (max(col("m")) - min(col("m")) + 1).as("span"),
        min(col("m")).as("m0"), max(col("m")).as("m1"))
    val dense = base
      .select(col("event_type"), col("total"), col("span"),
        explode(sequence(col("m0"), col("m1"))).as("m"))
      .join(mc, Seq("event_type", "m"), "left")
      .select(col("event_type"), col("m"), col("total"), col("span"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("m"))
    val p = dense.withColumn("pk",
      sum(col("span") * col("cnt") - col("total"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    // the running min INCLUDES the current row (P_0 = 0 handled by the
    // least(·, 0)): S_k = P_k − min(0, min_{j≤k} P_j). Excluding the
    // current row let S dip negative on new-minimum hours and broke the
    // zero-pressure count (caught by the recurrence-replay net).
    val sS = p.withColumn("cusum",
      col("pk") - least(min(col("pk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)), lit(0L)))
    sS.withColumn("mx",
        max(col("cusum")).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("total")).cast("long").as("total"),
        max(col("span")).cast("long").as("span_hours"),
        graft.functions.Exact.ratio6("max(cusum)", "max(span)")
          .as("peak_excess_events"),
        expr("timestamp_micros(min(CASE WHEN cusum = mx THEN m END)" +
          " * 3600000000)").as("peak_hour"),
        count(when(col("cusum") === 0, lit(1))).cast("long")
          .as("zero_hours"))
      .orderBy(col("event_type"))
  }

  /** LINEAR MULTI-TOUCH ATTRIBUTION — q149's last-touch rule gives the
    * final click everything; the linear model splits each conversion's
    * revenue EQUALLY across every view/click the user made in the 7-day
    * window before purchasing, the other standard answer marketing
    * analytics ships (and the fairer one for upper-funnel channels).
    * Touchless conversions credit 'none' in full, so per-channel credited
    * revenue still partitions total purchase revenue (up to the
    * documented per-touch rounding).
    *
    * Exactness: each (conversion, touch) credit is the ratio6-style
    * integer micro-dollar (2·cents·10⁴ + n) div (2n) — deterministic
    * half-up division both engines share — and the per-channel sums are
    * pure int64 (≤ 10¹³ at sf0.1×100). Splitting THEN rounding drifts
    * each conversion by ≤ n/2 micro-dollars versus its exact revenue —
    * the price of additive integer credits, stated rather than hidden.
    *
    * PRECONDITION: value ≥ 0 (like Exact.ratio6). The half-up split
    * (2·cents·10⁴ + n) div (2n) diverges cross-engine on negative cents:
    * Spark's div truncates toward zero, DuckDB's // floors. A fixture
    * with refunds must negate-split-negate (or route refunds through a
    * separate non-split lane) rather than feed negative cents here.
    *
    * Plan: purchases LEFT-join prior same-user touches under the 7-day
    * range predicate — a user-keyed equi join whose fan-out is per-user
    * activity (at 100 TB the range side shards by the q107 time-binned
    * interval-join discipline); one conversion-keyed count window on the
    * join output; one channel rollup.
    */
  val q186LinearAttribution = Q(
    "q186_linear_attribution",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(round(100 * value) AS BIGINT) AS cents,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type IN ('view', 'click', 'purchase')
      |),
      |p AS (SELECT user_id, event_id, cents, us FROM e
      |      WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, event_id, event_type, us FROM e
      |      WHERE event_type IN ('view', 'click')),
      |j AS (
      |  SELECT p.event_id AS conv_id, p.cents, t.event_type AS channel
      |  FROM p LEFT JOIN t ON p.user_id = t.user_id
      |    AND t.us <= p.us AND p.us - t.us <= 7 * 86400000000
      |),
      |c AS (
      |  SELECT conv_id, cents,
      |    coalesce(channel, 'none') AS channel,
      |    count(channel) OVER (PARTITION BY conv_id) AS n
      |  FROM j
      |),
      |credit AS (
      |  SELECT channel, conv_id,
      |    CASE WHEN n = 0 THEN cents * 10000
      |      ELSE (2 * cents * 10000 + n) // (2 * n) END AS micro
      |  FROM c
      |)
      |SELECT channel,
      |  CAST(count(*) AS BIGINT) AS n_touchpoints,
      |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
      |  CAST(sum(micro) AS BIGINT) AS revenue_micro,
      |  round(CAST(sum(micro) AS DOUBLE) / 1000000.0, 6) AS revenue
      |FROM credit
      |GROUP BY channel
      |ORDER BY channel NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"),
        expr("unix_micros(ts)").as("us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("cents"), col("us").as("pus"))
    val t = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_type").as("channel"),
        col("us").as("tus"))
    val j = p.join(t,
        p("user_id") === t("user_id")
          && col("tus") <= col("pus")
          && col("pus") - col("tus") <= 7L * 86400000000L, "left")
      .select(col("conv_id"), col("cents"), col("channel"))
    val c = j.select(col("conv_id"), col("cents"),
      coalesce(col("channel"), lit("none")).as("channel"),
      count(col("channel")).over(
        Window.partitionBy(col("conv_id"))).as("n"))
    c.select(col("channel"), col("conv_id"),
        when(col("n") === 0, col("cents") * 10000L)
          .otherwise(expr("(2 * cents * 10000 + n) div (2 * n)"))
          .as("micro"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).cast("long").as("n_touchpoints"),
        countDistinct(col("conv_id")).cast("long").as("n_conversions"),
        sum(col("micro")).cast("long").as("revenue_micro"),
        round(sum(col("micro")).cast("double") / 1000000.0, 6)
          .as("revenue"))
      .orderBy(col("channel"))
  }

  /** U-SHAPED (POSITION-BASED) ATTRIBUTION — the third member of the
    * attribution family (q149 last-touch, q186 linear): 40% of each
    * conversion's value to the FIRST touch, 40% to the LAST, the middle
    * 20% split across interior touches. Journey definition is q186's
    * verbatim (view/click within 7 days before each purchase; no touches
    * → 'none').
    *
    * The whole rule is INTEGER micro-credit arithmetic — the house
    * fixed-point idiom (q113): with T = cents·10⁴ micro-units,
    * first = last = (2T) div 5, each interior touch gets the floor share
    * of the remainder and the EARLIEST interior touch absorbs the
    * division remainder; n = 1 takes T, n = 2 splits ceil/floor. Credit
    * thus conserves T exactly per conversion — an invariant the suite
    * asserts, and one floats could not state. Touch order is total
    * ((us, event_id) — event ids are unique), so "first/last/earliest
    * interior" are engine-independent. Refund purchases (cents < 0) are
    * excluded BY DEFINITION (div/% need non-negative operands for
    * cross-engine floor agreement, SURVEY §5.7's div row).
    *
    * Plan: q186's join shape — purchases × 7-day touch band on the
    * user key — plus one per-conversion window pair; aggregates are
    * map-side combined on the bounded channel key.
    */
  val q201PositionAttribution = Q(
    "q201_position_attribution",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(round(100 * value) AS BIGINT) AS cents,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type IN ('view', 'click', 'purchase')
      |),
      |p AS (SELECT user_id, event_id AS conv_id, cents, us FROM e
      |      WHERE event_type = 'purchase' AND cents >= 0),
      |t AS (SELECT user_id, event_id, event_type, us FROM e
      |      WHERE event_type IN ('view', 'click')),
      |j AS (
      |  SELECT p.conv_id, p.cents, t.event_type AS raw_channel,
      |    t.us, t.event_id
      |  FROM p LEFT JOIN t ON p.user_id = t.user_id
      |    AND t.us <= p.us AND p.us - t.us <= 7 * 86400000000
      |),
      |r AS (
      |  SELECT conv_id, cents, coalesce(raw_channel, 'none') AS channel,
      |    row_number() OVER (PARTITION BY conv_id
      |      ORDER BY us NULLS FIRST, event_id NULLS FIRST) AS pos,
      |    count(raw_channel) OVER (PARTITION BY conv_id) AS n
      |  FROM j
      |),
      |credit AS (
      |  SELECT channel, conv_id,
      |    CASE
      |      WHEN n <= 1 THEN cents * 10000
      |      WHEN n = 2 AND pos = 1 THEN (cents * 10000 + 1) // 2
      |      WHEN n = 2 THEN (cents * 10000) // 2
      |      WHEN pos = 1 OR pos = n THEN (2 * cents * 10000) // 5
      |      ELSE (cents * 10000 - 2 * ((2 * cents * 10000) // 5)) // (n - 2)
      |        + CASE WHEN pos = 2 THEN
      |            (cents * 10000 - 2 * ((2 * cents * 10000) // 5)) % (n - 2)
      |          ELSE 0 END
      |    END AS micro
      |  FROM r
      |)
      |SELECT channel,
      |  CAST(count(*) AS BIGINT) AS n_touchpoints,
      |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
      |  CAST(sum(micro) AS BIGINT) AS revenue_micro,
      |  round(CAST(sum(micro) AS DOUBLE) / 1000000.0, 6) AS revenue
      |FROM credit
      |GROUP BY channel
      |ORDER BY channel NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"),
        expr("unix_micros(ts)").as("us"))
    val p = e.filter(col("event_type") === "purchase" && col("cents") >= 0)
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("cents"), col("us").as("pus"))
    val t = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("t_eid"),
        col("event_type").as("channel"), col("us").as("tus"))
    val j = p.join(t,
        p("user_id") === t("user_id")
          && col("tus") <= col("pus")
          && col("pus") - col("tus") <= 7L * 86400000000L, "left")
      .select(col("conv_id"), col("cents"), col("channel"),
        col("tus"), col("t_eid"))
    val wConv = Window.partitionBy(col("conv_id"))
    val r = j.select(col("conv_id"), col("cents"),
      coalesce(col("channel"), lit("none")).as("channel"),
      row_number().over(wConv.orderBy(col("tus").asc_nulls_first,
        col("t_eid").asc_nulls_first)).as("pos"),
      count(col("channel")).over(wConv).as("n"))
    r.select(col("channel"), col("conv_id"), expr(
        """CASE
          |  WHEN n <= 1 THEN cents * 10000
          |  WHEN n = 2 AND pos = 1 THEN (cents * 10000 + 1) div 2
          |  WHEN n = 2 THEN (cents * 10000) div 2
          |  WHEN pos = 1 OR pos = n THEN (2 * cents * 10000) div 5
          |  ELSE (cents * 10000 - 2 * ((2 * cents * 10000) div 5))
          |      div (n - 2)
          |    + CASE WHEN pos = 2 THEN
          |        (cents * 10000 - 2 * ((2 * cents * 10000) div 5))
          |          % (n - 2)
          |      ELSE 0 END
          |END""".stripMargin).as("micro"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).cast("long").as("n_touchpoints"),
        countDistinct(col("conv_id")).cast("long").as("n_conversions"),
        sum(col("micro")).cast("long").as("revenue_micro"),
        round(sum(col("micro")).cast("double") / 1000000.0, 6)
          .as("revenue"))
      .orderBy(col("channel"))
  }

  /** BROWN DOUBLE-EXPONENTIAL TREND — the second-order member of the
    * EWMA family: q193 smooths the level, Brown's linear method smooths
    * the SMOOTH (s2 = EWMA(s1)) and reads level a = 2s1 − s2 and trend
    * b = (α/(1−α))(s1 − s2) out of the pair, yielding the one-step
    * forecast a + b — trend tracking with exactly q193's state size.
    *
    * The closed form composes q193's device: substituting the s1 closed
    * form into s2's recursion gives
    *   s2_t = α²·Σ_k (t−k+1)(1−α)^{t−k} x_k
    *        + α·μ·(t+1)(1−α)^{t+1} + (1−α)^{t+1}·μ
    * (both smoothers seeded at the series mean μ, q193's convention) —
    * so ONE contribution explode carries both sums: per (k, t) row the
    * s1 weight α(1−α)^d and the s2 weight α²(d+1)(1−α)^d, d = t−k, each
    * float-cast-pow'd, decimal-summed, finished by fixed-order boundary
    * terms. The relational recursion discipline, order 2.
    *
    * PRECONDITION ts ≥ 1970-01-01 (raw epoch-µs hour buckets, SURVEY
    * §5.7). Plan: identical to q193 — one map-side-combined aggregate
    * over a W-TRUNCATED contribution explode (span·(wlag+1) rows per
    * type, linear in span; see [[brownTrendPlan]] for the cast-quantum
    * losslessness proof and the measured full-vs-truncated crossover);
    * nothing sequential, nothing driver-side.
    */
  val q203BrownTrend = Q(
    "q203_brown_trend",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.m0, g.t, COALESCE(mc.cnt, 0) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS span,
      |    CAST(sum(x) AS BIGINT) AS s
      |  FROM x GROUP BY 1
      |),
      |contrib AS (
      |  SELECT x.event_type,
      |    unnest(range(x.t, m.span)) AS t2, x.t, x.x
      |  FROM x JOIN mom m USING (event_type)
      |),
      |z AS (
      |  SELECT event_type, t2 AS t,
      |    sum(CAST(CAST(0.2 AS DOUBLE)
      |      * CAST(pow(0.8, t2 - t) AS FLOAT)
      |      * CAST(x AS DOUBLE) AS DECIMAL(18,9))) AS sd1,
      |    sum(CAST(CAST(0.04 AS DOUBLE)
      |      * CAST(t2 - t + 1 AS DOUBLE)
      |      * CAST(pow(0.8, t2 - t) AS FLOAT)
      |      * CAST(x AS DOUBLE) AS DECIMAL(18,9))) AS sd2
      |  FROM contrib GROUP BY 1, 2
      |),
      |fin AS (
      |  SELECT z.event_type, z.t, x.m0, x.x,
      |    CAST(z.sd1 AS DOUBLE) + CAST(pow(0.8, z.t + 1) AS FLOAT)
      |      * (CAST(m.s AS DOUBLE) / CAST(m.span AS DOUBLE)) AS s1,
      |    CAST(z.sd2 AS DOUBLE)
      |      + CAST(0.2 AS DOUBLE)
      |        * (CAST(m.s AS DOUBLE) / CAST(m.span AS DOUBLE))
      |        * CAST(z.t + 1 AS DOUBLE)
      |        * CAST(pow(0.8, z.t + 1) AS FLOAT)
      |      + CAST(pow(0.8, z.t + 1) AS FLOAT)
      |        * (CAST(m.s AS DOUBLE) / CAST(m.span AS DOUBLE)) AS s2
      |  FROM z JOIN x ON z.event_type = x.event_type AND z.t = x.t
      |  JOIN mom m ON m.event_type = z.event_type
      |)
      |SELECT event_type,
      |  make_timestamp((m0 + t) * 3600000000) AS hour,
      |  CAST(x AS BIGINT) AS n,
      |  round(s1, 6) AS s1,
      |  round(s2, 6) AS s2,
      |  round(2 * s1 - s2, 6) AS level,
      |  round(0.25 * (s1 - s2), 6) AS trend,
      |  round((2 * s1 - s2) + 0.25 * (s1 - s2), 6) AS forecast_next
      |FROM fin
      |ORDER BY event_type, hour""".stripMargin,
  ) { (s, d) => brownTrendPlan(Tables.events(s, d), truncate = true) }

  /** Spark-side builder for q203, parameterized on the W-truncation
    * exactly as [[ewmaChartPlan]] (read its proof — the same cast-
    * quantum argument, applied to BOTH weight families here). The
    * truncation lag keeps lag d while EITHER per-term worst case —
    * s1's `0.2·powf(0.8,d)·xmax` or s2's `0.04·(d+1)·powf(0.8,d)·xmax`
    * — still casts to a nonzero DECIMAL(18,9); past wlag both cast to
    * exactly zero for every x ≤ xmax (each term is linear in x at
    * fixed d), so the truncated decimal sums are bit-identical to the
    * full ones and the UNTRUNCATED DuckDB oracle keeps hash-matching.
    * s2's (d+1) factor makes its weight the binding one (decreasing
    * from d = 3 on; the max over the probe grid needs no monotonicity
    * anyway), so wlag here runs ~15 lags past q193's (120 vs 105–106
    * on the sf0.1 fixture). Measured in r13 (SCALE_r13.md, same
    * protocol as q193's numbers): 720 h full 4.86 s vs truncated
    * 1.83 s (2.7×); genspan ×6 = 4320 h full 56.57 s vs truncated
    * 8.37 s (**6.8×**) — span²/span thereafter.
    */
  private[graft] def brownTrendPlan(
      ev: org.apache.spark.sql.DataFrame,
      truncate: Boolean): org.apache.spark.sql.DataFrame = {
    val mc = ev
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type")
          && mc("m") === col("m0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("m0"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("x"))
      .transform(graft.operators.Iter.pin) // 3 consumers: moments, contributions, finish
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("span"),
        sum(col("x")).cast("long").as("s"),
        max(col("x")).cast("long").as("xmax"))
    val wl =
      if (truncate)
        mom.select(col("event_type"),
            explode(expr("sequence(0L, 600L)")).as("d"), col("xmax"))
          .filter(expr(
            """CAST(CAST(0.2 AS DOUBLE)
              |  * CAST(pow(0.8, d) AS FLOAT)
              |  * CAST(xmax AS DOUBLE) AS DECIMAL(18,9))
              |<> CAST(0 AS DECIMAL(18,9))
              |OR CAST(CAST(0.04 AS DOUBLE)
              |  * CAST(d + 1 AS DOUBLE)
              |  * CAST(pow(0.8, d) AS FLOAT)
              |  * CAST(xmax AS DOUBLE) AS DECIMAL(18,9))
              |<> CAST(0 AS DECIMAL(18,9))""".stripMargin))
          .groupBy(col("event_type")).agg(max(col("d")).as("wlag"))
      else mom.select(col("event_type"), col("span").as("wlag"))
    val z = x.join(mom, "event_type").join(wl, "event_type")
      .select(col("event_type"), col("t"), col("x"),
        explode(expr("sequence(t, least(span - 1, t + wlag))")).as("t2"))
      .groupBy(col("event_type"), col("t2").as("t"))
      .agg(
        sum(expr("""CAST(CAST(0.2 AS DOUBLE)
          |  * CAST(pow(0.8, t2 - t) AS FLOAT)
          |  * CAST(x AS DOUBLE) AS DECIMAL(18,9))""".stripMargin))
          .as("sd1"),
        sum(expr("""CAST(CAST(0.04 AS DOUBLE)
          |  * CAST(t2 - t + 1 AS DOUBLE)
          |  * CAST(pow(0.8, t2 - t) AS FLOAT)
          |  * CAST(x AS DOUBLE) AS DECIMAL(18,9))""".stripMargin))
          .as("sd2"))
    val fin = z.join(x, Seq("event_type", "t"))
      .join(mom, "event_type")
      .select(col("event_type"), col("t"), col("m0"), col("x"),
        expr("""CAST(sd1 AS DOUBLE) + CAST(pow(0.8, t + 1) AS FLOAT)
          |  * (CAST(s AS DOUBLE) / CAST(span AS DOUBLE))""".stripMargin)
          .as("s1"),
        expr("""CAST(sd2 AS DOUBLE)
          |  + CAST(0.2 AS DOUBLE)
          |    * (CAST(s AS DOUBLE) / CAST(span AS DOUBLE))
          |    * CAST(t + 1 AS DOUBLE)
          |    * CAST(pow(0.8, t + 1) AS FLOAT)
          |  + CAST(pow(0.8, t + 1) AS FLOAT)
          |    * (CAST(s AS DOUBLE) / CAST(span AS DOUBLE))""".stripMargin)
          .as("s2"))
    fin.select(col("event_type"),
        expr("timestamp_micros((m0 + t) * 3600000000)").as("hour"),
        col("x").cast("long").as("n"),
        round(col("s1"), 6).as("s1"),
        round(col("s2"), 6).as("s2"),
        round(expr("2 * s1 - s2"), 6).as("level"),
        round(expr("0.25 * (s1 - s2)"), 6).as("trend"),
        round(expr("(2 * s1 - s2) + 0.25 * (s1 - s2)"), 6)
          .as("forecast_next"))
      .orderBy(col("event_type"), col("hour"))
  }
  /** OHLC BARS — the time-bucket summary every monitoring/market surface
    * draws: per (event_type, day), the OPEN (first value in timestamp
    * order), HIGH, LOW, CLOSE (last value) and volume of `value`. The
    * open/close are ORDER statistics, not aggregates — the operator's
    * whole point is a total order inside each bucket.
    *
    * Exactness: values are cents-scaled int64 end to end (min/max/sum and
    * the first/last selections are all integer); the intra-bucket order
    * is (µs, event_id) — event ids are unique, so first/last are
    * engine-independent (the q201 total-order discipline). Open/close
    * are selected with the portable row_number-and-CASE device rather
    * than engine-specific arg_min/min_by, whose NULL and tie semantics
    * differ across engines.
    *
    * PRECONDITION ts ≥ 1970-01-01 (raw epoch-µs day buckets, SURVEY
    * §5.7). Plan: two row_number windows over the same (type, day)
    * partition — one sort, Spark computes both in a single Window node —
    * then one map-side-combined aggregate; partitions are day-bounded, so
    * at 100 TB each sort is a few thousand rows and the shuffle key
    * (type, day) is perfectly balanced across a month.
    */
  val q211OhlcBars = Q(
    "q211_ohlc_bars",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    event_id,
      |    CAST(round(100 * value) AS BIGINT) AS cents
      |  FROM events
      |  WHERE ts IS NOT NULL AND value IS NOT NULL
      |    AND event_type IS NOT NULL
      |),
      |r AS (
      |  SELECT event_type, day, cents,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY us, event_id) AS ra,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY us DESC, event_id DESC) AS rd
      |  FROM e
      |)
      |SELECT event_type, CAST(day AS BIGINT) AS day,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(max(CASE WHEN ra = 1 THEN cents END) AS BIGINT) AS open_cents,
      |  CAST(max(cents) AS BIGINT) AS high_cents,
      |  CAST(min(cents) AS BIGINT) AS low_cents,
      |  CAST(max(CASE WHEN rd = 1 THEN cents END) AS BIGINT)
      |    AS close_cents,
      |  CAST(sum(cents) AS BIGINT) AS volume_cents
      |FROM r GROUP BY 1, 2
      |ORDER BY event_type, day""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("unix_micros(ts)").as("us"),
        col("event_id"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"))
    val wAsc = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("us").asc, col("event_id").asc)
    val wDesc = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("us").desc, col("event_id").desc)
    e.select(col("event_type"), col("day"), col("cents"),
        row_number().over(wAsc).as("ra"),
        row_number().over(wDesc).as("rd"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        max(when(col("ra") === 1, col("cents"))).cast("long")
          .as("open_cents"),
        max(col("cents")).cast("long").as("high_cents"),
        min(col("cents")).cast("long").as("low_cents"),
        max(when(col("rd") === 1, col("cents"))).cast("long")
          .as("close_cents"),
        sum(col("cents")).cast("long").as("volume_cents"))
      .select(col("event_type"), col("day").cast("long").as("day"),
        col("n_events"), col("open_cents"), col("high_cents"),
        col("low_cents"), col("close_cents"), col("volume_cents"))
      .orderBy(col("event_type"), col("day"))
  }
  /** DAU/WAU STICKINESS — the engagement-ratio dashboard row: per
    * calendar day over the dense day grid, the count of distinct active
    * users that day (DAU), in the trailing 7-day window (WAU), and the
    * stickiness ratio DAU/WAU — the fraction of the weekly audience that
    * showed up today. The dense grid keeps silent days as DAU = 0 rows
    * (with their true trailing WAU) instead of dropping them.
    *
    * Exactness: pure distinct counting over exact integer day buckets;
    * the ratio goes through ratio6's integer half-up rounding; a window
    * with zero weekly actives yields NULL stickiness via nullif.
    *
    * PRECONDITION ts ≥ 1970-01-01 (§5.7 div row). Plan: raw events
    * collapse to the (user, day) distinct pairs FIRST (map-side
    * combined — at 100 TB this is the only row-proportional shuffle),
    * then a bounded ×7 band join against the calendar grid and a
    * two-stage distinct count per grid day. The band join's expansion
    * factor is the window length, a constant — never data-proportional;
    * WAU state is (users × 7 days), the bounded sliding-distinct form.
    */
  val q214Stickiness = Q(
    "q214_stickiness",
    """WITH du AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM du),
      |grid AS (SELECT b.d0 + unnest(range(0, b.d1 - b.d0 + 1)) AS day
      |         FROM b),
      |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du
      |        GROUP BY 1),
      |wau AS (
      |  SELECT g.day, CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
      |  FROM grid g JOIN du
      |    ON du.day BETWEEN g.day - 6 AND g.day
      |  GROUP BY g.day
      |)
      |SELECT g.day AS day,
      |  COALESCE(dau.dau, 0) AS dau,
      |  COALESCE(wau.wau, 0) AS wau,
      |  CASE WHEN COALESCE(wau.wau, 0) > 0 THEN
      |    CAST(((2 * COALESCE(dau.dau, 0) * 1000000 + wau.wau)
      |      // (2 * wau.wau)) AS DOUBLE) / 1000000.0
      |  ELSE NULL END AS stickiness
      |FROM grid g
      |LEFT JOIN dau ON dau.day = g.day
      |LEFT JOIN wau ON wau.day = g.day
      |ORDER BY day""".stripMargin,
  ) { (s, d) =>
    val du = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .transform(graft.operators.Iter.pin) // 3 consumers: bounds, dau, the 7-day band join
    val b = du.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = b.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val dau = du.groupBy(col("day")).agg(count(lit(1)).cast("long").as("dau"))
      .select(col("day").as("dau_day"), col("dau"))
    val wau = grid.select(col("day").as("g_day"))
      .join(du, du("day").between(col("g_day") - 6, col("g_day")))
      .groupBy(col("g_day"))
      .agg(countDistinct(col("user_id")).cast("long").as("wau"))
    grid.join(dau, col("day") === col("dau_day"), "left")
      .join(wau, col("day") === col("g_day"), "left")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"))
      .select(col("day"), col("dau"), col("wau"),
        when(col("wau") > 0,
          expr("""CAST(((2 * dau * 1000000 + wau) div (2 * wau))
            |  AS DOUBLE) / 1000000.0""".stripMargin))
          .otherwise(lit(null)).as("stickiness"))
      .orderBy(col("day"))
  }
  /** PAGE–HINKLEY CHANGE DETECTION — the fourth SPC leg (q76 pointwise,
    * q180 CUSUM-to-peak, q193 EWMA band, this): the classic sequential
    * mean-shift detector over the dense hourly count series. PH tracks
    * m_t = Σ_{s≤t}(x_s − x̄_s) — deviations from the RUNNING mean, not a
    * fixed baseline — and alarms when m_t − min_{s≤t} m_s exceeds λ = 3σ
    * (σ from the series' exact global moments): an upward mean shift
    * makes m climb away from its historical floor.
    *
    * Exactness: the running mean x̄_s = S_s/(s+1) is one double divide of
    * exact int64 cumulative sums; each deviation term is one fixed-order
    * double subtract cast to DECIMAL(18,9); m_t is the ASSOCIATIVE
    * decimal window cumsum and its running min compares decimals
    * exactly — the whole sequential recursion replays bit-identically
    * (the q193 discipline, but through cumulative windows instead of a
    * closed-form explode: PH's state is already a prefix sum, no
    * explode needed — LINEAR, not quadratic). Output rounding happens ON
    * THE DECIMAL (round(dec, 6) is HALF_UP in both engines) before the
    * double cast — rounding the cast double instead hit the §5.7
    * half-1e-6 tie divergence on this very fixture. σ uses the exact integer
    * variance numerator; single-hour series → NULL λ (nullif), alarm
    * NULL, never a crash.
    *
    * PRECONDITION ts ≥ 1970-01-01 (§5.7). Plan: one (type, hour)
    * aggregate, a calendar-bounded grid, three type-partitioned windows
    * sharing one sort. State is span-bounded; at 100 TB the windows run
    * over ≤ a few thousand rows per type.
    */
  val q217PageHinkley = Q(
    "q217_page_hinkley",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.m0, g.t, COALESCE(mc.cnt, 0) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS span,
      |    CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS q
      |  FROM x GROUP BY 1
      |),
      |dev AS (
      |  SELECT event_type, m0, t, x,
      |    CAST(CAST(x AS DOUBLE)
      |      - CAST(sum(x) OVER (PARTITION BY event_type ORDER BY t
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS DOUBLE) / CAST(t + 1 AS DOUBLE)
      |      AS DECIMAL(18,9)) AS term
      |  FROM x
      |),
      |ph AS (
      |  SELECT event_type, m0, t, x,
      |    sum(term) OVER (PARTITION BY event_type ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
      |  FROM dev
      |),
      |run AS (
      |  SELECT event_type, m0, t, x, mt,
      |    min(mt) OVER (PARTITION BY event_type ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mmin
      |  FROM ph
      |)
      |SELECT r.event_type,
      |  make_timestamp((r.m0 + r.t) * 3600000000) AS hour,
      |  CAST(r.x AS BIGINT) AS n,
      |  CAST(round(r.mt, 6) AS DOUBLE) AS m_t,
      |  CAST(round(r.mt - r.mmin, 6) AS DOUBLE) AS ph_t,
      |  CASE CAST(r.mt - r.mmin AS DOUBLE) >
      |    CAST(3 AS DOUBLE) * sqrt(CAST(mm.span * mm.q - mm.s * mm.s
      |        AS DOUBLE)
      |      / nullif(CAST(mm.span * (mm.span - 1) AS DOUBLE),
      |          CAST(0 AS DOUBLE)))
      |    WHEN true THEN 'alarm' WHEN false THEN 'quiet' END
      |    AS alarm
      |FROM run r JOIN mom mm ON mm.event_type = r.event_type
      |ORDER BY r.event_type, hour""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type")
          && mc("m") === col("m0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("m0"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("x"))
      .transform(graft.operators.Iter.pin) // 2 consumers: moments and the window chain
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("span"),
        sum(col("x")).cast("long").as("s"),
        sum(col("x") * col("x")).cast("long").as("q"))
      .select(col("event_type").as("mm_type"), col("span"), col("s"),
        col("q"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val dev = x.withColumn("cums", sum(col("x")).over(wCum))
      .withColumn("term", expr(
        """CAST(CAST(x AS DOUBLE)
          |  - CAST(cums AS DOUBLE) / CAST(t + 1 AS DOUBLE)
          |  AS DECIMAL(18,9))""".stripMargin))
    val run = dev.withColumn("mt", sum(col("term")).over(wCum))
      .withColumn("mmin", min(col("mt")).over(wCum))
    run.join(mom, col("mm_type") === col("event_type"))
      .select(col("event_type"),
        expr("timestamp_micros((m0 + t) * 3600000000)").as("hour"),
        col("x").cast("long").as("n"),
        round(col("mt"), 6).cast("double").as("m_t"),
        round(col("mt") - col("mmin"), 6).cast("double").as("ph_t"),
        {
          // §5.7 nullable-boolean rule (r16): string verdict — the
          // single-hour series NULLs λ via nullif (documented path)
          val breach = (col("mt") - col("mmin")).cast("double") >
            expr("""CAST(3 AS DOUBLE) * sqrt(CAST(span * q - s * s AS DOUBLE)
              |  / nullif(CAST(span * (span - 1) AS DOUBLE),
              |      CAST(0 AS DOUBLE)))""".stripMargin)
          when(breach === true, lit("alarm"))
            .when(breach === false, lit("quiet")).as("alarm")
        })
      .orderBy(col("event_type"), col("hour"))
  }
  /** ROLLING WINDOW CORRELATION — the time-LOCAL dependence monitor next
    * to the global coefficients (q163 Spearman, q208 Kendall are one
    * number per pair; this is a series): Pearson r of the 'view' and
    * 'click' daily counts over each trailing 7-day window on the dense
    * calendar grid — the dashboard that catches a funnel decoupling the
    * week it happens, invisible in a month-long global coefficient.
    *
    * Exactness: all five window moments (Σx, Σy, Σxy, Σx², Σy²) are
    * exact int64 sums over the FIXED 7-row frame; r is one fixed-order
    * double chain over them, denominator factors under separate IEEE
    * sqrts; a flat window (zero variance on either side) yields NULL r
    * via nullif — explicit on both engines. Only COMPLETE windows
    * (day ≥ d₀+6) are emitted, the partial-frame convention stated
    * rather than silently averaged over shorter frames.
    *
    * Plan: events collapse to the (day, x, y) paired series (map-side
    * combined, calendar-bounded), one ROWS-frame window — bounded
    * state, single sort, never row-proportional.
    */
  val q220RollingCorr = Q(
    "q220_rolling_corr",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IN ('view', 'click')
      |),
      |dc AS (
      |  SELECT day,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM e GROUP BY 1
      |),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
      |grid AS (SELECT b.d0 + unnest(range(0, b.d1 - b.d0 + 1)) AS day
      |         FROM b),
      |x AS (
      |  SELECT g.day, COALESCE(dc.x, 0) AS x, COALESCE(dc.y, 0) AS y
      |  FROM grid g LEFT JOIN dc ON dc.day = g.day
      |),
      |m AS (
      |  SELECT day, x, y,
      |    CAST(count(*) OVER w AS BIGINT) AS n,
      |    CAST(sum(x) OVER w AS BIGINT) AS sx,
      |    CAST(sum(y) OVER w AS BIGINT) AS sy,
      |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
      |    CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
      |    CAST(sum(y * y) OVER w AS BIGINT) AS syy
      |  FROM x
      |  WINDOW w AS (ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |)
      |SELECT day, x AS views, y AS clicks,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)),
      |      CAST(0 AS DOUBLE)), 6) AS r
      |FROM m WHERE n = 7
      |ORDER BY day""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull
        && col("event_type").isin("view", "click"))
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val dc = e.groupBy(col("day"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("long").as("x"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .cast("long").as("y"))
      .select(col("day").as("dc_day"), col("x"), col("y"))
    val b = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = b.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val x = grid.join(dc, col("day") === col("dc_day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    val m = x.select(col("day"), col("x"), col("y"),
      count(lit(1)).over(w).cast("long").as("n"),
      sum(col("x")).over(w).cast("long").as("sx"),
      sum(col("y")).over(w).cast("long").as("sy"),
      sum(col("x") * col("y")).over(w).cast("long").as("sxy"),
      sum(col("x") * col("x")).over(w).cast("long").as("sxx"),
      sum(col("y") * col("y")).over(w).cast("long").as("syy"))
    m.filter(col("n") === 7)
      .select(col("day"), col("x").as("views"), col("y").as("clicks"),
        round(expr("""CAST(n * sxy - sx * sy AS DOUBLE)
          |  / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
          |    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)),
          |    CAST(0 AS DOUBLE))""".stripMargin), 6).as("r"))
      .orderBy(col("day"))
  }
  /** LEADERBOARD CHURN — day-over-day stability of the top-k = 20 most
    * active users: per consecutive day pair, the intersection and
    * Jaccard of the two leaderboards. The ranking operator family
    * (q16/q17) answers "who is on top"; this answers "how fast does the
    * top CHANGE" — a high-churn leaderboard is bots or incentive gaming,
    * a frozen one is a stale metric. Dashboards track the series, not
    * one coefficient (the q220 philosophy applied to rankings).
    *
    * Exactness: membership is pure integer counting off the TOTAL
    * (count DESC, user_id) rank order — deterministic top-k even through
    * count ties; Jaccard |∩|/(k₁+k₂−|∩|) goes through ratio6. Days with
    * fewer than 20 active users field their full roster (k_d < 20) —
    * stated, not padded. The first day has no predecessor and is
    * excluded by the pairing definition.
    *
    * Plan: events collapse to (day, user) counts map-side; ranks are
    * day-partitioned windows; the day-pair join matches d to d−1 on the
    * ≤ k·days leaderboard table — calendar-bounded, never
    * row-proportional.
    */
  val q222LeaderboardChurn = Q(
    "q222_leaderboard_churn",
    s"""WITH uc AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    user_id, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |rk AS (
      |  SELECT day, user_id,
      |    row_number() OVER (PARTITION BY day
      |      ORDER BY cnt DESC, user_id) AS rn
      |  FROM uc
      |),
      |top AS (SELECT day, user_id FROM rk WHERE rn <= 20),
      |ksz AS (SELECT day, CAST(count(*) AS BIGINT) AS k FROM top
      |        GROUP BY 1),
      |inter AS (
      |  SELECT b.day, CAST(count(*) AS BIGINT) AS n_inter
      |  FROM top a JOIN top b
      |    ON b.user_id = a.user_id AND b.day = a.day + 1
      |  GROUP BY 1
      |),
      |pair AS (
      |  SELECT cur.day, prev.k AS k_prev, cur.k AS k_cur,
      |    COALESCE(i.n_inter, 0) AS n_inter
      |  FROM ksz cur
      |  JOIN ksz prev ON prev.day = cur.day - 1
      |  LEFT JOIN inter i ON i.day = cur.day
      |)
      |SELECT day, k_prev, k_cur, n_inter,
      |  ${Exact.Sql.ratio6("n_inter", "k_prev + k_cur - n_inter")} AS jaccard
      |FROM pair
      |ORDER BY day""".stripMargin,
  ) { (s, d) =>
    val uc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
        col("user_id"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val top = uc.select(col("day"), col("user_id"),
        row_number().over(Window.partitionBy(col("day"))
          .orderBy(col("cnt").desc, col("user_id").asc)).as("rn"))
      .filter(col("rn") <= 20)
      .select(col("day"), col("user_id"))
      .transform(graft.operators.Iter.pin) // 3 consumers: sizes and both sides of the pair
    val ksz = top.groupBy(col("day")).agg(count(lit(1)).cast("long").as("k"))
    val inter = top.select(col("day").as("a_day"), col("user_id"))
      .join(top.select(col("day").as("b_day"),
          col("user_id").as("b_user")),
        col("b_user") === col("user_id") && col("b_day") === col("a_day") + 1)
      .groupBy(col("b_day").as("day"))
      .agg(count(lit(1)).cast("long").as("n_inter"))
    val pair = ksz.select(col("day"), col("k").as("k_cur"))
      .join(ksz.select((col("day") + 1).as("day"), col("k").as("k_prev")),
        "day")
      .join(inter, Seq("day"), "left")
      .select(col("day"), col("k_prev"), col("k_cur"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"))
    pair.select(col("day"), col("k_prev"), col("k_cur"), col("n_inter"),
        graft.functions.Exact.ratio6("n_inter",
          "k_prev + k_cur - n_inter").as("jaccard"))
      .orderBy(col("day"))
  }
  /** HAAR WAVELET ENERGY — multi-resolution decomposition of the hourly
    * count series: three levels of unnormalized Haar details
    * (d = a_even − a_odd on successive pairwise-sum approximations),
    * reporting each level's detail energy Σd² and its share — WHERE the
    * series' variance lives (level 1 ≈ 2-hour jitter, level 3 ≈ 8-hour
    * regime structure). The scale-localized complement to q221's ACF:
    * two series can share ACF(1) yet concentrate energy at different
    * scales.
    *
    * Exactness: every approximation and detail is exact int64 (sums and
    * differences of counts; level-ℓ entries bound by 2^ℓ·max(x), so
    * energies stay int64 through ~10⁵ hours of 10⁴-count buckets);
    * energy shares go through ratio6. Odd-length tails at each level
    * drop the unpaired trailing element — the standard dyadic
    * convention, stated. Types with < 8 hours emit only the levels
    * their span supports.
    *
    * Plan: the q193 grid, then three level aggregates each grouping
    * t div 2 with HAVING count = 2 — map-side combined,
    * calendar-bounded, one shuffle per level over ≤ span/2ˡ rows.
    */
  val q228HaarEnergy = Q(
    "q228_haar_energy",
    s"""WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x0 AS (
      |  SELECT g.event_type, g.t, COALESCE(mc.cnt, 0) AS a
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |l1 AS (
      |  SELECT event_type, t // 2 AS t,
      |    CAST(sum(a) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN t % 2 = 0 THEN a ELSE -a END) AS BIGINT)
      |      AS d
      |  FROM x0 GROUP BY 1, 2 HAVING count(*) = 2
      |),
      |l2 AS (
      |  SELECT event_type, t // 2 AS t,
      |    CAST(sum(a) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN t % 2 = 0 THEN a ELSE -a END) AS BIGINT)
      |      AS d
      |  FROM l1 GROUP BY 1, 2 HAVING count(*) = 2
      |),
      |l3 AS (
      |  SELECT event_type, t // 2 AS t,
      |    CAST(sum(a) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN t % 2 = 0 THEN a ELSE -a END) AS BIGINT)
      |      AS d
      |  FROM l2 GROUP BY 1, 2 HAVING count(*) = 2
      |),
      |en AS (
      |  SELECT event_type, 1 AS level, CAST(count(*) AS BIGINT)
      |      AS n_pairs,
      |    CAST(sum(d * d) AS BIGINT) AS energy
      |  FROM l1 GROUP BY 1
      |  UNION ALL
      |  SELECT event_type, 2 AS level, CAST(count(*) AS BIGINT),
      |    CAST(sum(d * d) AS BIGINT)
      |  FROM l2 GROUP BY 1
      |  UNION ALL
      |  SELECT event_type, 3 AS level, CAST(count(*) AS BIGINT),
      |    CAST(sum(d * d) AS BIGINT)
      |  FROM l3 GROUP BY 1
      |),
      |tot AS (
      |  SELECT event_type, level, n_pairs, energy,
      |    CAST(sum(energy) OVER (PARTITION BY event_type) AS BIGINT)
      |      AS e_all
      |  FROM en
      |)
      |SELECT event_type, CAST(level AS BIGINT) AS level, n_pairs,
      |  energy,
      |  CASE WHEN e_all > 0 THEN
      |    ${Exact.Sql.ratio6("energy", "e_all")}
      |  ELSE NULL END AS energy_share
      |FROM tot
      |ORDER BY event_type, level""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x0 = grid.join(mc,
        col("g_type") === mc("event_type")
          && mc("m") === col("m0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("a"))
    def level(src: org.apache.spark.sql.DataFrame) = src
      .groupBy(col("event_type"), (col("t") / 2).cast("long").as("lt"))
      .agg(count(lit(1)).as("np"),
        sum(col("a")).cast("long").as("a"),
        sum(when(col("t") % 2 === 0, col("a")).otherwise(-col("a")))
          .cast("long").as("d"))
      .filter(col("np") === 2)
      .select(col("event_type"), col("lt").as("t"), col("a"), col("d"))
    val l1 = level(x0).transform(graft.operators.Iter.pin) // feeds both energy and l2
    val l2 = level(l1).transform(graft.operators.Iter.pin)
    val l3 = level(l2)
    def energy(src: org.apache.spark.sql.DataFrame, lv: Int) = src
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(col("d") * col("d")).cast("long").as("energy"))
      .select(col("event_type"), lit(lv.toLong).as("level"),
        col("n_pairs"), col("energy"))
    val en = energy(l1, 1).union(energy(l2, 2)).union(energy(l3, 3))
    val tot = en.withColumn("e_all",
      sum(col("energy")).over(Window.partitionBy(col("event_type")))
        .cast("long"))
    tot.select(col("event_type"), col("level"), col("n_pairs"),
        col("energy"),
        when(col("e_all") > 0, Exact.ratio6("energy", "e_all"))
          .otherwise(lit(null)).as("energy_share"))
      .orderBy(col("event_type"), col("level"))
  }
  /** RANK-BIASED OVERLAP — q222's leaderboard churn weighted the way a
    * viewer reads a ranking: RBO_min@20 = (1−p)·Σ_{d≤20} p^{d−1}·X_d/d
    * (p = 0.9), where X_d is the overlap of the two days' top-d
    * PREFIXES — so agreement at rank 1 outweighs agreement at rank 20,
    * the property plain Jaccard (q222) structurally lacks. The standard
    * IR ranking-stability metric (Webber et al.), reported per
    * consecutive-day pair.
    *
    * Exactness: prefix overlaps never materialize per depth — each
    * matched user enters every depth d ≥ max(ra, rb), so the sum
    * rewrites as Σ_matched Σ_{d=max..20} p^{d−1}/d: a bounded depth
    * explode whose terms are float-cast pow over one exact int divide,
    * summed as DECIMAL(18,9) and finished by one (1−p) product.
    * Pairs with zero matched users report exact 0 (coalesce, stated).
    * Truncation at k = 20 makes this RBO_MIN — the lower bound without
    * the extrapolation tail — stated as the definition.
    *
    * Plan: q222's rank windows, a user-keyed pair join, a ≤ 20-row
    * depth explode per matched user — calendar × k² bounded, never
    * row-proportional.
    */
  val q237RankBiasedOverlap = Q(
    "q237_rank_biased_overlap",
    """WITH uc AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    user_id, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |rk AS (
      |  SELECT day, user_id,
      |    row_number() OVER (PARTITION BY day
      |      ORDER BY cnt DESC, user_id) AS rn
      |  FROM uc
      |),
      |top AS (SELECT day, user_id, rn FROM rk WHERE rn <= 20),
      |days AS (
      |  SELECT DISTINCT a.day FROM top a
      |  JOIN top b ON b.day = a.day - 1
      |),
      |matched AS (
      |  SELECT cur.day, cur.user_id,
      |    CASE WHEN prev.rn > cur.rn THEN prev.rn ELSE cur.rn END AS m
      |  FROM top cur JOIN top prev
      |    ON prev.user_id = cur.user_id AND prev.day = cur.day - 1
      |),
      |terms AS (
      |  SELECT matched.day,
      |    CAST(CAST(pow(0.9, u.d - 1) AS FLOAT)
      |      / CAST(u.d AS DOUBLE) AS DECIMAL(18,9)) AS w
      |  FROM matched, unnest(range(matched.m, 21)) AS u(d)
      |),
      |agg AS (
      |  SELECT day, sum(w) AS sw, CAST(count(*) AS BIGINT) AS n_terms
      |  FROM terms GROUP BY 1
      |),
      |ov AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n_matched
      |  FROM matched GROUP BY 1
      |)
      |SELECT d.day,
      |  COALESCE(ov.n_matched, 0) AS n_matched,
      |  round(CAST(0.1 AS DOUBLE)
      |    * COALESCE(CAST(agg.sw AS DOUBLE), CAST(0 AS DOUBLE)), 6)
      |    AS rbo_min
      |FROM days d
      |LEFT JOIN agg ON agg.day = d.day
      |LEFT JOIN ov ON ov.day = d.day
      |ORDER BY d.day""".stripMargin,
  ) { (s, d) =>
    val uc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
        col("user_id"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val top = uc.select(col("day"), col("user_id"),
        row_number().over(Window.partitionBy(col("day"))
          .orderBy(col("cnt").desc, col("user_id").asc)).as("rn"))
      .filter(col("rn") <= 20)
      .transform(graft.operators.Iter.pin) // 3 consumers: day pairs and both join sides
    val days = top.select(col("day").as("a_day"))
      .join(top.select((col("day") + 1).as("b_day")),
        col("b_day") === col("a_day"))
      .select(col("a_day").as("day")).distinct()
    val matched = top.select(col("day"), col("user_id"),
        col("rn").as("rb"))
      .join(top.select((col("day") + 1).as("p_day"),
          col("user_id").as("p_user"), col("rn").as("ra")),
        col("p_user") === col("user_id") && col("p_day") === col("day"))
      .select(col("day"), col("user_id"),
        greatest(col("ra"), col("rb")).as("m"))
      .transform(graft.operators.Iter.pin) // 2 consumers: the depth explode and counts
    val terms = matched
      .select(col("day"),
        explode(expr("sequence(m, 20)")).as("d"))
      .select(col("day"), expr(
        """CAST(CAST(pow(0.9, d - 1) AS FLOAT)
          |  / CAST(d AS DOUBLE) AS DECIMAL(18,9))""".stripMargin)
        .as("w"))
    val agg = terms.groupBy(col("day")).agg(sum(col("w")).as("sw"))
      .select(col("day").as("agg_day"), col("sw"))
    val ov = matched.groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("n_matched"))
      .select(col("day").as("ov_day"), col("n_matched"))
    days.join(agg, col("day") === col("agg_day"), "left")
      .join(ov, col("day") === col("ov_day"), "left")
      .select(col("day"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        round(expr("""CAST(0.1 AS DOUBLE)
          |  * COALESCE(CAST(sw AS DOUBLE), CAST(0 AS DOUBLE))"""
          .stripMargin), 6).as("rbo_min"))
      .orderBy(col("day"))
  }

  /** GROWTH ACCOUNTING — the WAU ledger every growth team closes the
    * week with: each active user is exactly one of NEW (first week
    * ever), RETAINED (active last week too), or RESURRECTED (seen
    * before, skipped last week), and last week's missing users are
    * CHURNED — with the quick ratio (new + resurrected)/churned as the
    * one-number health read. The identity |active| = new + retained +
    * resurrected is structural, and the suite asserts it (an invariant
    * the operator's own arithmetic cannot fake).
    *
    * Exactness: pure distinct counting over (user, week) pairs and a
    * per-user min-week; the quick ratio goes through ratio6 with
    * churned = 0 → NULL via the explicit CASE. Weeks index as
    * (day−d₀)//7 (the q225 convention, trailing partial weeks counted
    * as-is).
    *
    * Plan: one (user, week) distinct (the only row-proportional
    * shuffle), a user-keyed first-week aggregate broadcast back, two
    * calendar-bounded membership joins. Scan-dominated at 100 TB.
    */
  val q238GrowthAccounting = Q(
    "q238_growth_accounting",
    s"""WITH du AS (
      |  SELECT DISTINCT user_id,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
      |      - (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))
      |          // 86400000000) FROM events
      |         WHERE ts IS NOT NULL AND user_id IS NOT NULL))
      |      // 7 AS wk
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |fw AS (SELECT user_id, CAST(min(wk) AS BIGINT) AS f FROM du
      |       GROUP BY 1),
      |cur AS (
      |  SELECT du.wk, du.user_id, fw.f,
      |    CASE WHEN prev.user_id IS NULL THEN 0 ELSE 1 END AS in_prev
      |  FROM du
      |  JOIN fw ON fw.user_id = du.user_id
      |  LEFT JOIN du prev
      |    ON prev.user_id = du.user_id AND prev.wk = du.wk - 1
      |  WHERE du.wk > 0
      |),
      |acts AS (
      |  SELECT wk,
      |    CAST(count(*) AS BIGINT) AS active,
      |    CAST(sum(CASE WHEN f = wk THEN 1 ELSE 0 END) AS BIGINT)
      |      AS new_users,
      |    CAST(sum(in_prev) AS BIGINT) AS retained,
      |    CAST(sum(CASE WHEN f < wk AND in_prev = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS resurrected
      |  FROM cur GROUP BY 1
      |),
      |ch AS (
      |  SELECT a.wk + 1 AS wk, CAST(count(*) AS BIGINT) AS churned
      |  FROM du a
      |  LEFT JOIN du b ON b.user_id = a.user_id AND b.wk = a.wk + 1
      |  WHERE b.user_id IS NULL
      |  GROUP BY 1
      |)
      |SELECT acts.wk AS week, acts.active, acts.new_users,
      |  acts.retained, acts.resurrected,
      |  COALESCE(ch.churned, 0) AS churned,
      |  CASE WHEN COALESCE(ch.churned, 0) > 0 THEN
      |    ${Exact.Sql.ratio6("acts.new_users + acts.resurrected",
           "ch.churned")}
      |  ELSE NULL END AS quick_ratio
      |FROM acts LEFT JOIN ch ON ch.wk = acts.wk
      |ORDER BY week""".stripMargin,
  ) { (s, d) =>
    val base = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val d0 = base.agg(min(col("day")).as("d0"))
    val du = base.crossJoin(broadcast(d0))
      .select(col("user_id"), expr("(day - d0) div 7").as("wk"))
      .distinct()
      .transform(graft.operators.Iter.pin) // 4 consumers: first-week, cur, prev, churn
    val fw = du.groupBy(col("user_id"))
      .agg(min(col("wk")).cast("long").as("f"))
    val prev = du.select(col("user_id").as("p_user"),
      (col("wk") + 1).as("p_wk"))
    val cur = du.filter(col("wk") > 0)
      .join(fw, "user_id")
      .join(prev,
        col("p_user") === col("user_id") && col("p_wk") === col("wk"),
        "left")
      .select(col("wk"), col("f"),
        when(col("p_user").isNull, 0L).otherwise(1L).as("in_prev"))
    val acts = cur.groupBy(col("wk"))
      .agg(count(lit(1)).cast("long").as("active"),
        sum(when(col("f") === col("wk"), 1L).otherwise(0L)).cast("long")
          .as("new_users"),
        sum(col("in_prev")).cast("long").as("retained"),
        sum(when(col("f") < col("wk") && col("in_prev") === 0, 1L)
          .otherwise(0L)).cast("long").as("resurrected"))
    val nxt = du.select(col("user_id").as("n_user"),
      (col("wk") - 1).as("n_wk"))
    val ch = du.join(nxt,
        col("n_user") === col("user_id") && col("n_wk") === col("wk"),
        "left")
      .filter(col("n_user").isNull)
      .groupBy((col("wk") + 1).as("wk"))
      .agg(count(lit(1)).cast("long").as("churned"))
      .select(col("wk").as("ch_wk"), col("churned"))
    acts.join(ch, col("ch_wk") === col("wk"), "left")
      .select(col("wk").as("week"), col("active"), col("new_users"),
        col("retained"), col("resurrected"),
        coalesce(col("churned"), lit(0L)).as("churned"))
      .withColumn("quick_ratio",
        when(col("churned") > 0,
          Exact.ratio6("new_users + resurrected", "churned"))
          .otherwise(lit(null)))
      .orderBy(col("week"))
  }

  /** SEASONAL-ADJUSTED EWMA FORECAST — the smoothing family's third
    * member (q193 level, q203 level+trend, this one level+SEASONALITY):
    * per event type, subtract the hour-of-day profile (the q204
    * seasonal-naive structure: μ_h = mean count at hour-of-day h over
    * the dense grid), EWMA-smooth the RESIDUAL series with the q193
    * closed form, and forecast the next hour as smoothed residual +
    * next hour's seasonal mean. This is Holt–Winters-additive with
    * fixed seasonal indices — the standard "deseasonalize → smooth →
    * reseasonalize" decomposition, and the form that stays relational.
    *
    * Exactness: the residual d_t = (x_t·n_h − S_h)/n_h is ONE fixed-
    * order double chain per row over exact int64s (x·n_h ≤ 10⁶·span/24
    * — no overflow anywhere near reality); each contribution
    * λ·powf(0.8,lag)·d_t is the q193 term with d_t in x's place, cast
    * DECIMAL(18,9), associative sum. The SEED IS EXACTLY ZERO — the
    * deseasonalized series sums to 0 in exact rationals (Σx = Σ_h n_h·μ_h
    * by construction), so q193's μ-seeded boundary term vanishes BY
    * ALGEBRA, not by approximation; both engines share the definition.
    * The explode is W-truncated exactly as [[ewmaChartPlan]], probed at
    * dmax = max|d_t| (terms linear in |d| ≤ dmax at fixed lag; a
    * perfectly periodic series has dmax = 0 → every term is the zero
    * decimal → wlag coalesces to 0 and the sums are exactly 0 either
    * way); the DuckDB oracle below is UNTRUNCATED — the q193 standing
    * losslessness proof, third instance. The forecast hour's seasonal
    * mean is NULL-explicit when that hour-of-day never occurred
    * (span < 24 tails — EdgeEventsSpec's solo shape), never fabricated.
    *
    * PRECONDITION ts ≥ 1970-01-01 (raw epoch-µs hour buckets, SURVEY
    * §5.7). Plan: q193's — dense grid, hod-bounded profile join
    * (broadcast), span·(wlag+1) truncated explode into one map-side-
    * combined aggregate, 24-row-per-type profile state. Linear in
    * calendar span, nothing sequential.
    */
  val q244SeasonalEwma = Q(
    "q244_seasonal_ewma",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.m0, g.t,
      |    (g.m0 + g.t) % 24 AS hod,
      |    COALESCE(mc.cnt, 0) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |prof AS (
      |  SELECT event_type, hod,
      |    CAST(sum(x) AS BIGINT) AS sh,
      |    CAST(count(*) AS BIGINT) AS nh
      |  FROM x GROUP BY 1, 2
      |),
      |xd AS (
      |  SELECT x.event_type, x.m0, x.t, x.x,
      |    CAST(x.x * p.nh - p.sh AS DOUBLE) / CAST(p.nh AS DOUBLE) AS dval,
      |    CAST(p.sh AS DOUBLE) / CAST(p.nh AS DOUBLE) AS seas
      |  FROM x JOIN prof p
      |    ON p.event_type = x.event_type AND p.hod = x.hod
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS span
      |  FROM xd GROUP BY 1
      |),
      |contrib AS (
      |  SELECT xd.event_type,
      |    unnest(range(xd.t, m.span)) AS t2, xd.t, xd.dval
      |  FROM xd JOIN mom m USING (event_type)
      |),
      |z AS (
      |  SELECT event_type, t2 AS t,
      |    sum(CAST(CAST(0.2 AS DOUBLE)
      |      * CAST(pow(0.8, t2 - t) AS FLOAT)
      |      * dval AS DECIMAL(18,9))) AS sd
      |  FROM contrib GROUP BY 1, 2
      |)
      |SELECT xd.event_type,
      |  make_timestamp((xd.m0 + xd.t) * 3600000000) AS hour,
      |  CAST(xd.x AS BIGINT) AS n,
      |  round(xd.seas, 6) AS seasonal,
      |  round(xd.dval, 6) AS deseason,
      |  CAST(round(z.sd, 6) AS DOUBLE) AS adj_level,
      |  round(CAST(z.sd AS DOUBLE)
      |    + CAST(p2.sh AS DOUBLE) / CAST(p2.nh AS DOUBLE), 6)
      |    AS forecast_next
      |FROM xd
      |JOIN z ON z.event_type = xd.event_type AND z.t = xd.t
      |LEFT JOIN prof p2
      |  ON p2.event_type = xd.event_type
      |  AND p2.hod = (xd.m0 + xd.t + 1) % 24
      |ORDER BY xd.event_type, hour""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type")
          && mc("m") === col("m0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("m0"), col("t"),
        ((col("m0") + col("t")) % 24).as("hod"),
        coalesce(col("cnt"), lit(0L)).as("x"))
    val prof = x.groupBy(col("event_type"), col("hod"))
      .agg(sum(col("x")).cast("long").as("sh"),
        count(lit(1)).cast("long").as("nh"))
      .transform(graft.operators.Iter.pin) // 2 consumers: residuals and the forecast hour
    val xd = x.join(prof, Seq("event_type", "hod"))
      .select(col("event_type"), col("m0"), col("t"), col("x"),
        expr("CAST(x * nh - sh AS DOUBLE) / CAST(nh AS DOUBLE)")
          .as("dval"),
        expr("CAST(sh AS DOUBLE) / CAST(nh AS DOUBLE)").as("seas"))
      .transform(graft.operators.Iter.pin) // 3 consumers: moments, contributions, finish
    val mom = xd.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("span"),
        max(abs(col("dval"))).as("dmax"))
    val wl = mom.select(col("event_type"),
        explode(expr("sequence(0L, 600L)")).as("lag"), col("dmax"))
      .filter(expr(
        """CAST(CAST(0.2 AS DOUBLE)
          |  * CAST(pow(0.8, lag) AS FLOAT)
          |  * dmax AS DECIMAL(18,9))
          |<> CAST(0 AS DECIMAL(18,9))""".stripMargin))
      .groupBy(col("event_type")).agg(max(col("lag")).as("wlag"))
    val z = xd.join(mom.select(col("event_type"), col("span")), "event_type")
      .join(wl, Seq("event_type"), "left")
      .select(col("event_type"), col("t"), col("dval"),
        explode(expr(
          "sequence(t, least(span - 1, t + coalesce(wlag, 0L)))")).as("t2"))
      .groupBy(col("event_type"), col("t2").as("t"))
      .agg(sum(expr(
        """CAST(CAST(0.2 AS DOUBLE)
          |  * CAST(pow(0.8, t2 - t) AS FLOAT)
          |  * dval AS DECIMAL(18,9))""".stripMargin)).as("sd"))
    val p2 = prof.select(col("event_type"), col("hod").as("hod2"),
      col("sh").as("sh2"), col("nh").as("nh2"))
    xd.join(z, Seq("event_type", "t"))
      .join(p2, xd("event_type") === p2("event_type")
        && p2("hod2") === (col("m0") + col("t") + lit(1)) % 24, "left")
      .select(xd("event_type"),
        expr("timestamp_micros((m0 + t) * 3600000000)").as("hour"),
        col("x").cast("long").as("n"),
        round(col("seas"), 6).as("seasonal"),
        round(col("dval"), 6).as("deseason"),
        // §5.7: round ON the decimal, then cast — the cast-double round
        // diverged on a half-1e-6 tie at sf0.1 (the q217 pitfall, hit
        // again live by this operator's first draft)
        expr("CAST(round(sd, 6) AS DOUBLE)").as("adj_level"),
        round(expr("""CAST(sd AS DOUBLE)
          |  + CAST(sh2 AS DOUBLE) / CAST(nh2 AS DOUBLE)""".stripMargin), 6)
          .as("forecast_next"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** SHAPLEY ATTRIBUTION — the game-theoretic closer of the attribution
    * family (q149 last-touch, q186 linear, q201 position/U-shaped):
    * with 3 channels the Shapley value is EXACT and closed-form —
    * φᵢ = Σ_{S∌i} w(|S|)·(v(S∪{i}) − v(S)), w = (1/3, 1/6, 1/3) — no
    * sampling, no approximation. The characteristic function v(S) =
    * number of conversions whose pre-purchase touch set is EXACTLY S
    * (the count-based v, stated), and the efficiency identity
    * Σφᵢ = v(all) − v(∅) holds in exact integers (suite-asserted) —
    * v(∅) being the unattributable conversions no channel can claim.
    *
    * Exactness: everything stays INTEGER by carrying 6φᵢ — the weights
    * become (2, 1, 2) and each marginal is a count difference; the
    * final φ is one exact-int/6 divide. Touch sets are bitmasks from
    * conditional aggregation over events strictly BEFORE the user's
    * first purchase (the (us, event_id) total order breaks the
    * boundary); the 8-subset and 3-channel grids are literal bounded
    * broadcasts (the q205 device).
    *
    * Plan: one per-user first-purchase probe + one conditional
    * aggregate, an 8-row v table, a 24-row bounded contribution join,
    * 3-row finish. Scan-dominated.
    */
  val q275ShapleyAttribution = Q(
    "q275_shapley_attribution",
    """WITH fp AS (
      |  SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS pus
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type = 'purchase'
      |  GROUP BY 1
      |),
      |tm AS (
      |  SELECT e.user_id,
      |    CAST(max(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END)
      |      + 2 * max(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0
      |        END)
      |      + 4 * max(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0
      |        END) AS BIGINT) AS mask
      |  FROM events e JOIN fp ON fp.user_id = e.user_id
      |  WHERE e.ts IS NOT NULL
      |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) < fp.pus
      |    AND e.event_type IN ('view', 'click', 'signup')
      |  GROUP BY 1
      |),
      |allm AS (
      |  SELECT fp.user_id, COALESCE(tm.mask, 0) AS mask
      |  FROM fp LEFT JOIN tm ON tm.user_id = fp.user_id
      |),
      |vc AS (SELECT mask, CAST(count(*) AS BIGINT) AS v
      |       FROM allm GROUP BY 1),
      |grid AS (
      |  SELECT m.m AS mask,
      |    CASE WHEN m.m IN (0) THEN 0
      |         WHEN m.m IN (1, 2, 4) THEN 1
      |         WHEN m.m IN (3, 5, 6) THEN 2 ELSE 3 END AS sz,
      |    COALESCE(vc.v, 0) AS v
      |  FROM (SELECT unnest(range(0, 8)) AS m) m
      |  LEFT JOIN vc ON vc.mask = m.m
      |),
      |ch AS (
      |  SELECT unnest(['view', 'click', 'signup']) AS channel,
      |    unnest([1, 2, 4]) AS bit
      |),
      |contrib AS (
      |  SELECT ch.channel,
      |    CAST(sum((CASE WHEN g.sz = 1 THEN 1 ELSE 2 END)
      |      * (gu.v - g.v)) AS BIGINT) AS phi6
      |  FROM ch
      |  JOIN grid g ON (g.mask & ch.bit) = 0
      |  JOIN grid gu ON gu.mask = (g.mask | ch.bit)
      |  GROUP BY 1
      |)
      |SELECT channel, phi6,
      |  round(CAST(phi6 AS DOUBLE) / CAST(6 AS DOUBLE), 6) AS phi,
      |  round(CAST(phi6 AS DOUBLE)
      |    / nullif(CAST(sum(phi6) OVER () AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS share
      |FROM contrib
      |ORDER BY channel""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("us")).as("pus"))
    val tm = ev.join(fp.withColumnRenamed("user_id", "f_user"),
        col("f_user") === col("user_id") && col("us") < col("pus"))
      .filter(col("event_type").isin("view", "click", "signup"))
      .groupBy(col("user_id"))
      .agg((max(when(col("event_type") === "view", 1).otherwise(0))
        + lit(2) * max(when(col("event_type") === "click", 1).otherwise(0))
        + lit(4) * max(when(col("event_type") === "signup", 1)
          .otherwise(0))).cast("long").as("mask"))
    val allm = fp.join(tm.withColumnRenamed("user_id", "t_user"),
        col("t_user") === col("user_id"), "left")
      .select(coalesce(col("mask"), lit(0L)).as("mask"))
    val vc = allm.groupBy(col("mask"))
      .agg(count(lit(1)).cast("long").as("v"))
    val sess = vc.sparkSession
    import sess.implicits._
    val gridSeed = Seq(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 2, 4L -> 1,
      5L -> 2, 6L -> 2, 7L -> 3).toDF("g_mask", "sz")
    val grid = broadcast(gridSeed)
      .join(vc, col("mask") === col("g_mask"), "left")
      .select(col("g_mask").as("mask"), col("sz"),
        coalesce(col("v"), lit(0L)).as("v"))
      .transform(graft.operators.Iter.pin) // 2 consumers: the S side and the S∪{i} side
    val ch = Seq(("view", 1L), ("click", 2L), ("signup", 4L))
      .toDF("channel", "bit")
    val contrib = broadcast(ch)
      .join(grid, expr("(mask & bit) = 0"))
      .join(grid.select(col("mask").as("u_mask"), col("v").as("uv")),
        expr("u_mask = (mask | bit)"))
      .groupBy(col("channel"))
      .agg(sum((when(col("sz") === 1, 1L).otherwise(2L))
        * (col("uv") - col("v"))).cast("long").as("phi6"))
    contrib.select(col("channel"), col("phi6"),
        round(col("phi6").cast("double") / 6.0, 6).as("phi"),
        round(col("phi6").cast("double") /
          nullif(sum(col("phi6")).over(Window.partitionBy())
            .cast("double"), lit(0.0)), 6).as("share"))
      .orderBy(col("channel"))
  }

  /** WINDOW FUNNEL — the ClickHouse-style STRICT ORDERED sequence
    * search q75's membership funnel cannot express: a user reaches
    * level k only if view < click < purchase occur IN ORDER with the
    * whole chain inside ONE hour of the anchoring view. Membership
    * funnels over-count (a purchase before the view still counts);
    * this one is the conversion-latency truth a growth team acts on.
    *
    * Exactness: pure existence counting over exact µs timestamps —
    * level 2 = ∃ click in (view_us, view_us + 3600·10⁶]; level 3 = ∃
    * purchase after THAT click, still inside the view's window; depth
    * = deepest satisfied level, users without a view are absent
    * (level-1 anchor, stated). Strict inequalities break same-µs ties
    * conservatively (stated). Conversion ratios ride ratio6.
    *
    * Plan: per-user-keyed band joins (equi on user_id + a range — the
    * q08 theta shape, bounded by per-user event counts, never
    * corpus²), two EXISTS-style semi-join reductions, a 3-row ledger
    * via the q197 window idiom.
    */
  val q277WindowFunnel = Q(
    "q277_window_funnel",
    s"""WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |v AS (SELECT user_id, us FROM e WHERE event_type = 'view'),
      |l2 AS (
      |  SELECT DISTINCT v.user_id
      |  FROM v JOIN e c ON c.user_id = v.user_id
      |    AND c.event_type = 'click'
      |    AND c.us > v.us AND c.us <= v.us + 3600000000
      |),
      |l3 AS (
      |  SELECT DISTINCT v.user_id
      |  FROM v
      |  JOIN e c ON c.user_id = v.user_id AND c.event_type = 'click'
      |    AND c.us > v.us AND c.us <= v.us + 3600000000
      |  JOIN e p ON p.user_id = v.user_id AND p.event_type = 'purchase'
      |    AND p.us > c.us AND p.us <= v.us + 3600000000
      |),
      |u1 AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM v),
      |u2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM l2),
      |u3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM l3),
      |lv AS (
      |  SELECT 1 AS level, 'view' AS stage, u1.n FROM u1
      |  UNION ALL
      |  SELECT 2 AS level, 'view>click(1h)' AS stage, u2.n FROM u2
      |  UNION ALL
      |  SELECT 3 AS level, 'view>click>purchase(1h)' AS stage, u3.n
      |  FROM u3
      |)
      |SELECT CAST(level AS INTEGER) AS level, stage, n AS n_users,
      |  ${Exact.Sql.ratio6("n",
           "lag(n, 1, n) OVER (ORDER BY level)")} AS step_conversion,
      |  ${Exact.Sql.ratio6("n",
           "first_value(n) OVER (ORDER BY level)")} AS overall_share
      |FROM lv
      |ORDER BY level""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .transform(graft.operators.Iter.pin) // 3 consumers: views, clicks, purchases
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("us").as("v_us"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("us").as("c_us"))
    val pp = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("us").as("p_us"))
    val l2 = v.join(c, col("c_user") === col("user_id")
        && col("c_us") > col("v_us")
        && col("c_us") <= col("v_us") + 3600000000L)
      .select(col("user_id")).distinct()
    val l3 = v.join(c, col("c_user") === col("user_id")
        && col("c_us") > col("v_us")
        && col("c_us") <= col("v_us") + 3600000000L)
      .join(pp, col("p_user") === col("user_id")
        && col("p_us") > col("c_us")
        && col("p_us") <= col("v_us") + 3600000000L)
      .select(col("user_id")).distinct()
    val u1 = v.agg(countDistinct(col("user_id")).cast("long").as("n"))
      .select(lit(1).as("level"), lit("view").as("stage"), col("n"))
    val u2 = l2.agg(count(lit(1)).cast("long").as("n"))
      .select(lit(2).as("level"), lit("view>click(1h)").as("stage"),
        col("n"))
    val u3 = l3.agg(count(lit(1)).cast("long").as("n"))
      .select(lit(3).as("level"),
        lit("view>click>purchase(1h)").as("stage"), col("n"))
    val lv = u1.union(u2).union(u3)
    lv.select(col("level").cast("int").as("level"), col("stage"),
        col("n").as("n_users"),
        Exact.ratio6("n", "lag(n, 1, n) OVER (ORDER BY level)")
          .as("step_conversion"),
        Exact.ratio6("n", "first_value(n) OVER (ORDER BY level)")
          .as("overall_share"))
      .orderBy(col("level"))
  }

  /** DOUBLE-FIRE DETECTOR — telemetry hygiene before any counting op
    * is trusted: the share of events with an identical (user, type)
    * event within ONE SECOND before them (client retries, double
    * taps, at-least-once delivery). This is the ingest-side
    * micro-dedup q31's content dedup and q73's streaming dedup assume
    * has already been quantified, plus the worst offending user per
    * type for triage.
    *
    * Exactness: pure integer gap comparison off the (us, event_id)
    * per-(user, type) order; rates ride ratio6; the worst user is the
    * argmax under (dups DESC, user_id). Same-µs duplicates count (gap
    * 0 ≤ threshold — stated).
    *
    * Plan: one (user, type)-keyed lag window, two bounded aggregates.
    */
  val q285DoubleFire = Q(
    "q285_double_fire",
    s"""WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type IS NOT NULL
      |),
      |g AS (
      |  SELECT user_id, event_type,
      |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id, event_type
      |        ORDER BY us, event_id) <= 1000000
      |      THEN 1 ELSE 0 END AS dup
      |  FROM e
      |),
      |pu AS (
      |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(dup) AS BIGINT) AS dups
      |  FROM g GROUP BY 1, 2
      |),
      |pt AS (
      |  SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
      |    CAST(sum(dups) AS BIGINT) AS dups
      |  FROM pu GROUP BY 1
      |),
      |worst AS (
      |  SELECT event_type, user_id AS worst_user, dups AS worst_dups
      |  FROM (
      |    SELECT event_type, user_id, dups,
      |      row_number() OVER (PARTITION BY event_type
      |        ORDER BY dups DESC, user_id) AS rk
      |    FROM pu) z
      |  WHERE rk = 1
      |)
      |SELECT pt.event_type, pt.n AS n_events, pt.dups AS n_double_fires,
      |  ${Exact.Sql.ratio6("pt.dups", "pt.n")} AS double_fire_rate,
      |  worst.worst_user, worst.worst_dups
      |FROM pt JOIN worst ON worst.event_type = pt.event_type
      |ORDER BY pt.event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val g = e.select(col("user_id"), col("event_type"),
      when(col("us") - lag(col("us"), 1).over(w) <= 1000000L, 1)
        .otherwise(0).as("dup"))
    val pu = g.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("dup")).cast("long").as("dups"))
      .transform(graft.operators.Iter.pin) // 2 consumers: type totals and the argmax
    val pt = pu.groupBy(col("event_type"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("dups")).cast("long").as("dups"))
    val worst = pu.select(col("event_type").as("w_type"),
        col("user_id").as("worst_user"), col("dups").as("worst_dups"),
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("dups").desc, col("user_id"))).as("rk"))
      .filter(col("rk") === 1)
    pt.join(worst, col("w_type") === col("event_type"))
      .select(col("event_type"), col("n").as("n_events"),
        col("dups").as("n_double_fires"),
        Exact.ratio6("dups", "n").as("double_fire_rate"),
        col("worst_user"), col("worst_dups"))
      .orderBy(col("event_type"))
  }

  /** COHORT LTV CURVE — the revenue twin of q84's retention triangle:
    * users cohort by FIRST week; each cohort's cumulative spend per
    * user at every age (weeks since joining) is the lifetime-value
    * curve finance reads payback periods off. Ages with no spend
    * still emit (zero-filled through the cumulative — a cohort that
    * went quiet stays on the chart, stated).
    *
    * Exactness: spend is exact int64 cents; the (cohort, age) grid is
    * dense per cohort (the q249 device bounded by the global week
    * span); cumulative window sums stay integer; LTV is ONE fixed
    * chain (cum/100/users). Week anchoring filters user_id IS NOT
    * NULL on BOTH engines (the round-14 ADVICE lesson, applied at
    * birth).
    *
    * Plan: one per-user first-week aggregate, one (cohort, week)
    * spend aggregate, a span²/2-bounded dense grid, cumulative
    * windows. Calendar-bounded after the user collapse.
    */
  val q286CohortLtv = Q(
    "q286_cohort_ltv",
    s"""WITH e AS (
      |  SELECT user_id,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
      |      - (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))
      |          // 86400000000) FROM events
      |         WHERE ts IS NOT NULL AND user_id IS NOT NULL))
      |      // 7 AS wk,
      |    CASE WHEN value IS NOT NULL
      |      THEN CAST(round(100 * value) AS BIGINT) ELSE 0 END AS cents
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |fw AS (SELECT user_id, CAST(min(wk) AS BIGINT) AS cohort
      |       FROM e GROUP BY 1),
      |cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS users
      |       FROM fw GROUP BY 1),
      |sp AS (
      |  SELECT fw.cohort, e.wk - fw.cohort AS age,
      |    CAST(sum(e.cents) AS BIGINT) AS cents
      |  FROM e JOIN fw ON fw.user_id = e.user_id
      |  GROUP BY 1, 2
      |),
      |mx AS (SELECT CAST(max(wk) AS BIGINT) AS wmax FROM e),
      |grid AS (
      |  SELECT cs.cohort, cs.users,
      |    unnest(range(0, mx.wmax - cs.cohort + 1)) AS age
      |  FROM cs CROSS JOIN mx
      |),
      |z AS (
      |  SELECT g.cohort, g.users, g.age, COALESCE(sp.cents, 0) AS cents
      |  FROM grid g LEFT JOIN sp
      |    ON sp.cohort = g.cohort AND sp.age = g.age
      |)
      |SELECT cohort, CAST(age AS BIGINT) AS age, users,
      |  round(CAST(cents AS DOUBLE) / 100.0, 6) AS revenue,
      |  round(CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY age)
      |    AS DOUBLE) / 100.0, 6) AS cum_revenue,
      |  round(CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY age)
      |      AS DOUBLE)
      |    / 100.0 / CAST(users AS DOUBLE), 6) AS ltv_per_user
      |FROM z
      |ORDER BY cohort, age""".stripMargin,
  ) { (s, d) =>
    val base = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        when(col("value").isNotNull,
          expr("CAST(round(100 * value) AS BIGINT)")).otherwise(0L)
          .as("cents"))
    val d0 = base.agg(min(col("day")).as("d0"))
    val e = base.crossJoin(broadcast(d0))
      .select(col("user_id"), expr("(day - d0) div 7").as("wk"),
        col("cents"))
      .transform(graft.operators.Iter.pin) // 3 consumers: first-week, spend, max week
    val fw = e.groupBy(col("user_id").as("f_user"))
      .agg(min(col("wk")).cast("long").as("cohort"))
    val cs = fw.groupBy(col("cohort"))
      .agg(count(lit(1)).cast("long").as("users"))
    val sp = e.join(fw, col("f_user") === col("user_id"))
      .groupBy(col("cohort").as("s_cohort"),
        (col("wk") - col("cohort")).as("age"))
      .agg(sum(col("cents")).cast("long").as("cents"))
    val mx = e.agg(max(col("wk")).cast("long").as("wmax"))
    val grid = cs.crossJoin(broadcast(mx))
      .select(col("cohort"), col("users"),
        explode(sequence(lit(0L), col("wmax") - col("cohort"))).as("age"))
    val z = grid.join(sp,
        col("s_cohort") === col("cohort") && sp("age") === grid("age"),
        "left")
      .select(col("cohort"), col("users"), grid("age"),
        coalesce(col("cents"), lit(0L)).as("cents"))
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("age"))
    z.select(col("cohort"), col("age").cast("long").as("age"),
        col("users"),
        round(col("cents").cast("double") / 100.0, 6).as("revenue"),
        round(sum(col("cents")).over(wCum).cast("double") / 100.0, 6)
          .as("cum_revenue"),
        round(sum(col("cents")).over(wCum).cast("double") / 100.0 /
          col("users").cast("double"), 6).as("ltv_per_user"))
      .orderBy(col("cohort"), col("age"))
  }

  /** SIMPSON'S PARADOX AUDIT — does the overall arm comparison REVERSE
    * once stratified by day? The classic aggregation trap: an
    * overall "treatment wins" can be an artifact of treatment traffic
    * landing on high-spend days. Per event type: the overall arm-mean
    * sign vs the per-day majority sign, flagged when they disagree —
    * the check that should run before ANY q154/q162-style readout is
    * believed.
    *
    * Exactness: every sign is a PURE INTEGER cross-multiply —
    * overall: sign(sct·nc − scc·nt); within day d the same on the
    * day's cells — no mean is ever materialized. Days missing an arm
    * carry no within-day verdict (excluded, stated). The flag needs
    * both an overall sign ≠ 0 and a day majority ≠ tie; anything else
    * → NULL (stated). The verdict is a STRING, not a boolean — a
    * nullable BOOLEAN column breaks the driver compare (DuckDB's .df()
    * renders NULL bool as float NaN while Spark parquet reads None —
    * the only nullable type with that asymmetry; §5.7, found live
    * here).
    *
    * Plan: one (type, day, arm) aggregate, integer sign algebra, a
    * per-type finish. One scan.
    */
  val q287SimpsonAudit = Q(
    "q287_simpson_audit",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)),
      |      1, 1)) AS BIGINT) % 2 AS arm,
      |    CAST(round(100 * value) AS BIGINT) AS cents
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND value IS NOT NULL AND event_type IS NOT NULL
      |),
      |cell AS (
      |  SELECT event_type, day, arm, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(cents) AS BIGINT) AS sc
      |  FROM e GROUP BY 1, 2, 3
      |),
      |dd AS (
      |  SELECT event_type, day,
      |    max(CASE WHEN arm = 1 THEN n END) AS nt,
      |    max(CASE WHEN arm = 1 THEN sc END) AS sct,
      |    max(CASE WHEN arm = 0 THEN n END) AS nc,
      |    max(CASE WHEN arm = 0 THEN sc END) AS scc
      |  FROM cell GROUP BY 1, 2
      |),
      |ds AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(CASE WHEN nt IS NOT NULL AND nc IS NOT NULL
      |      AND sct * nc - scc * nt > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d_pos,
      |    CAST(sum(CASE WHEN nt IS NOT NULL AND nc IS NOT NULL
      |      AND sct * nc - scc * nt < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d_neg,
      |    CAST(sum(COALESCE(nt, 0)) AS BIGINT) AS tnt,
      |    CAST(sum(COALESCE(sct, 0)) AS BIGINT) AS tsct,
      |    CAST(sum(COALESCE(nc, 0)) AS BIGINT) AS tnc,
      |    CAST(sum(COALESCE(scc, 0)) AS BIGINT) AS tscc
      |  FROM dd GROUP BY 1
      |)
      |SELECT event_type, n_days, d_pos AS days_treated_wins,
      |  d_neg AS days_control_wins,
      |  CASE WHEN tsct * tnc - tscc * tnt > 0 THEN 1
      |       WHEN tsct * tnc - tscc * tnt < 0 THEN -1
      |       ELSE 0 END AS overall_sign,
      |  CASE WHEN tnt = 0 OR tnc = 0
      |      OR tsct * tnc - tscc * tnt = 0 OR d_pos = d_neg THEN NULL
      |    WHEN (tsct * tnc - tscc * tnt > 0) <> (d_pos > d_neg)
      |      THEN 'reversal' ELSE 'consistent'
      |    END AS simpson_verdict
      |FROM ds
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (conv(substring(md5(concat(lit("ab|"),
          col("user_id").cast("string"))), 1, 1), 16, 10)
          .cast("long") % 2).as("arm"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"))
    val cell = e.groupBy(col("event_type"), col("day"), col("arm"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).cast("long").as("sc"))
    val dd = cell.groupBy(col("event_type"), col("day"))
      .agg(max(when(col("arm") === 1, col("n"))).as("nt"),
        max(when(col("arm") === 1, col("sc"))).as("sct"),
        max(when(col("arm") === 0, col("n"))).as("nc"),
        max(when(col("arm") === 0, col("sc"))).as("scc"))
    val ds = dd.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(when(col("nt").isNotNull && col("nc").isNotNull
            && col("sct") * col("nc") - col("scc") * col("nt") > 0, 1)
          .otherwise(0)).cast("long").as("d_pos"),
        sum(when(col("nt").isNotNull && col("nc").isNotNull
            && col("sct") * col("nc") - col("scc") * col("nt") < 0, 1)
          .otherwise(0)).cast("long").as("d_neg"),
        sum(coalesce(col("nt"), lit(0L))).cast("long").as("tnt"),
        sum(coalesce(col("sct"), lit(0L))).cast("long").as("tsct"),
        sum(coalesce(col("nc"), lit(0L))).cast("long").as("tnc"),
        sum(coalesce(col("scc"), lit(0L))).cast("long").as("tscc"))
    val osign = expr("""CASE WHEN tsct * tnc - tscc * tnt > 0 THEN 1
      |  WHEN tsct * tnc - tscc * tnt < 0 THEN -1 ELSE 0 END"""
      .stripMargin)
    ds.select(col("event_type"), col("n_days"),
        col("d_pos").as("days_treated_wins"),
        col("d_neg").as("days_control_wins"),
        osign.as("overall_sign"),
        expr("""CASE WHEN tnt = 0 OR tnc = 0
          |    OR tsct * tnc - tscc * tnt = 0 OR d_pos = d_neg THEN NULL
          |  WHEN (tsct * tnc - tscc * tnt > 0) <> (d_pos > d_neg)
          |    THEN 'reversal' ELSE 'consistent'
          |  END""".stripMargin).as("simpson_verdict"))
      .orderBy(col("event_type"))
  }
}
