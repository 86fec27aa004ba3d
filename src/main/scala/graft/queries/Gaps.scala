package graft.queries

import graft.{Q, Tables}
import graft.functions.Exact
import graft.operators.{Fan, OrderedBins}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The remaining small SURVEY.md §2 operator families, one green query each:
  * right/full outer joins, ntile + distribution window functions, map
  * functions, approx_count_distinct (HLL), and OFFSET pagination.
  */
object Gaps {

  def all: Seq[Q] = Seq(
    q39FullOuterJoin, q40RightOuterJoin, q41NtileQuartiles,
    q42MapFuncs, q43ApproxDistinct, q44OffsetPaginate, q49SetopsLiteral,
    q53Pivot, q54Percentiles, q55SaltedAgg, q56Unpivot, q57GroupingSets,
    q58ApproxPercentile, q59CollectAgg, q61StatsMoments, q63SqlCorrelated,
    q79TableProfile, q80GapFill, q81ProfileJoin, q85Histogram,
    q88SaltedJoin, q89PartialMerge, q90IqrOutliers, q91EquidepthHist,
    q95SkewDiagnose, q97DataQuality, q98SketchRollup, q99HeavyHitters,
    q111DriftPsi, q121KAnonymity, q125DpRelease, q128DpSumRelease,
    q135QuantileBisect, q139WeightedQuantile, q140KsDrift,
    q142RankTransform, q147ParetoGini, q165ParetoSkyline, q166WinsorizedMean,
    q196MadOutliers, q273LdivTcloseness)

  /** Approximate heavy hitters (DataSketches frequent-items via Spark 4's
    * `approx_top_k`): the top-k most frequent terms in the corpus from ONE
    * bounded-memory sketch aggregate — the q95 skew diagnosis's companion
    * when the heavy keys themselves are wanted and the key space is too
    * large for an exact count table (a 100 TB corpus vocabulary). The
    * sketch state is fixed-size regardless of cardinality and merges
    * map-side like any aggregate. Sketch output has no DuckDB twin
    * (rows-only by design); SketchRollupSpec asserts the returned set is a
    * valid top-k under ties and every estimate equals the exact count.
    */
  val q99HeavyHitters = Q.noOracle("q99_heavy_hitters") { (s, d) =>
    Fan.fan(Tables.documents(s, d))
      .select(explode(split(col("text"), " ")).as("term"))
      .agg(expr("approx_top_k(term, 10)").as("top"))
      .select(explode(col("top")).as("hh"))
      .select(col("hh.item").as("term"), col("hh.count").as("est_count"))
      .orderBy(col("est_count").desc, col("term"))
  }

  /** Mergeable-sketch distinct rollup — the companion to q89's algebraic
    * partial merge for the one aggregate that ISN'T algebraic: per-day
    * DataSketches HLL sketches of the user set, merged upward to a total
    * without ever re-touching the rows. count(DISTINCT) cannot be
    * maintained incrementally (yesterday's count + today's count
    * double-counts returning users); a stored sketch per partition can be
    * unioned with any later partition's sketch, which is how a 100 TB
    * pipeline serves "uniques this month" from daily rollups. Sketch
    * binaries are engine-specific, so there is no DuckDB twin (rows-only
    * by design, the q43 pattern); SketchRollupSpec asserts every estimate
    * within 5% of exact and that the merged estimate equals re-sketching
    * from scratch.
    */
  val q98SketchRollup = Q.noOracle("q98_sketch_rollup") { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
    val perDay = daily.select(col("day").cast("string").as("grain"),
      col("n_events"), hll_sketch_estimate(col("sk")).as("approx_users"))
    val total = daily.agg(sum(col("n_events")).as("n_events"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
      .select(lit("TOTAL").as("grain"), col("n_events"), col("approx_users"))
    perDay.unionByName(total).orderBy(col("grain"))
  }

  /** Declarative data-quality constraint validation (the Deequ-shaped
    * expectation suite a production pipeline gates ingests on): primary-key
    * uniqueness, referential integrity, domain ranges, and non-null
    * checks, each evaluated as ONE bounded aggregate (uniqueness = count
    * vs distinct over the key, integrity = anti-join count, ranges/nulls =
    * conditional counts in a shared scan) and folded into a uniform
    * violations report. Each rule's cost is the cheapest plan for that
    * rule class — nothing quadratic, the FK check is the only join and it
    * broadcasts its dimension side. A failed run is data, not an
    * exception: the report is the gate's input.
    */
  val q97DataQuality = Q(
    "q97_data_quality",
    """SELECT 'customer_name_notnull' AS rule, count(*) AS n_checked,
      |  count(*) - count(c_name) AS n_violations,
      |  count(*) - count(c_name) = 0 AS pass
      |FROM customer
      |UNION ALL
      |SELECT 'lineitem_discount_range', count(*),
      |  count(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 END),
      |  count(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 END) = 0
      |FROM lineitem
      |UNION ALL
      |SELECT 'lineitem_quantity_range', count(*),
      |  count(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END),
      |  count(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END) = 0
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders_custkey_fk', count(*),
      |  count(CASE WHEN c_custkey IS NULL THEN 1 END),
      |  count(CASE WHEN c_custkey IS NULL THEN 1 END) = 0
      |FROM (SELECT o.o_custkey, c.c_custkey FROM orders o
      |      LEFT JOIN customer c ON o.o_custkey = c.c_custkey) j
      |UNION ALL
      |SELECT 'orders_pk_unique', count(*),
      |  count(*) - count(DISTINCT o_orderkey),
      |  count(*) - count(DISTINCT o_orderkey) = 0
      |FROM orders
      |ORDER BY rule NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.DataFrame
    val cust = Tables.customer(s, d)
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    def report(rule: String, checked: Column, viol: Column)(df: DataFrame) =
      df.agg(checked.as("n_checked"), viol.as("n_violations"))
        .select(lit(rule).as("rule"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
    def rangeViol(c: Column, lo: Double, hi: Double): Column =
      count(when(c < lo || c > hi, lit(1)))
    val rules: Seq[DataFrame] = Seq(
      report("customer_name_notnull",
        count(lit(1)), count(lit(1)) - count(col("c_name")))(cust),
      report("lineitem_discount_range",
        count(lit(1)), rangeViol(col("l_discount"), 0, 0.1))(li),
      report("lineitem_quantity_range",
        count(lit(1)), rangeViol(col("l_quantity"), 1, 50))(li),
      report("orders_custkey_fk",
        count(lit(1)), count(when(col("c_custkey").isNull, lit(1))))(
        ord.join(broadcast(cust.select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left")),
      report("orders_pk_unique",
        count(lit(1)), count(lit(1)) - countDistinct(col("o_orderkey")))(ord),
    )
    rules.reduce(_ unionByName _).orderBy(col("rule"))
  }

  /** Join-key skew diagnostics — the measurement that decides WHEN to
    * reach for q88's salting or AQE's skew split: per-key frequencies
    * (one map-side-combined aggregate), rolled into per-column skew
    * statistics — max/mean frequency ratio (the skew factor), the top
    * key's share, and the p99 frequency — for each candidate join key.
    * The heavy-key list any real diagnosis also wants is q16/q17's top-k;
    * here the output is the bounded per-column summary a planner or an
    * operator-selection heuristic consumes. Two keys profiled in one
    * query via a union of two independent aggregates (each shuffles only
    * its own key's frequency table, which is key-cardinality-sized).
    */
  val q95SkewDiagnose = Q(
    "q95_skew_diagnose",
    """WITH f1 AS (SELECT l_suppkey AS k, count(*) AS c FROM lineitem
      |            GROUP BY l_suppkey),
      |f2 AS (SELECT l_returnflag AS k, count(*) AS c FROM lineitem
      |       GROUP BY l_returnflag)
      |SELECT 'l_suppkey' AS key_col, count(*) AS n_keys,
      |  CAST(max(c) AS BIGINT) AS max_freq,
      |  round(CAST(max(c) AS DOUBLE) * count(*) / sum(c), 6) AS skew_factor,
      |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share,
      |  CAST(quantile_cont(c, 0.99) AS DOUBLE) AS p99_freq
      |FROM f1
      |UNION ALL
      |SELECT 'l_returnflag', count(*), CAST(max(c) AS BIGINT),
      |  round(CAST(max(c) AS DOUBLE) * count(*) / sum(c), 6),
      |  round(CAST(max(c) AS DOUBLE) / sum(c), 6),
      |  CAST(quantile_cont(c, 0.99) AS DOUBLE)
      |FROM f2
      |ORDER BY key_col NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    def profileKey(key: String) =
      Tables.lineitem(s, d)
        .groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_keys"),
          max(col("c")).as("max_freq"),
          round(max(col("c")).cast("double") * count(lit(1)) / sum(col("c")), 6)
            .as("skew_factor"),
          round(max(col("c")).cast("double") / sum(col("c")), 6)
            .as("top_share"),
          expr("percentile(c, 0.99)").as("p99_freq"))
        .select(lit(key).as("key_col"), col("n_keys"), col("max_freq"),
          col("skew_factor"), col("top_share"), col("p99_freq"))
    profileKey("l_suppkey").unionByName(profileKey("l_returnflag"))
      .orderBy(col("key_col"))
  }

  /** EQUI-DEPTH histogram (the planner-stats twin of q85's equi-width
    * bins): decile edges from ONE exact-percentile aggregate, broadcast
    * back onto a second scan, bucket = 1 + #edges below the value. The
    * deliberate non-shape: `ntile(10) OVER (ORDER BY …)` — a GLOBAL-order
    * window that funnels the corpus through one task; edge-binning gives
    * the same distribution sketch from a broadcast of 9 doubles and two
    * scans, and the per-row edge comparison is a 9-element codegen'd
    * lambda. Value-tied rows land in the same bucket on both engines
    * (exact interpolated percentiles are bit-identical, q54), so counts
    * hash-match. At 100 TB swap the exact percentile for
    * approx_percentile (q58) — same plan minus its sort.
    */
  val q91EquidepthHist = Q(
    "q91_equidepth_hist",
    s"""WITH e AS (
       |  SELECT quantile_cont(o_totalprice,
       |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
       |  FROM orders
       |)
       |SELECT bucket, count(*) AS n_orders,
       |  min(o_totalprice) AS lo, max(o_totalprice) AS hi,
       |  ${Exact.Sql.dsum("o_totalprice")} AS sum_price
       |FROM (
       |  SELECT o.o_totalprice,
       |    1 + len(list_filter(e.edges, x -> o.o_totalprice > x)) AS bucket
       |  FROM orders o CROSS JOIN e) t
       |GROUP BY bucket
       |ORDER BY bucket NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val orders = Tables.orders(s, d)
    val edges = orders.agg(
      expr("percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("edges"))
    orders.crossJoin(broadcast(edges))
      .select(col("o_totalprice"),
        (lit(1) + size(filter(col("edges"),
          x => col("o_totalprice") > x))).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"),
        Exact.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("bucket"))
  }

  /** Salted SKEW JOIN — the manual counterpart of the AQE skew split
    * ScaleSpec demonstrates: when one join key is so hot that a single
    * key's rows exceed an executor's partition (AQE splits oversized
    * PARTITIONS, but all rows of one key still hash to one of them), the
    * fact side salts each row deterministically (hash of its unique id,
    * mod R) and the dimension side replicates ×R with one row per salt —
    * the join key becomes (key, salt), spreading each hot key over R
    * tasks. R scales with observed skew, replication cost is R×|dim|
    * (tiny), and the result is provably identical to the unsalted join —
    * which is exactly what the oracle checks. Identical INCLUDING a NULL
    * key: the oracle's GROUP BY keeps a NULL group, so the salted join
    * must too — dim's distinct() already carries the NULL row, and the
    * join key uses null-safe equality (`<=>`, still a hash-joinable
    * equi-key) so NULL-keyed facts meet it (EdgeEventsSpec).
    */
  val q88SaltedJoin = Q(
    "q88_salted_join",
    s"""SELECT event_type, upper(event_type) AS type_label,
       |  count(*) AS n_events, ${Exact.Sql.dsum("value")} AS sum_value
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val r = 8
    val facts = Tables.events(s, d)
      .withColumn("salt", pmod(hash(col("event_id")), lit(r)))
    val dim = Tables.events(s, d).select(col("event_type")).distinct()
      .withColumn("type_label", upper(col("event_type")))
      .withColumn("salt", explode(sequence(lit(0), lit(r - 1))))
    facts.as("f").join(dim.as("dm"),
      col("f.event_type") <=> col("dm.event_type") &&
        col("f.salt") === col("dm.salt"))
      .groupBy(col("f.event_type").as("event_type"), col("dm.type_label"))
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum(col("value")).as("sum_value"))
      .select(col("event_type"), col("type_label"), col("n_events"),
        col("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Partial-aggregate MERGE — the algebraic-decomposition architecture
    * behind every incremental rollup: two independently-aggregated batches
    * (here a deterministic hash split standing in for "yesterday's rollup"
    * and "today's delta") merge into the exact full aggregate by combining
    * their algebraic parts (Σc, Σsum, min, max — avg derives as Σsum/Σc at
    * the end, never merged directly). This is what lets a 100 TB pipeline
    * maintain daily cubes by aggregating ONLY the new partition and
    * merging: the oracle proves merge(partials) ≡ aggregate(all). Decimal
    * partial sums keep the merge order-free.
    */
  val q89PartialMerge = Q(
    "q89_partial_merge",
    s"""SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |  count(*) AS n_events, ${Exact.Sql.dsum("value")} AS sum_value,
       |  min(value) AS min_value, max(value) AS max_value,
       |  ${Exact.Sql.davg("value")} AS avg_value
       |FROM events
       |GROUP BY event_type, day
       |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.DataFrame
    val ev = Tables.events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"),
        pmod(hash(col("event_id")), lit(2)).as("batch"))
    def partial(batch: Int): DataFrame = ev
      .filter(col("batch") === batch)
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"),
        sum(col("value").cast("decimal(18,4)")).as("sd"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
    partial(0).unionByName(partial(1))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).as("n_events"),
        sum(col("sd")).cast("double").as("sum_value"),
        min(col("mn")).as("min_value"), max(col("mx")).as("max_value"),
        (sum(col("sd")).cast("double") / sum(col("c"))).as("avg_value"))
      .orderBy(col("event_type"), col("day"))
  }

  /** IQR outlier fencing (the standard distribution-based data-cleaning
    * rule): per-group exact q1/q3 → Tukey fences at 1.5×IQR → per-group
    * outlier accounting. The stats table is group-cardinality-sized and
    * broadcasts back onto a second scan; the fence comparison is exact
    * cross-engine because interpolated percentiles are bit-identical
    * (q54). At 100 TB the exact percentile sort-agg is the cost center —
    * swap in approx_percentile (q58) for the same plan minus the sort.
    */
  val q90IqrOutliers = Q(
    "q90_iqr_outliers",
    """WITH st AS (
      |  SELECT o_orderpriority,
      |    quantile_cont(o_totalprice, 0.25) AS q1,
      |    quantile_cont(o_totalprice, 0.75) AS q3
      |  FROM orders GROUP BY o_orderpriority
      |)
      |SELECT o.o_orderpriority, count(*) AS n_orders,
      |  count(*) FILTER (WHERE o.o_totalprice
      |    > st.q3 + 1.5 * (st.q3 - st.q1)) AS n_high,
      |  count(*) FILTER (WHERE o.o_totalprice
      |    < st.q1 - 1.5 * (st.q3 - st.q1)) AS n_low
      |FROM orders o JOIN st ON o.o_orderpriority = st.o_orderpriority
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val orders = Tables.orders(s, d)
    val st = orders.groupBy(col("o_orderpriority"))
      .agg(expr("percentile(o_totalprice, 0.25)").as("q1"),
        expr("percentile(o_totalprice, 0.75)").as("q3"))
    orders.join(broadcast(st), "o_orderpriority")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        count(when(col("o_totalprice")
          > col("q3") + lit(1.5) * (col("q3") - col("q1")), lit(1))).as("n_high"),
        count(when(col("o_totalprice")
          < col("q1") - lit(1.5) * (col("q3") - col("q1")), lit(1))).as("n_low"))
      .orderBy(col("o_orderpriority"))
  }

  /** Fixed-width histogram binning (the data-distribution profile q79's
    * min/max can't give): order totals bucketed into 20 static-width bins
    * with the top bin clamping the tail, per-bin count and exact decimal
    * sum. Static bounds make it ONE map-side-combined aggregate over a
    * pure scan — the data-driven alternative (min/max first) costs an
    * extra tiny pass but the same shuffle; at 100 TB the bin table is 20
    * rows regardless of volume.
    */
  val q85Histogram = Q(
    "q85_histogram",
    s"""WITH b AS (
       |  SELECT least(CAST(floor(o_totalprice / 25000) AS BIGINT), 19) AS bin,
       |    o_totalprice
       |  FROM orders
       |)
       |SELECT bin, bin * 25000 AS bin_lo, (bin + 1) * 25000 AS bin_hi,
       |  count(*) AS n_orders,
       |  ${Exact.Sql.dsum("o_totalprice")} AS sum_price
       |FROM b GROUP BY bin
       |ORDER BY bin NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.orders(s, d)
      .select(least(floor(col("o_totalprice") / 25000).cast("long"), lit(19L))
        .as("bin"), col("o_totalprice"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.dsum(col("o_totalprice")).as("sum_price"))
      .select(col("bin"), (col("bin") * 25000).as("bin_lo"),
        ((col("bin") + 1) * 25000).as("bin_hi"),
        col("n_orders"), col("sum_price"))
      .orderBy(col("bin"))
  }

  /** Time-series gap filling: a complete (event_type × hour) date spine —
    * exploded from one sequence over the observed bounds, crossed with the
    * tiny type dimension — left-joined to the observed hourly counts, with
    * zero-fill, a gap flag, and last-observation-carried-forward
    * imputation (`last(_, ignoreNulls)` over the spine order). The spine
    * side scales with TIME RANGE × cardinality, not with data volume, so
    * at 100 TB the only corpus-sized work is the first aggregate; the
    * LOCF window rides the same (type, hour) partitioning as the join.
    */
  val q80GapFill = Q(
    "q80_gap_fill",
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2
      |),
      |bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM b),
      |hours AS (
      |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |spine AS (SELECT t.event_type, hrs.h FROM types t CROSS JOIN hours hrs)
      |SELECT s.event_type, s.h,
      |  coalesce(b.n, 0) AS n,
      |  b.n IS NULL AS is_gap,
      |  last_value(b.n IGNORE NULLS) OVER (
      |    PARTITION BY s.event_type ORDER BY s.h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_locf
      |FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.h = b.h
      |ORDER BY s.event_type NULLS FIRST, s.h NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val b = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val hours = b.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("h"))
    val types = Tables.events(s, d).select(col("event_type")).distinct()
    val spine = types.crossJoin(broadcast(hours))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(b, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("n"), lit(0L)).as("n_filled"),
        col("n").isNull.as("is_gap"),
        last(col("n"), ignoreNulls = true).over(w).as("n_locf"))
      .withColumnRenamed("n_filled", "n")
      .orderBy(col("event_type"), col("h"))
  }

  private[graft] val profileCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  /** Table profiling (the ANALYZE-shaped operator every engine needs for
    * stats-driven planning and data-quality checks), via
    * [[graft.operators.Profile]]. The oracle checks the EXACT part (row
    * count, null count, min/max — one scan, one HashAggregate, NO Expand);
    * NDV rides an HLL++ sketch whose ≤10% accuracy ProfileSpec asserts
    * against the exact count. Round 6's version put 11 exact
    * `count(DISTINCT)` in one aggregate — an Expand ×11 of lineitem into a
    * corpus-wide shuffle (1.1 PB at 100 TB) and 19% of the whole bench;
    * sketch NDV is what real ANALYZE implementations ship.
    */
  val q79TableProfile = {
    val cols = profileCols
    val duckAggs = cols.map(c =>
      s"""count($c) AS nn_$c,
         |    CAST(min($c) AS VARCHAR) AS mn_$c,
         |    CAST(max($c) AS VARCHAR) AS mx_$c""".stripMargin).mkString(",\n  ")
    val duckRows = cols.map(c =>
      s"""SELECT '$c' AS column_name, n_rows, n_rows - nn_$c AS n_nulls,
         |  mn_$c AS min_value, mx_$c AS max_value FROM a"""
        .stripMargin).mkString("\nUNION ALL\n")
    Q(
      "q79_table_profile",
      s"""WITH a AS (
         |  SELECT count(*) AS n_rows,
         |  $duckAggs
         |  FROM lineitem
         |)
         |$duckRows
         |ORDER BY column_name NULLS FIRST""".stripMargin,
    ) { (s, d) =>
      graft.operators.Profile
        .profile(Tables.lineitem(s, d), cols, withNdv = false)
        .orderBy(col("column_name"))
    }
  }

  /** The profile CONSUMED: stats-driven join planning. A profile pass over
    * each join side (bounded 1-row driver action per side — the shape of
    * AQE's query-stage stats, not a data-path collect) decides which side
    * to broadcast; with `autoBroadcastJoinThreshold=-1` ProfileSpec proves
    * the profile decision alone produces the BroadcastHashJoin. The query
    * result is plan-independent, so the oracle stays a plain join-agg; sums
    * ride [[Exact]] decimals (order-free across engines).
    */
  val q81ProfileJoin = Q(
    "q81_profile_join",
    s"""SELECT c_mktsegment, count(*) AS n_orders,
       |  ${Exact.Sql.dsum("o_totalprice")} AS sum_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    import graft.operators.Profile
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
    val joined = Profile.joinWithProfiledBroadcast(
      cust, Profile.profile(cust, Seq("c_custkey")),
      ord, Profile.profile(ord, Seq("o_custkey")),
      col("o_custkey") === col("c_custkey"))
    joined.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** FULL OUTER: per-nation customer counts vs supplier counts — each side
    * has nations the other lacks, so both null directions are exercised.
    */
  val q39FullOuterJoin = Q(
    "q39_full_outer_join",
    """SELECT coalesce(a.nk, b.nk) AS nationkey, a.n_cust, b.n_supp
      |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer
      |      WHERE c_nationkey < 12 GROUP BY 1) a
      |FULL OUTER JOIN
      |     (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1) b
      |ON a.nk = b.nk
      |ORDER BY nationkey NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val cust = Tables.customer(s, d)
      .filter(col("c_nationkey") < 12)
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_cust"))
    val supp = Tables.supplier(s, d)
      .groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_supp"))
    cust.as("a")
      .join(supp.as("b"), col("a.nk") === col("b.nk"), "full_outer")
      .select(coalesce(col("a.nk"), col("b.nk")).as("nationkey"),
        col("n_cust"), col("n_supp"))
      .orderBy(col("nationkey"))
  }

  /** RIGHT OUTER: every customer keeps a row even with zero orders. */
  val q40RightOuterJoin = Q(
    "q40_right_outer_join",
    """SELECT c_custkey, count(o_orderkey) AS n_orders
      |FROM orders RIGHT OUTER JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"), "right_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))
  }

  /** ntile + the distribution window functions (percent_rank, cume_dist)
    * over account balances within market segment.
    */
  val q41NtileQuartiles = Q(
    "q41_ntile_quartiles",
    """SELECT c_custkey, c_mktsegment,
      |  ntile(4) OVER w AS quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy(col("c_custkey"))
  }

  /** Map functions: build a map per event, read it back (keys, lookup,
    * size, concat). The oracle predicts the outputs from the map-free
    * equivalents — insertion order of map_keys is part of the contract.
    */
  val q42MapFuncs = Q(
    "q42_map_funcs",
    """SELECT event_id,
      |  'et,k' AS keys_csv,
      |  event_type AS et_val,
      |  json_extract_string(props, '$.k') AS k_val,
      |  2 AS m_size,
      |  3 AS m_size_concat
      |FROM events
      |ORDER BY event_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val m = map(
      lit("et"), col("event_type"),
      lit("k"), get_json_object(col("props"), "$.k"))
    Tables.events(s, d)
      .select(col("event_id"), m.as("m"))
      .select(
        col("event_id"),
        array_join(map_keys(col("m")), ",").as("keys_csv"),
        element_at(col("m"), "et").as("et_val"),
        element_at(col("m"), "k").as("k_val"),
        size(col("m")).as("m_size"),
        size(map_concat(col("m"), map(lit("src"), lit("events"))))
          .as("m_size_concat"))
      .orderBy(col("event_id"))
  }

  /** approx_count_distinct (HLL sketch) next to the exact count. No oracle:
    * sketch estimates are engine-specific by construction — the driver
    * records the weaker rows-present check. The relative-error contract is
    * asserted in the ScalaTest suite instead.
    */
  val q43ApproxDistinct = Q.noOracle("q43_approx_distinct") { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        approx_count_distinct(col("o_custkey")).as("approx_cust"),
        count_distinct(col("o_custkey")).as("exact_cust"))
      .orderBy(col("o_orderstatus"))
  }

  /** The literal set-operation OPERATORS — `intersect`/`except`/`union` as
    * Spark plan nodes. q18 keeps its faster single-scan flag-aggregation
    * rewrite of the same semantics; this query exists so the actual
    * operators execute and stay covered (they plan as aggregate-rewritten
    * joins in Catalyst).
    */
  val q49SetopsLiteral = Q(
    "q49_setops_literal",
    """WITH a AS (SELECT o_custkey AS k FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |             AND o_orderdate <  TIMESTAMP '1996-01-01'),
      |     b AS (SELECT o_custkey AS k FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |             AND o_orderdate <  TIMESTAMP '1997-01-01')
      |SELECT 'both' AS tag, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b) t1
      |UNION ALL
      |SELECT 'only95' AS tag, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b) t2
      |ORDER BY tag NULLS FIRST, k NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    def side(year: Int) =
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey").as("k"))
    val a = side(1995)
    val b = side(1996)
    a.intersect(b).select(lit("both").as("tag"), col("k"))
      .union(a.except(b).select(lit("only95").as("tag"), col("k")))
      .orderBy(col("tag"), col("k"))
  }

  /** PIVOT: return-flag × line-status quantity matrix via Spark's
    * `groupBy.pivot` with an explicit value list (explicit values keep the
    * plan a single pass — no extra distinct-values job — and fix the output
    * schema, which is what you want at 100 TB). Sums route through
    * [[graft.functions.Exact.dsum]] for order-independence.
    */
  val q53Pivot = Q(
    "q53_pivot",
    s"""SELECT l_returnflag,
       |  ${Exact.Sql.dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS "F",
       |  ${Exact.Sql.dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS "O"
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(Exact.dsum(col("l_quantity")))
      .orderBy(col("l_returnflag"))
  }

  /** Exact interpolated percentiles (quantile_cont semantics) per group.
    * l_quantity is integer-valued and the fractions are powers of two, so
    * the lower + f·(upper−lower) interpolation is exact in IEEE double in
    * both engines — no rounding needed. Spark plans this as a sort-based
    * aggregate per group; at scale the per-group sort is the cost, which is
    * why the sketch twin q58 (approx_percentile, a mergeable GK-style
    * summary) is the 100 TB path.
    */
  val q54Percentiles = Q(
    "q54_percentiles",
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.50) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75,
      |  max(l_quantity) AS qmax
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.50)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        max(col("l_quantity")).as("qmax"))
      .orderBy(col("l_returnflag"))
  }

  /** approx_percentile — q54's sketch twin: a mergeable quantile summary
    * (partial sketches combine associatively, so the agg stays map-side
    * partial + small exchange instead of a per-group sort). No oracle:
    * sketch outputs are engine-specific by construction — the driver
    * records rows-present; the accuracy contract (exact match on this
    * integer-valued column at accuracy 10000) is asserted in the ScalaTest
    * suite against q54's exact percentiles. One sketch serves all three
    * fractions; the array is unpacked to scalar columns because the
    * driver's pandas compare cannot hash array cells.
    */
  val q58ApproxPercentile = Q.noOracle("q58_approx_percentile") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 10000)")
          .as("pcts"))
      .select(
        col("l_returnflag"),
        element_at(col("pcts"), 1).as("p25"),
        element_at(col("pcts"), 2).as("p50"),
        element_at(col("pcts"), 3).as("p75"))
      .orderBy(col("l_returnflag"))
  }

  /** collect_set list-fold — the manifest-fold idiom (SURVEY §2.4: the
    * reference's one real aggregation groups uploaded file keys into
    * per-table lists, main.py:240-243). collect_set's order is
    * partition-dependent, so array_sort pins it, and the sorted list is
    * serialized to a comma-joined string because the driver's pandas
    * compare cannot hash array cells. At scale the collected list must be
    * BOUNDED per group (here ≤3 statuses) — unbounded collect_list of a
    * hot group is a driver/executor OOM, which is why the engine's exports
    * accumulate file keys per table (small) and never collect row-level
    * data.
    */
  val q59CollectAgg = Q(
    "q59_collect_agg",
    """SELECT o_orderpriority,
      |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
      |  count(*) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        concat_ws(",", array_sort(collect_set(col("o_orderstatus")))).as("statuses"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Salted two-stage aggregation — the skew-mitigation idiom for a
    * hot-key groupBy at 100 TB: stage 1 fans each key across 16 salt
    * buckets (hash of the row id, NOT the key) so one hot event_type
    * spreads over 16 reducers; stage 2 merges the per-salt partials. The
    * result is provably salt-invariant, which the plain-GROUP-BY oracle
    * checks. Counts add; double sums ride decimal partials so the extra
    * merge level stays exact.
    */
  val q55SaltedAgg = Q(
    "q55_salted_agg",
    s"""SELECT event_type, count(*) AS n_events,
       |  ${Exact.Sql.dsum("value")} AS sum_value
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val salted = Tables.events(s, d)
      .groupBy(col("event_type"),
        pmod(hash(col("event_id")), lit(16)).as("salt"))
      .agg(
        count(lit(1)).as("c"),
        sum(col("value").cast("decimal(18,4)")).as("sd"))
    salted
      .groupBy(col("event_type"))
      .agg(
        sum(col("c")).as("n_events"),
        sum(col("sd")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** UNPIVOT (melt) — q53's inverse: wide per-flag metric columns back to
    * long (flag, metric, val) rows via the native `Dataset.unpivot`
    * operator (plans as Expand: one pass, rows×metrics output, no shuffle
    * beyond the agg already paid). Oracle spells it UNION ALL, the
    * portable equivalent.
    */
  val q56Unpivot = Q(
    "q56_unpivot",
    s"""WITH a AS (
       |  SELECT l_returnflag,
       |    ${Exact.Sql.dsum("l_extendedprice")} AS sum_price,
       |    ${Exact.Sql.dsum("l_discount")} AS sum_disc,
       |    ${Exact.Sql.dsum("l_tax")} AS sum_tax
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, metric, val FROM (
       |  SELECT l_returnflag, 'sum_price' AS metric, sum_price AS val FROM a
       |  UNION ALL
       |  SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS val FROM a
       |  UNION ALL
       |  SELECT l_returnflag, 'sum_tax' AS metric, sum_tax AS val FROM a) t
       |ORDER BY l_returnflag NULLS FIRST, metric NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        Exact.dsum(col("l_extendedprice")).as("sum_price"),
        Exact.dsum(col("l_discount")).as("sum_disc"),
        Exact.dsum(col("l_tax")).as("sum_tax"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_price"), col("sum_disc"), col("sum_tax")),
        "metric", "val")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  /** Explicit GROUPING SETS — the general form behind q11's ROLLUP and
    * q12's CUBE: two independent one-dimension marginals plus the grand
    * total in a single pass (Expand → one hash aggregate), instead of
    * three scans unioned.
    */
  val q57GroupingSets = Q(
    "q57_grouping_sets",
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS st,
       |  COALESCE(o_orderpriority, 'ALL') AS pri,
       |  count(*) AS n, ${Exact.Sql.dsum("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       |HAVING count(*) > 0
       |ORDER BY st NULLS FIRST, pri NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        Exact.dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
        col("n"), col("sum_price"))
      .orderBy(col("st"), col("pri"))
  }

  /** Variance / stddev via decimal-exact moment sums. The built-in
    * stddev_samp is merge-order-sensitive in its last ulps (Welford partial
    * merges happen in partition order), so the oracle-checked columns
    * compute sample variance from EXACT Σx and Σx² (decimal partials,
    * associative) divided out in double — bit-identical in both engines,
    * any partitioning. The built-in is asserted against this formula (1e-6
    * relative) in the ScalaTest suite. Same single hash-agg shape at any
    * scale; the moment sums are just two more map-side-combined columns.
    */
  val q61StatsMoments = Q(
    "q61_stats_moments",
    """SELECT l_returnflag, n, mean,
      |  (sx2 - sx * sx / n) / (n - 1) AS var_samp,
      |  sqrt((sx2 - sx * sx / n) / (n - 1)) AS stddev_samp
      |FROM (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sx2,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mean
      |  FROM lineitem GROUP BY l_returnflag) t
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sx"),
        sum((col("l_quantity") * col("l_quantity")).cast("decimal(28,4)"))
          .cast("double").as("sx2"))
      .select(
        col("l_returnflag"), col("n"),
        (col("sx") / col("n")).as("mean"),
        // try_divide: a single-row group has no sample variance (n−1 = 0);
        // DuckDB's division yields NULL there where ANSI Spark throws
        try_divide(col("sx2") - col("sx") * col("sx") / col("n"),
          col("n") - 1).as("var_samp"),
        sqrt(try_divide(col("sx2") - col("sx") * col("sx") / col("n"),
          col("n") - 1)).as("stddev_samp"))
      .orderBy(col("l_returnflag"))
  }

  /** The spark.sql PARSER path — every other query enters through the
    * DataFrame API; this one goes SQL-text → Catalyst, with a correlated
    * EXISTS (decorrelated by Catalyst into a left-semi join) and a
    * correlated scalar subquery (decorrelated into an aggregate + left
    * outer join). Same physical plans as the API twins q05/q26 — the point
    * is that the SQL surface is a first-class entry into the same engine.
    */
  val q63SqlCorrelated = Q(
    "q63_sql_correlated",
    """SELECT c_custkey,
      |  (SELECT max(o_totalprice) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS max_price
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 150000)
      |ORDER BY c_custkey NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 150000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** OFFSET pagination (S2's engine-side twin): page 3 of the order book.
    * Catalyst folds orderBy+offset+limit into one GlobalLimit/Offset plan.
    */
  val q44OffsetPaginate = Q(
    "q44_offset_paginate",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_orderkey NULLS FIRST
      |LIMIT 50 OFFSET 100""".stripMargin,
  ) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
      .offset(100)
      .limit(50)
  }

  /** Distribution-drift detection via Population Stability Index — the
    * snapshot-over-snapshot monitor a production pipeline runs before
    * trusting a new data drop (q97 checks CONSTRAINTS; this checks the
    * SHAPE of a numeric column against the previous epoch). Orders split
    * into two epochs at a literal date; `o_totalprice` lands in 10
    * fixed-width bins (q85's clamp idiom); per bin, PSI_i =
    * (p_a − p_b)·ln(p_a/p_b) with Laplace add-one smoothing so an empty
    * bin in one epoch yields a finite, large term instead of ±∞.
    *
    * Plan at 100 TB: ONE scan of the fact table into a 10-row conditional
    * aggregate (both epoch counts from the same pass — no per-epoch scan),
    * then the epoch totals come from a window over THAT 10-row aggregate.
    * The unpartitioned window is deliberate and safe: its input is bounded
    * at the bin count by construction, never data-sized (the q91 rule
    * forbids global windows over DATA; this is over the histogram).
    * Cross-engine exactness: counts are integers, the probability divides
    * are IEEE-identical, and the lone transcendental goes through the
    * float-cast (q87's libm-wobble rule) before the rounded product.
    */
  val q111DriftPsi = Q(
    "q111_drift_psi",
    """WITH b AS (
      |  SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bin,
      |    CASE WHEN o_orderdate < TIMESTAMP '1998-07-01' THEN 0 ELSE 1 END
      |      AS epoch
      |  FROM orders),
      |c AS (
      |  SELECT bin,
      |    count(*) FILTER (WHERE epoch = 0) AS a_cnt,
      |    count(*) FILTER (WHERE epoch = 1) AS b_cnt
      |  FROM b GROUP BY bin),
      |p AS (
      |  SELECT bin, a_cnt, b_cnt,
      |    CAST(a_cnt + 1 AS DOUBLE) / CAST(sum(a_cnt) OVER () + 10 AS DOUBLE)
      |      AS p_a,
      |    CAST(b_cnt + 1 AS DOUBLE) / CAST(sum(b_cnt) OVER () + 10 AS DOUBLE)
      |      AS p_b
      |  FROM c)
      |SELECT bin, a_cnt, b_cnt,
      |  round(CAST(p_a - p_b AS DOUBLE)
      |    * CAST(CAST(ln(p_a / p_b) AS FLOAT) AS DOUBLE), 6) AS psi_term
      |FROM p ORDER BY bin NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val mid = to_timestamp(lit("1998-07-01 00:00:00"))
    val c = Tables.orders(s, d)
      .select(
        least(floor(col("o_totalprice") / 50000).cast("long"), lit(9L))
          .as("bin"),
        when(col("o_orderdate") < mid, 0).otherwise(1).as("epoch"))
      .groupBy(col("bin"))
      .agg(count(when(col("epoch") === 0, 1)).as("a_cnt"),
        count(when(col("epoch") === 1, 1)).as("b_cnt"))
    // totals via a window over the 10-row histogram (bounded by construction)
    val all = Window.partitionBy()
    val p = c.select(col("bin"), col("a_cnt"), col("b_cnt"),
      ((col("a_cnt") + 1).cast("double")
        / (sum(col("a_cnt")).over(all) + 10).cast("double")).as("p_a"),
      ((col("b_cnt") + 1).cast("double")
        / (sum(col("b_cnt")).over(all) + 10).cast("double")).as("p_b"))
    p.select(col("bin"), col("a_cnt"), col("b_cnt"),
      round((col("p_a") - col("p_b")).cast("double")
        * log(col("p_a") / col("p_b")).cast("float").cast("double"), 6)
        .as("psi_term"))
      .orderBy(col("bin"))
  }

  /** k-anonymity risk audit — the privacy-governance measurement that
    * complements q82 (which SCRUBS direct identifiers): a released record
    * is re-identifiable when its QUASI-identifier combination (here
    * nation × segment × account-balance band) is shared by fewer than k
    * individuals. Reports every violating group with its size — the
    * generalize-or-suppress worklist a release pipeline consumes. Plan:
    * one hash aggregate on the quasi-identifier tuple with map-side
    * combine, then a bounded HAVING filter; group count is capped by the
    * quasi-identifier domain product, never row count.
    */
  val q121KAnonymity = Q(
    "q121_k_anonymity",
    """SELECT c_nationkey, c_mktsegment,
      |  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
      |  count(*) AS group_size
      |FROM customer
      |GROUP BY 1, 2, 3
      |HAVING count(*) < 5
      |ORDER BY c_nationkey NULLS FIRST, c_mktsegment NULLS FIRST,
      |  bal_band NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < 5)
      .orderBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
  }

  /** Discrete-Laplace (two-sided geometric) noise geometry for the DP
    * count release: α = e^(−ε/Δ) with ε = 1, sensitivity Δ = 1 (one user
    * changes one count by one), tail truncated at |k| ≤ 20 (residual mass
    * ~4·10⁻⁹ — formally (ε, δ≈4e−9)-DP, the standard bounded-noise
    * trade). `dpThresholds` are the inverse-CDF breakpoints scaled to the
    * 60-bit uniform: noise(u) = min{k : u < t_k}. They are computed ONCE
    * here (driver-side doubles) and embedded as INTEGER literals in both
    * engines' plans, so query-time math is pure integer comparison — no
    * cross-engine libm (`ln`, `exp`) ever runs per row, which is what
    * makes a NOISE mechanism hash-match a DuckDB oracle.
    */
  private val DpK = 20

  /** The threshold inversion as a PURE PROJECTION — a chained CASE over
    * the 41 integer literals (noise = min k with u < t_k). Semantically
    * identical to the broadcast-join form q125/q128 use, but stateless:
    * no join, no second aggregation — which is what lets the mechanism
    * run under APPEND-MODE STREAMING (q129's daily release), where a
    * post-aggregate join-then-min would be a second stateful operator.
    */
  private[graft] def dpNoiseExpr(u: Column): Column =
    dpThresholds.init.foldRight(lit(dpThresholds.last._1): Column) {
      case ((k, t), acc) => when(u < t, lit(k)).otherwise(acc)
    }

  /** DuckDB twin of [[dpNoiseExpr]] — keep in lockstep. */
  private[graft] def dpNoiseSql(u: String): String =
    "CASE " + dpThresholds.init
      .map { case (k, t) => s"WHEN $u < $t THEN $k" }.mkString(" ") +
      s" ELSE ${dpThresholds.last._1} END"

  private[graft] val dpThresholds: Seq[(Int, Long)] = {
    val alpha = math.exp(-1.0)
    val ws = (-DpK to DpK).map(j => math.pow(alpha, math.abs(j)))
    val z = ws.sum
    val cum = ws.scanLeft(0.0)(_ + _).tail
    (-DpK to DpK).zip(cum).map { case (k, c) =>
      if (k == DpK) (k, 1L << 62) // strictly above every 60-bit uniform
      else (k, math.ceil(c / z * math.pow(2, 60)).toLong)
    }
  }

  /** Differentially private count release [EXT] — the publishable
    * complement of q121's k-anonymity audit: per-group counts released
    * with discrete-Laplace noise (ε = 1), clamped at 0. What a corpus
    * card or data-statement pipeline runs before publishing composition
    * statistics over training data.
    *
    * The noise is SEEDED, not sampled: the 60-bit uniform is the leading
    * 15 hex chars of sha256(group ‖ salt) — deterministic per group and
    * release epoch (rotate the salt per release; same-epoch replays are
    * idempotent, which is also what makes the operator testable and
    * oracle-checkable), then inverted through [[dpThresholds]] by a
    * broadcast 41-row threshold join: noise = min k with u < t_k. Clamp
    * to ≥0 is post-processing and costs no privacy.
    *
    * Shape at scale: one map-side-combined count aggregate (group
    * cardinality rows out), one broadcast join against 41 literal rows,
    * one tiny min aggregate — nothing beyond the counting query itself.
    */
  val q125DpRelease = Q(
    "q125_dp_release",
    s"""WITH g AS (
      |  SELECT event_type, count(*) AS n,
      |    ('0x' || substr(sha256(event_type || '|dp1'), 1, 15))::BIGINT AS u
      |  FROM events GROUP BY event_type
      |),
      |thr(k, t) AS (VALUES ${dpThresholds
            .map { case (k, t) => s"($k, $t)" }.mkString(", ")}),
      |noise AS (
      |  SELECT g.event_type, g.n, min(thr.k) AS k
      |  FROM g JOIN thr ON g.u < thr.t
      |  GROUP BY g.event_type, g.n
      |)
      |SELECT event_type,
      |  CAST(greatest(0, n + k) AS BIGINT) AS released
      |FROM noise
      |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    import s.implicits._
    val thr = dpThresholds.toDF("k", "t")
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("u",
        conv(substring(sha2(concat(col("event_type"), lit("|dp1")), 256),
          1, 15), 16, 10).cast("long"))
      .join(broadcast(thr), col("u") < col("t"))
      .groupBy(col("event_type"), col("n"))
      .agg(min(col("k")).as("k"))
      .select(col("event_type"),
        greatest(lit(0L), col("n") + col("k")).cast("long").as("released"))
      .orderBy(col("event_type"))
  }

  /** USER-LEVEL differentially private SUM release [EXT] — q125's count
    * mechanism extended to the statistic that actually needs DP craft:
    * a sum where one USER may contribute many rows. Three standard moves,
    * each integer-exact on both engines:
    *
    *  1. CONTRIBUTION BOUNDING: per (group, user) totals are clipped to
    *     C = 50 value-units (micro fixed point), so adding or removing an
    *     entire user moves the group sum by at most C — user-level
    *     sensitivity, not the row-level fiction;
    *  2. LATTICE ROUNDING: the clipped sum is rounded to the C-lattice
    *     (all values non-negative after clipping, so `div` == `//`);
    *     neighboring datasets then differ by at most ONE lattice step,
    *     which maps sum-release onto exactly the ε = 1 geometric
    *     mechanism [[dpThresholds]] already implements;
    *  3. the same seeded hash-uniform → threshold inversion as q125
    *     (salt rotated to "dpsum1"), clamped at 0, released in
    *     micro-units (a BIGINT, so the hash compare is exact).
    *
    * Clipping bias is the documented trade (per-user totals above C are
    * flattened — that is what bounding the sensitivity MEANS); the bias
    * is data-visible while the noise is ±20 lattice steps.
    *
    * Shape at scale: two map-side-combined aggregates (user-level then
    * group-level) + the 41-row broadcast threshold join — the counting
    * query's cost, nothing more.
    */
  val q128DpSumRelease = Q(
    "q128_dp_sum_release",
    s"""WITH per_user AS (
      |  SELECT event_type, user_id,
      |    greatest(CAST(0 AS BIGINT), least(CAST(50000000 AS BIGINT),
      |      CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT))) AS uc
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type, user_id
      |),
      |g AS (
      |  SELECT event_type,
      |    CAST(sum(uc) AS BIGINT) // 50000000 AS s_lattice,
      |    ('0x' || substr(sha256(event_type || '|dpsum1'), 1, 15))::BIGINT AS u
      |  FROM per_user GROUP BY event_type
      |),
      |noise AS (
      |  SELECT g.event_type, g.s_lattice, min(thr.k) AS k
      |  FROM g JOIN (VALUES ${dpThresholds
            .map { case (k, t) => s"($k, $t)" }.mkString(", ")}) thr(k, t)
      |    ON g.u < thr.t
      |  GROUP BY g.event_type, g.s_lattice
      |)
      |SELECT event_type,
      |  CAST(greatest(0, s_lattice + k) * 50000000 AS BIGINT)
      |    AS released_sum_micro
      |FROM noise
      |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    import s.implicits._
    val cMicro = 50000000L // C = 50 value-units in micro fixed point
    val thr = dpThresholds.toDF("k", "t")
    Tables.events(s, d)
      // explicit NULL drop (the q124 rule): Spark's least/greatest SKIP
      // nulls, so an all-NULL-value user's NULL sum would otherwise clip
      // to the full bound C — contributing 50 units of phantom data
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      // clip to [0, C]: bounding BOTH sides keeps every lattice value
      // non-negative, so integer division below is floor on both engines
      .agg(greatest(lit(0L), least(lit(cMicro),
        sum(round(col("value") * 1e6).cast("long")))).as("uc"))
      .groupBy(col("event_type"))
      .agg(sum(col("uc")).cast("long").as("s_sum"))
      .withColumn("s_lattice", expr(s"s_sum div ${cMicro}L"))
      .withColumn("u",
        conv(substring(sha2(concat(col("event_type"), lit("|dpsum1")), 256),
          1, 15), 16, 10).cast("long"))
      .join(broadcast(thr), col("u") < col("t"))
      .groupBy(col("event_type"), col("s_lattice"))
      .agg(min(col("k")).as("k"))
      .select(col("event_type"),
        (greatest(lit(0L), col("s_lattice") + col("k")) * cMicro)
          .cast("long").as("released_sum_micro"))
      .orderBy(col("event_type"))
  }

  /** EXACT global order statistics WITHOUT a global sort — the third cell
    * of the quantile matrix (q54: exact per-group sort-aggregate; q58/q124:
    * mergeable sketches; this: exact at corpus scale): the classic
    * two-pass histogram-bisection selection. Pass 1 bins the value domain
    * into 4096 fixed-width integer-cent buckets (one map-side-combined
    * aggregate) and a ≤4096-row cumulative window locates, for each
    * requested rank k, the single bucket containing the k-th smallest
    * value plus the count below it. Pass 2 re-scans the value column and
    * keeps only the picked buckets' rows (a 3-row broadcast join — rows
    * die before any exchange), then row_numbers them to the residual
    * rank. Cost: two single-column scans + a sort of
    * n/4096-ish rows per quantile, vs the global sort's n·log n shuffle —
    * the way a 100 TB exact median is actually computed. Degenerate mass
    * concentration (all values in one bucket) degrades pass 2 toward a
    * full sort; the fix is recursive re-binning inside the bucket, noted
    * not needed at any tested scale.
    *
    * Ranks are ceil(q·n) (1-based k-th smallest, the quantile_disc
    * convention) computed in integer micro-q space; values are integer
    * CENTS (floor(x·100), the identical IEEE op both engines), so every
    * compared or emitted number is exact. The 2-scalar min/max driver
    * probe fixing the bin geometry is the q124 house shape. The DuckDB
    * twin is the full global sort — a different algorithm whose
    * hash-match proves the bisection exact.
    */
  val q135QuantileBisect = Q(
    "q135_quantile_bisect",
    """WITH v AS (
      |  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL
      |),
      |s AS (
      |  SELECT c, row_number() OVER (ORDER BY c) AS rn,
      |    count(*) OVER () AS n
      |  FROM v
      |),
      |q AS (SELECT unnest([500000, 900000, 990000]) AS qm),
      |r AS (
      |  SELECT qm, CAST(t.n AS BIGINT) AS n,
      |    CAST((t.n * qm + 999999) // 1000000 AS BIGINT) AS k
      |  FROM q, (SELECT count(*) AS n FROM v) t
      |)
      |SELECT CAST(r.qm AS DOUBLE) / 1000000.0 AS quantile, r.n, r.k,
      |  s.c AS value_cents
      |FROM r JOIN s ON s.rn = r.k
      |ORDER BY quantile NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val base = Tables.lineitem(s, d)
      .filter(col("l_extendedprice").isNotNull)
      .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("c"))
    // bounded driver probe: two scalars fix the bin geometry (q124 shape)
    val mm = base.agg(min(col("c")), max(col("c"))).head
    val (lo, hi) = // empty corpus → degenerate bounds, plan yields empty
      if (mm.isNullAt(0)) (0L, 0L) else (mm.getLong(0), mm.getLong(1))
    val w = (hi - lo) / 4096 + 1
    val binned = base.select(col("c"),
      expr(s"(c - ${lo}L) div ${w}L").as("bin"))
    val hist = binned.groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    val cum = hist.select(col("bin"), col("cnt"),
      sum(col("cnt")).over(Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"))
    val tot = base.agg(count(lit(1)).as("n"))
    val ranks = s.range(1).select(
        explode(lit(Array(500000L, 900000L, 990000L))).as("qm"))
      .crossJoin(broadcast(tot))
      .select(col("qm"), col("n").cast("long").as("n"),
        expr("(n * qm + 999999) div 1000000").cast("long").as("k"))
    // one bucket per rank: cum ≥ k and cum − cnt < k (3-row broadcast side)
    val picked = broadcast(ranks).join(cum,
        col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
      .select(col("qm"), col("n"), col("k"), col("bin"),
        (col("cum") - col("cnt")).as("below"))
    // pass 2: only the picked buckets' rows are re-scanned and ranked
    val inBin = binned.join(broadcast(picked), "bin")
    inBin
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qm")).orderBy(col("c"))))
      .filter(col("rn") === col("k") - col("below"))
      .select((col("qm").cast("double") / 1000000.0).as("quantile"),
        col("n"), col("k"), col("c").as("value_cents"))
      .orderBy(col("quantile"))
  }

  /** WEIGHTED exact quantiles — q135 generalized from row counts to an
    * integer weight column (here l_quantity: "the price below which half
    * the shipped UNITS fall", the inventory-weighted median family): the
    * answer at fraction q is the smallest value whose cumulative weight
    * reaches ⌈q·W⌉. Same two-pass bisection: pass 1's histogram aggregates
    * SUM(weight) per bin (map-side combined, same shape as the count
    * histogram), the ≤4096-row cumulative window locates each target's
    * bin; pass 2 re-scans only those bins, collapses to DISTINCT values
    * (ties carry summed weight — which makes the threshold value
    * well-defined under any row order), and a per-target cumulative
    * window picks the first value crossing the residual target. All
    * arithmetic is integer (cents × integer quantities); the DuckDB twin
    * is the full value-sorted cumulative-weight sweep.
    */
  val q139WeightedQuantile = Q(
    "q139_weighted_quantile",
    """WITH v AS (
      |  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS c,
      |    CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      |),
      |g AS (SELECT c, CAST(sum(w) AS BIGINT) AS wsum FROM v GROUP BY c),
      |s AS (
      |  SELECT c, CAST(sum(wsum) OVER (ORDER BY c) AS BIGINT) AS cw FROM g
      |),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM v),
      |r AS (
      |  SELECT qm, tw,
      |    CAST((tw * qm + 999999) // 1000000 AS BIGINT) AS target
      |  FROM (SELECT unnest([500000, 900000, 990000]) AS qm) q, t
      |)
      |SELECT CAST(qm AS DOUBLE) / 1000000.0 AS quantile,
      |  tw AS total_w, target, min(s.c) AS value_cents
      |FROM r JOIN s ON s.cw >= r.target
      |GROUP BY qm, tw, target
      |ORDER BY quantile NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val base = Tables.lineitem(s, d)
      .filter(col("l_extendedprice").isNotNull && col("l_quantity").isNotNull)
      .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("c"),
        expr("CAST(l_quantity AS BIGINT)").as("w"))
    val mm = base.agg(min(col("c")), max(col("c"))).head
    val (lo, hi) = // empty corpus → degenerate bounds, plan yields empty
      if (mm.isNullAt(0)) (0L, 0L) else (mm.getLong(0), mm.getLong(1))
    val bw = (hi - lo) / 4096 + 1
    val binned = base.select(col("c"), col("w"),
      expr(s"(c - ${lo}L) div ${bw}L").as("bin"))
    val hist = binned.groupBy(col("bin")).agg(sum(col("w")).as("bw"))
    val cum = hist.select(col("bin"), col("bw"),
      sum(col("bw")).over(Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("cum"))
    val tot = base.agg(sum(col("w")).cast("long").as("tw"))
    val targets = s.range(1)
      .select(explode(lit(Array(500000L, 900000L, 990000L))).as("qm"))
      .crossJoin(broadcast(tot))
      .select(col("qm"), col("tw"),
        expr("(tw * qm + 999999) div 1000000").cast("long").as("target"))
    val picked = broadcast(targets).join(cum,
        col("cum") >= col("target") && col("cum") - col("bw") < col("target"))
      .select(col("qm"), col("tw"), col("target"), col("bin"),
        (col("cum") - col("bw")).as("below"))
    // pass 2: distinct values inside the picked bins, residual cumulative
    val inBin = binned.join(broadcast(picked), "bin")
      .groupBy(col("qm"), col("tw"), col("target"), col("below"), col("c"))
      .agg(sum(col("w")).as("vw"))
    inBin
      .withColumn("cw", col("below") + sum(col("vw")).over(
        Window.partitionBy(col("qm")).orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cw") >= col("target") &&
        col("cw") - col("vw") < col("target"))
      .select((col("qm").cast("double") / 1000000.0).as("quantile"),
        col("tw").as("total_w"), col("target"),
        col("c").as("value_cents"))
      .orderBy(col("quantile"))
  }

  /** Two-sample KOLMOGOROV–SMIRNOV drift statistic between the q111
    * epochs — the distribution-free complement to PSI's binned view: PSI
    * needs a bin geometry and misses shape shifts inside a bin; KS is the
    * max CDF gap over the EXACT value axis, D = max_v |F₁(v) − F₂(v)|,
    * reported here as an exact integer cross-product (|ca·n₂ − cb·n₁|,
    * no division until the final ratio6) plus the value where the gap
    * peaks.
    *
    * Scale shape: the CDF prefix sums over the distinct-value table go
    * through [[OrderedBins.prefixSumPar]] — past its row threshold a
    * quantile-binned cross-bin prefix plus in-bin sums, so no global
    * window ever touches a data-proportional row set (the q91 rule). The
    * DuckDB twin IS the global single-window sweep — a different
    * prefix-sum decomposition whose hash-match proves the carry-in
    * algebra.
    */
  val q140KsDrift = Q(
    "q140_ks_drift",
    """WITH v AS (
      |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c,
      |    CASE WHEN o_orderdate < TIMESTAMP '1998-07-01' THEN 0 ELSE 1 END
      |      AS e
      |  FROM orders
      |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
      |),
      |g AS (
      |  SELECT c,
      |    count(*) FILTER (WHERE e = 0) AS a_cnt,
      |    count(*) FILTER (WHERE e = 1) AS b_cnt
      |  FROM v GROUP BY c
      |),
      |t AS (
      |  SELECT CAST(sum(a_cnt) AS BIGINT) AS n1,
      |    CAST(sum(b_cnt) AS BIGINT) AS n2 FROM g
      |),
      |s AS (
      |  SELECT c,
      |    CAST(sum(a_cnt) OVER (ORDER BY c) AS BIGINT) AS ca,
      |    CAST(sum(b_cnt) OVER (ORDER BY c) AS BIGINT) AS cb
      |  FROM g
      |),
      |gaps AS (
      |  SELECT c, abs(ca * n2 - cb * n1) AS gap, n1, n2 FROM s, t
      |),
      |m AS (SELECT *, max(gap) OVER () AS mg FROM gaps)
      |SELECT n1, n2, CAST(mg AS BIGINT) AS d_num,
      |  CAST(((2 * CAST(mg AS BIGINT) * 1000000 + CAST(n1 * n2 AS BIGINT))
      |    // nullif(2 * CAST(n1 * n2 AS BIGINT), 0)) AS DOUBLE) / 1000000.0
      |    AS ks,
      |  min(c) AS at_value_cents
      |FROM m WHERE gap = mg
      |GROUP BY n1, n2, mg""".stripMargin,
  ) { (s, d) =>
    val mid = to_timestamp(lit("1998-07-01 00:00:00"))
    val g = Tables.orders(s, d)
      .filter(col("o_totalprice").isNotNull && col("o_orderdate").isNotNull)
      .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("c"),
        when(col("o_orderdate") < mid, 0).otherwise(1).as("e"))
      .groupBy(col("c"))
      .agg(sum(when(col("e") === 0, 1).otherwise(0)).as("a_cnt"),
        sum(when(col("e") === 1, 1).otherwise(0)).as("b_cnt"))
    val tot = g.agg(sum(col("a_cnt")).cast("long").as("n1"),
      sum(col("b_cnt")).cast("long").as("n2"))
    // c is unique per row, so the running sums need no tie column
    val cdf = OrderedBins.prefixSumPar(g, "c", desc = false, Nil,
        Seq("a_cnt", "b_cnt"))
      .select(col("c"), col("cum_a_cnt").as("ca"), col("cum_b_cnt").as("cb"))
      .crossJoin(broadcast(tot))
      .select(col("c"), col("n1"), col("n2"),
        abs(col("ca") * col("n2") - col("cb") * col("n1")).as("gap"))
    // bounded reduction: one global max (an aggregate, not a window over
    // data), then the earliest value attaining it
    val mg = cdf.agg(max(col("gap")).as("mg"))
    cdf.join(broadcast(mg), col("gap") === col("mg"))
      .groupBy(col("n1"), col("n2"), col("mg"))
      .agg(min(col("c")).as("at_value_cents"))
      .select(col("n1"), col("n2"), col("mg").cast("long").as("d_num"),
        graft.functions.Exact.ratio6("mg", "n1 * n2").as("ks"),
        col("at_value_cents"))
  }

  /** GLOBAL RANK TRANSFORM without a global sort — quantile normalization
    * (map each value to its corpus-wide percentile), the feature-scaling
    * step rank-based models and calibration curves need, and the primitive
    * the q91 rule ("no global windows over data") seems to forbid. The
    * trick: rank(v) = 1 + #(values < v) depends only on v, so collapse to
    * DISTINCT values, running-sum their counts with
    * [[OrderedBins.prefixSumPar]] (quantile bins and a cross-bin prefix
    * past its row threshold, a plain window below it), and join the
    * per-VALUE rank back to rows on the value — no row-proportional frame
    * is ever globally ordered. Ties share the same rank (RANK semantics,
    * deterministic); pct is ratio6((rank − 1), (n − 1)) ∈ [0, 1].
    *
    * The DuckDB twin is the textbook global window (`rank() OVER (ORDER
    * BY c)`): two different rank computations hash-matching per row. At
    * 600 k rows per sf0.1 this is also the registry's biggest per-row
    * output — deliberate: a transform must prove itself ON every row,
    * not on a summary. (The trailing ORDER BY is the house presentation
    * convention, not part of the computation — the RANKS are derived
    * sort-free; a production pipeline writes the transform unsorted.)
    */
  val q142RankTransform = Q(
    "q142_rank_transform",
    """WITH v AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL
      |),
      |r AS (
      |  SELECT l_orderkey, l_linenumber, c,
      |    CAST(rank() OVER (ORDER BY c) AS BIGINT) AS rnk,
      |    count(*) OVER () AS n
      |  FROM v
      |)
      |SELECT l_orderkey, l_linenumber, c AS value_cents, rnk,
      |  CAST(((2 * CAST(rnk - 1 AS BIGINT) * 1000000 + CAST(n - 1 AS BIGINT))
      |    // nullif(2 * CAST(n - 1 AS BIGINT), 0)) AS DOUBLE) / 1000000.0
      |    AS pct
      |FROM r
      |-- value_cents tiebreak: the regenerated driver fixture carries
      |-- duplicate (l_orderkey, l_linenumber) pairs, so the key alone is
      |-- no longer a total order (caught by the round-11 two-scale sweep)
      |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
      |  value_cents NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val rows = Fan.fan(Tables.lineitem(s, d)) // r21: see q166
      .filter(col("l_extendedprice").isNotNull)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("c"))
    val g = rows.groupBy(col("c")).agg(count(lit(1)).as("cnt"))
    val tot = rows.agg(count(lit(1)).cast("long").as("n"))
    // per-VALUE rank = 1 + everything before this value
    val ranks = OrderedBins.prefixSumPar(g, "c", desc = false, Nil,
        Seq("cnt"))
      .select(col("c"), (col("cum_cnt") - col("cnt") + 1).as("rnk"))
    rows.join(ranks, "c")
      .crossJoin(broadcast(tot))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("c").as("value_cents"), col("rnk").cast("long").as("rnk"),
        graft.functions.Exact.ratio6("rnk - 1", "n - 1").as("pct"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("value_cents"))
  }

  /** ACTIVITY CONCENTRATION — exact Gini coefficient and top-decile share
    * of per-user event counts, the "does 10% of the population generate
    * 80% of the data" governance metric behind skew budgeting, abuse
    * triage, and contribution bounding (q128's clipping wants exactly
    * this picture). Both statistics reduce to integer cross-products over
    * the VALUE-RUN structure of the sorted count multiset, so no global
    * window ever touches user-proportional rows (the q142 lesson, third
    * use): a run of m users sharing count c and preceded by s users
    * contributes c·(m·s + m(m+1)/2) to Σ rank·count — rank assignment
    * within a tied run provably cancels — and the top-k side splits one
    * threshold run as (k − cum_above)·c. The lone windows run over
    * DISTINCT activity levels (bounded by max per-user activity, not by
    * user count). Gini = (2·Σi·x − (n+1)·S) / (n·S) via ratio6; the
    * DuckDB twin is the textbook per-user row_number formulation, a
    * different decomposition of the same sums.
    */
  val q147ParetoGini = Q(
    "q147_pareto_gini",
    s"""WITH u AS (
      |  SELECT user_id, count(*) AS c FROM events
      |  WHERE user_id IS NOT NULL GROUP BY user_id
      |),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
      |  FROM u
      |),
      |r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS i FROM u),
      |g AS (SELECT CAST(sum(i * c) AS BIGINT) AS sic FROM r),
      |kk AS (SELECT CAST((n + 9) // 10 AS BIGINT) AS k, n, s FROM t),
      |top AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS ts FROM (
      |    SELECT c, row_number() OVER (ORDER BY c DESC, user_id DESC) AS j
      |    FROM u) x, kk WHERE x.j <= kk.k
      |)
      |SELECT kk.n AS n_users, kk.s AS total_events, kk.k,
      |  ${graft.functions.Exact.Sql.ratio6Big(
          "2 * sic - (kk.n + 1) * kk.s", "kk.n * kk.s")} AS gini,
      |  ${graft.functions.Exact.Sql.ratio6Big("top.ts", "kk.s")}
      |    AS top_share
      |FROM kk, g, top WHERE kk.n > 0""".stripMargin,
      // ratio6Big (r16 audit): the Gini numerator is a RANK-WEIGHTED
      // count sum (Σ i·cᵢ ≤ n·S — grows ∝ users·events, the fastest-
      // growing numerator in the registry); the inline 2·num·10⁶ form
      // would cross int64 around ×1000 of sf0.1. Identical value.
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val u = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val byVal = u.groupBy(col("c")).agg(count(lit(1)).as("m"))
    val asc = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val desc = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // value-run decomposition of Σ rank·count and of the top-k mass
    val runs = byVal.select(col("c"), col("m"),
      (sum(col("m")).over(asc) - col("m")).as("sb"),
      (sum(col("m")).over(desc) - col("m")).as("above"),
      (sum(col("c") * col("m")).over(desc) - col("c") * col("m"))
        .as("sum_above"))
    val tot = u.agg(count(lit(1)).cast("long").as("n"),
      sum(col("c")).cast("long").as("s"))
      .withColumn("k", expr("(n + 9) div 10"))
    val sic = runs.select(
      (col("c") * (col("m") * col("sb")
        + expr("(m * (m + 1)) div 2"))).as("contrib"))
      .agg(sum(col("contrib")).cast("long").as("sic"))
    val ts = runs.crossJoin(broadcast(tot))
      .filter(col("above") < col("k")
        && col("above") + col("m") >= col("k"))
      .select((col("sum_above")
        + (col("k") - col("above")) * col("c")).as("ts"))
    broadcast(tot).crossJoin(broadcast(sic)).crossJoin(broadcast(ts))
      .select(col("n").as("n_users"), col("s").as("total_events"), col("k"),
        graft.functions.Exact.ratio6Big("2 * sic - (n + 1) * s", "n * s")
          .as("gini"),
        graft.functions.Exact.ratio6Big("ts", "s").as("top_share"))
  }

  /** 2-D PARETO SKYLINE — the multi-criteria shortlist operator: parts
    * nobody beats on BOTH price and size (minimize both; a dominates b iff
    * a ≤ b on both axes and < on at least one). The naive formulation is a
    * quadratic dominance anti-join — the DuckDB twin runs exactly that
    * NOT EXISTS as an independent check — but the engine computes it as a
    * SWEEP: sorted by price, a part is dominated iff some strictly-cheaper
    * part has size ≤ its own (a running min), or a same-price part has
    * size strictly below (the per-run min). Equal-on-both duplicates
    * dominate each other on neither axis, so both survive — the window
    * algebra reproduces that for free because a run's min is not < itself.
    *
    * Exactness: prices are compared in exact cents; everything is integer
    * comparison, no float anywhere.
    *
    * Plan: the q142/q147 VALUE-RUN discipline a third time — group to
    * per-price runs (map-side combined), ONE window over DISTINCT price
    * runs (bounded by price cardinality, not row count), join back on the
    * run key. The quadratic anti-join never executes on the engine side;
    * at 100 TB the sweep's widest stage is the per-price aggregate.
    */
  val q165ParetoSkyline = Q(
    "q165_pareto_skyline",
    """WITH p AS (
      |  SELECT p_partkey, p_size,
      |    CAST(round(100 * p_retailprice) AS BIGINT) AS cents
      |  FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
      |)
      |SELECT p_partkey, cents AS price_cents, CAST(p_size AS INTEGER) AS p_size
      |FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.cents <= a.cents AND b.p_size <= a.p_size
      |    AND (b.cents < a.cents OR b.p_size < a.p_size)
      |)
      |ORDER BY p_partkey NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val p = Tables.part(s, d)
      .filter(col("p_retailprice").isNotNull && col("p_size").isNotNull)
      .select(col("p_partkey"), col("p_size"),
        expr("CAST(round(100 * p_retailprice) AS BIGINT)").as("cents"))
    // per-price runs: min size within the run, then the strictly-cheaper
    // running min via a 1-run-lagged cumulative window
    val runs = p.groupBy(col("cents")).agg(min(col("p_size")).as("msize"))
    val sweep = runs.withColumn("cheaper_min",
      min(col("msize")).over(Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, -1)))
    p.join(sweep, "cents")
      .filter((col("cheaper_min").isNull || col("cheaper_min") > col("p_size"))
        && !(col("msize") < col("p_size")))
      .select(col("p_partkey"), col("cents").as("price_cents"),
        col("p_size").cast("int").as("p_size"))
      .orderBy(col("p_partkey"))
  }

  /** WINSORIZED / TRIMMED ROBUST MEANS — the outlier-insensitive location
    * estimates feeding quality dashboards and reward normalization: per
    * return flag, the exact p05/p95 order statistics of the price
    * distribution (k-th value, k = ⌈q·n⌉ — the q54 discrete definition),
    * the WINSORIZED mean (values clamped into [p05, p95]) and the TRIMMED
    * mean (bottom k05 and top n−k95 observations dropped entirely).
    *
    * Exactness: order statistics and both numerators are exact int64 in
    * cents; the run-overlap count for trimming is pure integer interval
    * arithmetic (a run occupying sorted positions (s, s+cnt] contributes
    * max(0, min(s+cnt, k95) − max(s, k05)) rows); the means report via
    * ratio6Big — the cent sums pass plain ratio6's 4.6e12 numerator
    * line on the ×10 lineitem axis (ANSI overflow, hit live r15).
    *
    * Plan: the VALUE-RUN discipline again — one (flag, cents) aggregate,
    * then cumulative positions from [[OrderedBins.prefixSumPar]]
    * partitioned by flag. Prices are nearly unique here (~200k runs per
    * flag at sf0.1), so a flat flag-partitioned window sorts each flag's
    * run table in ONE task; past the device's row threshold the runs land
    * in quantile bins instead — a per-flag prefix over the bin totals
    * plus (flag, bin)-partitioned in-bin sums, parallel across all cores.
    * No per-row rank is ever materialized.
    */
  val q166WinsorizedMean = Q(
    "q166_winsorized_mean",
    s"""WITH v AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(round(100 * l_extendedprice) AS BIGINT) AS c
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL
      |),
      |runs AS (
      |  SELECT flag, c, count(*) AS cnt FROM v GROUP BY flag, c
      |),
      |cum AS (
      |  SELECT flag, c, cnt,
      |    sum(cnt) OVER (PARTITION BY flag ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS s,
      |    sum(cnt) OVER (PARTITION BY flag) AS n
      |  FROM runs
      |),
      |k AS (
      |  SELECT flag, c, cnt, s, n,
      |    (5 * n + 99) // 100 AS k05, (95 * n + 99) // 100 AS k95
      |  FROM cum
      |),
      |q AS (
      |  SELECT flag,
      |    min(CASE WHEN s < k05 AND k05 <= s + cnt THEN c END) AS p05,
      |    min(CASE WHEN s < k95 AND k95 <= s + cnt THEN c END) AS p95
      |  FROM k GROUP BY flag
      |),
      |agg AS (
      |  SELECT k.flag, max(k.n) AS n, q.p05, q.p95,
      |    sum(k.cnt * CASE WHEN k.c < q.p05 THEN q.p05
      |                     WHEN k.c > q.p95 THEN q.p95 ELSE k.c END) AS wsum,
      |    sum(greatest(least(k.s + k.cnt, k.k95) - greatest(k.s, k.k05), 0))
      |      AS tn,
      |    sum(k.c * greatest(least(k.s + k.cnt, k.k95)
      |      - greatest(k.s, k.k05), 0)) AS tsum
      |  FROM k JOIN q ON k.flag = q.flag
      |  GROUP BY k.flag, q.p05, q.p95
      |)
      |SELECT flag AS l_returnflag, CAST(n AS BIGINT) AS n,
      |  ${Exact.Sql.ratio6("p05", "100")} AS p05,
      |  ${Exact.Sql.ratio6("p95", "100")} AS p95,
      |  ${Exact.Sql.ratio6Big("wsum", "100 * n")} AS winsor_mean,
      |  ${Exact.Sql.ratio6Big("tsum", "100 * tn")} AS trim_mean
      |FROM agg
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    // r21: fan the scan (Fan.scala) — the (flag, c) partial aggregate over
    // ~590k near-unique cent runs otherwise runs inside the single-split
    // scan stage on one core
    val v = Fan.fan(Tables.lineitem(s, d))
      .filter(col("l_extendedprice").isNotNull)
      .select(col("l_returnflag").as("flag"),
        expr("CAST(round(100 * l_extendedprice) AS BIGINT)").as("c"))
    val runs = v.groupBy(col("flag"), col("c")).agg(count(lit(1)).as("cnt"))
    val nPerFlag = runs.groupBy(col("flag")).agg(sum(col("cnt")).as("n"))
    // localCheckpoint: BOTH consumers below (the percentile probe q and
    // the clamped/overlap aggregate) read the positioned-run table; un-
    // pinned, the q join re-instantiated the whole runs+window subtree
    // and doubled the query (measured 3.0 s → 2.2 s at sf0.1). (flag, c)
    // is unique per run, so the running sum needs no tie column.
    val k = OrderedBins.prefixSumPar(runs, "c", desc = false, Nil,
        Seq("cnt"), Seq("flag"))
      .join(nPerFlag, "flag")
      .select(col("flag"), col("c"), col("cnt"),
        (col("cum_cnt") - col("cnt")).as("s"), col("n"),
        expr("(5 * n + 99) div 100").as("k05"),
        expr("(95 * n + 99) div 100").as("k95"))
      .transform(graft.operators.Iter.pin)
    val q = k.groupBy(col("flag")).agg(
      min(when(col("s") < col("k05") && col("k05") <= col("s") + col("cnt"),
        col("c"))).as("p05"),
      min(when(col("s") < col("k95") && col("k95") <= col("s") + col("cnt"),
        col("c"))).as("p95"))
    val overlap = greatest(
      least(col("s") + col("cnt"), col("k95")) - greatest(col("s"), col("k05")),
      lit(0L))
    k.join(q, "flag")
      .groupBy(col("flag"), col("p05"), col("p95"))
      .agg(max(col("n")).as("n"),
        sum(col("cnt") * when(col("c") < col("p05"), col("p05"))
          .when(col("c") > col("p95"), col("p95"))
          .otherwise(col("c"))).as("wsum"),
        sum(overlap).as("tn"),
        sum(col("c") * overlap).as("tsum"))
      .select(col("flag").as("l_returnflag"), col("n").cast("long").as("n"),
        Exact.ratio6("p05", "100").as("p05"),
        Exact.ratio6("p95", "100").as("p95"),
        // ratio6Big: the winsorized/trimmed cent sums pass ratio6's
        // 4.6e12 numerator line on the ×10 lineitem axis (hit live,
        // SCALE_r15) — the quotient/remainder split keeps the identical
        // 6-decimal value entirely inside int64
        Exact.ratio6Big("wsum", "100 * n").as("winsor_mean"),
        Exact.ratio6Big("tsum", "100 * tn").as("trim_mean"))
      .orderBy(col("l_returnflag"))
  }

  /** MAD ROBUST OUTLIERS — the median-absolute-deviation fence, the
    * robust-statistics alternative to q90's IQR rule (MAD has a 50%
    * breakdown point vs the quartiles' 25% — the estimator of choice
    * when the contamination itself is what you're hunting), and the
    * answer to q90's own comment naming the exact-percentile SORT as its
    * 100 TB cost center: both medians here are SORT-FREE. Both run the
    * [[OrderedBins.prefixSumPar]] running count over value runs, COMPOSED:
    * the second median runs over |c − median₁|, a derived axis that only
    * exists after the first pass resolves, so the device runs twice in
    * sequence with a data-dependent re-centering in between.
    *
    * Per l_returnflag: disc-median m (rank ⌈n/2⌉), MAD = disc-median of
    * |c − m|, and the outlier count at the standard 3σ-equivalent fence
    * |c − m| > 3·1.4826·MAD — compared as the EXACT integer inequality
    * 10000·d > 44478·MAD (4.4478 scaled; no float enters the decision).
    *
    * Exactness: cents are exact int64; both rank picks use q166's run
    * pick (s < k ≤ s + cnt over value runs); the fence is integer.
    * The DuckDB twin is the TEXTBOOK formulation — per-flag row_number
    * sorts picking rank ⌈n/2⌉, twice — so the hash match proves the
    * sort-free decomposition against an actually-sorted reimplementation
    * (the strongest twin shape, q132's convention).
    *
    * Plan: value runs → flag-partitioned running count (each pass's
    * device probe samples its own quantile edges, so the deviation axis
    * needs no shared normalizer) → a ≤flags broadcast of (median, MAD)
    * back onto the runs for one fence aggregate. No row-proportional
    * sort anywhere; every window runs over distinct VALUES.
    */
  val q196MadOutliers = Q(
    "q196_mad_outliers",
    """WITH v AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(round(100 * l_extendedprice) AS BIGINT) AS c
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL
      |),
      |n AS (SELECT flag, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
      |r AS (
      |  SELECT flag, c,
      |    row_number() OVER (PARTITION BY flag ORDER BY c) AS rk
      |  FROM v
      |),
      |med AS (
      |  SELECT r.flag, r.c AS med FROM r JOIN n USING (flag)
      |  WHERE r.rk = (50 * n.n + 99) // 100
      |),
      |d AS (
      |  SELECT v.flag, abs(v.c - med.med) AS dev, med.med
      |  FROM v JOIN med USING (flag)
      |),
      |rd AS (
      |  SELECT flag, dev,
      |    row_number() OVER (PARTITION BY flag ORDER BY dev) AS rk
      |  FROM d
      |),
      |mad AS (
      |  SELECT rd.flag, rd.dev AS mad FROM rd JOIN n USING (flag)
      |  WHERE rd.rk = (50 * n.n + 99) // 100
      |)
      |SELECT d.flag AS l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(max(d.med) AS BIGINT) AS median_cents,
      |  CAST(max(mad.mad) AS BIGINT) AS mad_cents,
      |  CAST(count(*) FILTER (WHERE 10000 * d.dev > 44478 * mad.mad)
      |    AS BIGINT) AS n_outliers
      |FROM d JOIN mad USING (flag)
      |GROUP BY d.flag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val v = Fan.fan(Tables.lineitem(s, d)) // r21: see q166
      .filter(col("l_extendedprice").isNotNull)
      .select(col("l_returnflag").as("flag"),
        expr("CAST(round(100 * l_extendedprice) AS BIGINT)").as("c"))
    val runs = v.groupBy(col("flag"), col("c")).agg(count(lit(1)).as("cnt"))
      .transform(graft.operators.Iter.pin) // feeds both passes and the fence aggregate
    val nPerFlag = runs.groupBy(col("flag")).agg(sum(col("cnt")).as("n"))
    // sort-free disc-rank pick at k over (flag, value) runs, shared by
    // both passes: (flag, value) is unique per run, so no tie column
    def pickAt(valRuns: org.apache.spark.sql.DataFrame, valCol: String)
        : org.apache.spark.sql.DataFrame =
      OrderedBins.prefixSumPar(valRuns, valCol, desc = false, Nil,
          Seq("cnt"), Seq("flag"))
        .join(nPerFlag, "flag")
        .withColumn("s", col("cum_cnt") - col("cnt"))
        .withColumn("k", expr("(50 * n + 99) div 100"))
        .filter(col("s") < col("k") && col("k") <= col("s") + col("cnt"))
        .groupBy(col("flag")).agg(min(col(valCol)).as("picked"))
    val med = pickAt(runs, "c").withColumnRenamed("picked", "med")
    val devRuns = runs.join(broadcast(med), "flag")
      .select(col("flag"), abs(col("c") - col("med")).as("dev"), col("cnt"))
      .groupBy(col("flag"), col("dev")).agg(sum(col("cnt")).as("cnt"))
      // pinned: the second pass's device probe and its prefix sum would
      // each re-run the whole first pass
      .transform(graft.operators.Iter.pin)
    val mad = pickAt(devRuns, "dev").withColumnRenamed("picked", "mad")
    runs.join(broadcast(med), "flag").join(broadcast(mad), "flag")
      .groupBy(col("flag"))
      .agg(sum(col("cnt")).cast("long").as("n"),
        max(col("med")).cast("long").as("median_cents"),
        max(col("mad")).cast("long").as("mad_cents"),
        coalesce(sum(when(
          lit(10000L) * abs(col("c") - col("med")) > lit(44478L) * col("mad"),
          col("cnt"))), lit(0L)).cast("long").as("n_outliers"))
      .select(col("flag").as("l_returnflag"), col("n"), col("median_cents"),
        col("mad_cents"), col("n_outliers"))
      .orderBy(col("l_returnflag"))
  }

  /** L-DIVERSITY + T-CLOSENESS — the two audits k-anonymity (q121)
    * famously fails to imply: within each quasi-identifier group
    * (event_type × hour-of-day), (1) l-diversity = how many DISTINCT
    * sensitive values appear (a k-anonymous group whose members all
    * share one salary is still disclosed), and (2) t-closeness = the
    * Wasserstein-1 distance between the group's sensitive-value
    * distribution and the global one over ordered value deciles (a
    * group can be diverse yet SKEWED — Li et al.'s fix). The attached
    * min-l / max-t are the release gate.
    *
    * Exactness: the sensitive attribute is the GLOBAL value decile
    * (ntile(10) over (cents, event_id) — deterministic both engines,
    * the q174 device); l is an exact distinct count; t rides a COMMON-
    * DENOMINATOR collapse — Σ_b |F_g(b) − F(b)| = Σ_b |C_g·N − C·n_g| /
    * (n_g·N) with all cumulative counts exact int64, so the whole EMD
    * is ONE double divide of an exact integer sum (normalized by the
    * 9 inter-bin steps, stated). The group×10-bin grid is a designed
    * bounded broadcast.
    *
    * Plan: the global decile rides [[OrderedBins.ntilePar]] on the
    * materialized cents key (heavy ties, so the hot-value tie sub-bins
    * carry it above the dispatch; the plain window below), one (group,
    * bin) aggregate against a 10-row bin seed, window min/max finish.
    */
  val q273LdivTcloseness = Q(
    "q273_ldiv_tcloseness",
    """WITH v AS (
      |  SELECT event_type,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hod,
      |    ntile(10) OVER (ORDER BY CAST(round(100 * value) AS BIGINT),
      |      event_id) AS dec
      |  FROM events
      |  WHERE ts IS NOT NULL AND value IS NOT NULL
      |    AND event_type IS NOT NULL
      |),
      |gc AS (
      |  SELECT event_type, hod, dec, CAST(count(*) AS BIGINT) AS c
      |  FROM v GROUP BY 1, 2, 3
      |),
      |gn AS (
      |  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(DISTINCT dec) AS BIGINT) AS l
      |  FROM v GROUP BY 1, 2
      |),
      |bc AS (SELECT dec, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM v),
      |bins AS (SELECT unnest(range(1, 11)) AS b),
      |grid AS (
      |  SELECT gn.event_type, gn.hod, gn.n, gn.l, bins.b, nn.nn,
      |    COALESCE(gc.c, 0) AS cg, COALESCE(bc.c, 0) AS call
      |  FROM gn CROSS JOIN bins CROSS JOIN nn
      |  LEFT JOIN gc ON gc.event_type = gn.event_type
      |    AND gc.hod = gn.hod AND gc.dec = bins.b
      |  LEFT JOIN bc ON bc.dec = bins.b
      |),
      |cum AS (
      |  SELECT event_type, hod, n, l, b, nn,
      |    CAST(sum(cg) OVER (PARTITION BY event_type, hod ORDER BY b)
      |      AS BIGINT) AS cgc,
      |    CAST(sum(call) OVER (PARTITION BY event_type, hod ORDER BY b)
      |      AS BIGINT) AS cac
      |  FROM grid
      |),
      |t AS (
      |  SELECT event_type, hod, n, l,
      |    CAST(sum(CASE WHEN b < 10
      |      THEN abs(cgc * nn - cac * n) ELSE 0 END) AS BIGINT) AS tnum,
      |    max(nn) AS nn
      |  FROM cum GROUP BY 1, 2, 3, 4
      |),
      |f AS (
      |  SELECT event_type, hod, n, l,
      |    CAST(tnum AS DOUBLE)
      |      / (CAST(9 AS DOUBLE) * CAST(n AS DOUBLE)
      |        * CAST(nn AS DOUBLE)) AS tc
      |  FROM t
      |)
      |SELECT event_type, CAST(hod AS BIGINT) AS hod, n AS group_n,
      |  l AS l_diversity, round(tc, 6) AS t_closeness,
      |  CAST(min(l) OVER () AS BIGINT) AS min_l,
      |  round(max(tc) OVER (), 6) AS max_t
      |FROM f
      |ORDER BY event_type, hod""".stripMargin,
  ) { (s, d) =>
    val keyed = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hod"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"))
    val v = OrderedBins.ntilePar(keyed, 10, "cents", desc = false,
        Seq("event_id"))
      .select(col("event_type"), col("hod"), col("tile").as("dec"))
      .transform(graft.operators.Iter.pin) // 3 consumers: group cells, group sizes, bins
    val gc = v.groupBy(col("event_type").as("c_type"),
        col("hod").as("c_hod"), col("dec"))
      .agg(count(lit(1)).cast("long").as("cg"))
    val gn = v.groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).cast("long").as("n"),
        countDistinct(col("dec")).cast("long").as("l"))
    val bc = v.groupBy(col("dec").as("b_dec"))
      .agg(count(lit(1)).cast("long").as("call"))
    val nn = v.agg(count(lit(1)).cast("long").as("nn"))
    val bins = v.sparkSession.range(1, 11).toDF("b")
    val grid = gn.crossJoin(broadcast(bins)).crossJoin(broadcast(nn))
      .join(gc, col("c_type") === col("event_type")
        && col("c_hod") === col("hod") && col("dec") === col("b"), "left")
      .join(broadcast(bc), col("b_dec") === col("b"), "left")
      .select(col("event_type"), col("hod"), col("n"), col("l"),
        col("b"), col("nn"),
        coalesce(col("cg"), lit(0L)).as("cg"),
        coalesce(col("call"), lit(0L)).as("call"))
    val wCum = Window.partitionBy(col("event_type"), col("hod"))
      .orderBy(col("b"))
    val cum = grid.select(col("event_type"), col("hod"), col("n"),
      col("l"), col("b"), col("nn"),
      sum(col("cg")).over(wCum).cast("long").as("cgc"),
      sum(col("call")).over(wCum).cast("long").as("cac"))
    val t = cum.groupBy(col("event_type"), col("hod"), col("n"), col("l"))
      .agg(sum(when(col("b") < 10,
          abs(col("cgc") * col("nn") - col("cac") * col("n")))
          .otherwise(0L)).cast("long").as("tnum"),
        max(col("nn")).as("nn"))
    val tc = expr("""CAST(tnum AS DOUBLE)
      |  / (CAST(9 AS DOUBLE) * CAST(n AS DOUBLE)
      |    * CAST(nn AS DOUBLE))""".stripMargin)
    val wAll = Window.partitionBy()
    t.select(col("event_type"), col("hod").cast("long").as("hod"),
        col("n").as("group_n"), col("l").as("l_diversity"),
        round(tc, 6).as("t_closeness"),
        min(col("l")).over(wAll).cast("long").as("min_l"),
        round(max(tc).over(wAll), 6).as("max_t"))
      .orderBy(col("event_type"), col("hod"))
  }
}
