package graft.queries

import graft.{Q, Tables}
import graft.functions.Exact
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scale-path join/layout operators — the techniques that decide whether a
  * plan survives a 100 TB fact table, each proven correct against a plain
  * relational oracle of the same semantics:
  *
  *  - q106: bloom-pruned semi join (ship a sketch of the build side into
  *    the fact scan; shuffle only the survivors);
  *  - q107: binned interval join (large-large point-in-range without a
  *    broadcast-nested-loop plan);
  *  - q108: Z-order curve math (multi-dimensional clustering key for
  *    min/max data skipping; the layout proof lives in ZorderSpec);
  *  - q109: count-min frequency estimation (fixed-size mergeable state
  *    probed without rescanning the corpus).
  */
object ScaleOps {

  def all: Seq[Q] = Seq(
    q106BloomSemiJoin, q107RangeBinJoin, q108ZorderCurve, q109CmsFrequency,
    q114JoinCardinality, q153BasketLift)

  /** Bloom-pruned semi join — the explicit form of runtime row-level
    * filtering (which Spark only auto-injects under AQE heuristics, and
    * only for shuffle-heavy shapes it recognizes). Build: ONE distributed
    * bloom aggregate over the dim keys (public `stat.bloomFilter`; the
    * result is driver-sized like any broadcast build — ~1.2 MB per million
    * keys at 1% fpp). Probe: the sketch rides the plan as a constant into
    * [[graft.functions.BloomMightContainLong]], a codegen'd filter ON THE
    * SCAN SIDE, so the (1 − selectivity) mass of the fact table dies
    * before the semi-join shuffle instead of after it. False positives
    * (≤ fpp) are swept by the exact confirming semi join that follows —
    * the output is provably the plain semi join, which is exactly what the
    * oracle checks. At 100 TB this is the difference between shuffling
    * 20 TB and shuffling 200 GB for a 1%-selective dim.
    */
  val q106BloomSemiJoin = Q(
    "q106_bloom_semi_join",
    s"""SELECT l_returnflag, count(*) AS n_items,
       |  ${Exact.Sql.dsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey IN
       |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val nUrgent = urgent.count()
    // empty build side → an empty bloom has no serialized bits (writeTo
    // NPEs) and the semi join is empty by definition: constant-false
    // pre-filter, same plan shape (r17 empty-corpus audit)
    val pre: Column =
      if (nUrgent == 0) lit(false)
      else {
        val bloom = urgent.stat.bloomFilter("o_orderkey", nUrgent, 0.01)
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        call_function("graft_bloom_might_contain",
          lit(bos.toByteArray), col("l_orderkey"))
      }
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .filter(pre)
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        Exact.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Binned interval join — point-in-range between two DATA-SIZED sides.
    * Spark plans a bare `v BETWEEN lo AND hi` join as
    * BroadcastNestedLoopJoin (or worse, a cartesian), which is O(n·m) and
    * dies the moment neither side broadcasts; q08's band join solved this
    * only for a LITERAL band list. Here both sides map onto fixed-width
    * bins of the join domain — points to their one bin, intervals to every
    * bin they overlap (fan-out ≤ ⌈width/W⌉ + 1, bounded by construction) —
    * and the join becomes a plain shuffled EQUI join on the bin key with
    * the exact BETWEEN as a residual. Each matching pair meets exactly
    * once (in the point's bin), so no dedup pass is needed. The plan
    * shape — hash-partition both sides on bin, hash join, residual
    * filter — is the standard range-join optimization (Databricks ships it
    * as a hint; open-source Spark has no equivalent), and it scales as
    * Σ per-bin products instead of n·m. ScaleSpec proves no BNLJ appears
    * even with broadcasts disabled.
    *
    * Points derive from integer arithmetic (`900 + (l_orderkey % 100000) /
    * 1000`) and both engines evaluate the same IEEE double expressions, so
    * boundary inclusion is bit-identical cross-engine.
    */
  val q107RangeBinJoin = Q(
    "q107_range_bin_join",
    s"""WITH pts AS (
       |  SELECT CAST(900.0 AS DOUBLE)
       |    + (l_orderkey % 100000) / CAST(1000.0 AS DOUBLE) AS v
       |  FROM lineitem),
       |iv AS (
       |  SELECT p_brand,
       |    p_retailprice - p_size / CAST(4000.0 AS DOUBLE) AS lo,
       |    p_retailprice + p_size / CAST(4000.0 AS DOUBLE) AS hi
       |  FROM part)
       |SELECT p_brand, count(*) AS n_matches, ${Exact.Sql.dsum("v")} AS sum_v
       |FROM pts JOIN iv ON v >= lo AND v <= hi
       |GROUP BY p_brand
       |ORDER BY p_brand NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    // W must only be > 0 for correctness; it tunes fan-out (interval width
    // here is ≤ 2·50/4000 = 0.025 → ≤ 2 bins per interval). At 100 TB, W
    // comes from ONE bounded aggregate over the interval side (avg width).
    val W = 0.05
    val pts = Tables.lineitem(s, d)
      .select((lit(900.0) + (col("l_orderkey") % 100000) / lit(1000.0)).as("v"))
      .withColumn("bin", floor(col("v") / W))
    val iv = Tables.part(s, d)
      .select(col("p_brand"),
        (col("p_retailprice") - col("p_size") / lit(4000.0)).as("lo"),
        (col("p_retailprice") + col("p_size") / lit(4000.0)).as("hi"))
      .withColumn("bin",
        explode(sequence(floor(col("lo") / W), floor(col("hi") / W))))
    pts.join(iv,
        pts("bin") === iv("bin") && col("v") >= col("lo") && col("v") <= col("hi"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_matches"), Exact.dsum(col("v")).as("sum_v"))
      .orderBy(col("p_brand"))
  }

  /** 10-bit-per-dimension Z-order (Morton) key over two numeric columns:
    * equi-width bucket each dimension to [0, 1023], then interleave the
    * bits (x even positions, y odd). Sorting/range-partitioning by this ONE
    * key clusters BOTH dimensions at once, which is what makes parquet
    * min/max row-group skipping work for multi-dimensional predicates — a
    * linear sort on x gives a y-only filter nothing to skip.
    * This query oracle-checks the curve MATH itself cross-engine: bucket
    * arithmetic and 20-term bit interleave are pure integer/IEEE
    * expressions, so min/max/Σ of z per group hash-match DuckDB exactly.
    * Precondition (documented, like q54's): each dimension has range > 0.
    */
  val q108ZorderCurve = Q(
    "q108_zorder_curve",
    s"""WITH st AS (
       |  SELECT min(l_extendedprice) AS xmin, max(l_extendedprice) AS xmax,
       |         min(l_quantity) AS ymin, max(l_quantity) AS ymax
       |  FROM lineitem),
       |z AS (
       |  SELECT l_returnflag,
       |    ${zInterleaveSql(
              bucketSql("l_extendedprice", "xmin", "xmax"),
              bucketSql("l_quantity", "ymin", "ymax"))} AS zv
       |  FROM lineitem, st)
       |SELECT l_returnflag, count(*) AS n_items, min(zv) AS min_z,
       |  max(zv) AS max_z, CAST(sum(zv) AS BIGINT) AS sum_z
       |FROM z GROUP BY l_returnflag
       |ORDER BY l_returnflag NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val st = li.agg(
      min(col("l_extendedprice")), max(col("l_extendedprice")),
      min(col("l_quantity")), max(col("l_quantity"))).head
    // empty corpus → degenerate bounds (r17 audit); no rows bucket anyway
    val z =
      if (st.isNullAt(0))
        zorderKey(col("l_extendedprice"), 0.0, 1.0,
          col("l_quantity"), 0.0, 1.0)
      else zorderKey(
        col("l_extendedprice"), st.getDouble(0), st.getDouble(1),
        col("l_quantity"), st.getDouble(2), st.getDouble(3))
    li.select(col("l_returnflag"), z.as("zv"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), min(col("zv")).as("min_z"),
        max(col("zv")).as("max_z"), sum(col("zv")).as("sum_z"))
      .orderBy(col("l_returnflag"))
  }

  /** Equi-width bucket of `x` into [0, 1023] given driver-known min/max —
    * the same double expression tree the oracle text evaluates, so the
    * bucket is bit-identical cross-engine (floor and IEEE ops are exact).
    */
  private def bucket(x: Column, mn: Double, mx: Double): Column =
    least(lit(1023L), floor((x - lit(mn)) / lit(mx - mn) * lit(1024.0)))

  private def bucketSql(x: String, mn: String, mx: String): String =
    s"least(1023, CAST(floor(($x - $mn) / ($mx - $mn) * 1024.0) AS BIGINT))"

  /** Morton interleave of two 10-bit buckets: x bits at even positions, y
    * at odd. 40 codegen'd shift/mask terms OR-folded — no UDF, no loop.
    */
  def zorderKey(x: Column, xmn: Double, xmx: Double,
                y: Column, ymn: Double, ymx: Double): Column = {
    val bx = bucket(x, xmn, xmx)
    val by = bucket(y, ymn, ymx)
    (0 until 10).foldLeft(lit(0L)) { (acc, k) =>
      acc
        .bitwiseOR(shiftleft(shiftright(bx, k).bitwiseAND(lit(1L)), 2 * k))
        .bitwiseOR(shiftleft(shiftright(by, k).bitwiseAND(lit(1L)), 2 * k + 1))
    }
  }

  // single-line join: a leading "|" would be eaten by the caller's
  // stripMargin (it is the margin marker, not the bitwise OR, there)
  private def zInterleaveSql(bx: String, by: String): String =
    (0 until 10).flatMap(k => Seq(
      s"((($bx >> $k) & 1) << ${2 * k})",
      s"((($by >> $k) & 1) << ${2 * k + 1})")).mkString(" | ")

  /** Count-min frequency estimation — the point-lookup companion to q99's
    * top-k and q98's HLL rollup: ONE fixed-size sketch of the corpus
    * (width ⌈e/eps⌉ × depth ⌈ln 1/(1−conf)⌉ counters, mergeable across
    * partitions/days exactly like the HLL rollup) answers "how often does
    * key X occur" for ANY later key without rescanning — at 100 TB the
    * corpus scan happens once and every subsequent frequency question is a
    * probe of ~1 MB of state. Build is the public distributed
    * `stat.countMinSketch`; probes ride the codegen'd
    * [[graft.functions.CmsEstimateString]]. CMS never undercounts and
    * overcounts only on all-rows hash collisions; at this key cardinality
    * the estimate is provably exact (seed is fixed, so this is
    * deterministic, and the oracle's exact GROUP BY hash-match proves it);
    * SketchOpsSpec proves the merge law and the no-undercount bound on an
    * adversarial wide-vocabulary fixture.
    */
  val q109CmsFrequency = Q(
    "q109_cms_frequency",
    """SELECT event_type, count(*) AS est_count
      |FROM events GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val cms = ev.stat.countMinSketch("event_type", 1e-4, 0.99, 42)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      cms.writeTo(bos)
      bos.toByteArray
    }
    ev.select(col("event_type")).distinct()
      .select(col("event_type"),
        call_function("graft_cms_estimate", lit(bytes), col("event_type"))
          .as("est_count"))
      .orderBy(col("event_type"))
  }

  /** Join-cardinality FORECAST — |customer ⋈ orders| per market segment
    * predicted WITHOUT executing the join: one pass over the fact side
    * builds a count-min sketch of the join key, then the dim side is a
    * pure scan probing `graft_cms_estimate` and summing per segment. This
    * is the planner-input operator that decides between q106's bloom path,
    * a salted join (q88), or a plain shuffle before a 100 TB join runs —
    * Σ f_fact(k)·f_dim(k) with f_dim ≡ 1 per dim row; no shuffle touches
    * the fact table and the sketch is broadcast-sized (width ≪ build-side
    * row count, like any hash-join build).
    *
    * Per-key CMS estimates never undercount, so the forecast is a provable
    * upper bound on the true cardinality; at the fixture's key cardinality
    * (15 k custkeys vs width 2·10⁵ × depth 10, seeded) every estimate is
    * collision-free and the forecast EQUALS the exact join count — which
    * is exactly what the oracle checks, q109's discipline. The LEFT join
    * keeps zero-order customers so a segment with no matches still emits
    * its 0 forecast. ScaleOpsSpec adds the coarse-width regime: forecast ≥
    * exact always, within the eps·N·|dim| overcount envelope.
    */
  val q114JoinCardinality = Q(
    "q114_join_cardinality",
    """SELECT c_mktsegment, count(o_custkey) AS est_matches
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val factKeys = Tables.orders(s, d)
      .select(col("o_custkey").cast("string").as("k"))
    val cms = factKeys.stat.countMinSketch("k", 1e-5, 0.999, 42)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      cms.writeTo(bos)
      bos.toByteArray
    }
    Tables.customer(s, d)
      .select(col("c_mktsegment"),
        call_function("graft_cms_estimate", lit(bytes),
          col("c_custkey").cast("string")).as("est"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("est")).as("est_matches"))
      .orderBy(col("c_mktsegment"))
  }

  /** MARKET-BASKET CO-OCCURRENCE — association mining (support /
    * confidence / lift) over parts bought in the same order: the
    * recommender-bootstrap operator, and the canonical example of SAFE
    * pair generation at scale. The only pair generator is an equi
    * self-join on the basket key, so work is Σ|basket|² — bounded by the
    * ~7-item TPC-H basket, NEVER corpus-quadratic (the same argument as
    * q132's prefix filter, enforced by the ScaleSpec no-cartesian sweep).
    * Items are distinct-ed per basket first (multiplicity is not
    * co-occurrence), pair stats join two part-keyed count tables, and
    * lift = c_ab·n / (c_a·c_b) reports through ratio6's exact integer
    * rounding (c_ab·n ≤ 2.3·10¹⁰ at sf0.1 — inside ratio6's 4.6·10¹²
    * operand bound). Noise floor c_ab ≥ 2; top 100 by (lift, pair) is a
    * total order (pair keys are unique), so the cap is deterministic.
    */
  val q153BasketLift = Q(
    "q153_basket_lift",
    s"""WITH b AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |),
      |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
      |pc AS (SELECT l_partkey, count(*) AS c FROM b GROUP BY 1),
      |pp AS (
      |  SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b,
      |    count(*) AS c_ab
      |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
      |    AND a.l_partkey < b2.l_partkey
      |  GROUP BY 1, 2
      |)
      |SELECT part_a, part_b, CAST(c_ab AS BIGINT) AS c_ab,
      |  CAST(ca.c AS BIGINT) AS c_a, CAST(cb.c AS BIGINT) AS c_b,
      |  CAST(n_orders AS BIGINT) AS n_orders,
      |  ${Exact.Sql.ratio6("c_ab", "n_orders")} AS support,
      |  ${Exact.Sql.ratio6("c_ab", "ca.c")} AS confidence,
      |  ${Exact.Sql.ratio6("c_ab * n_orders", "ca.c * cb.c")} AS lift
      |FROM pp
      |JOIN pc ca ON pp.part_a = ca.l_partkey
      |JOIN pc cb ON pp.part_b = cb.l_partkey, n
      |WHERE c_ab >= 2
      |ORDER BY lift DESC NULLS LAST, part_a NULLS FIRST, part_b NULLS FIRST
      |LIMIT 100""".stripMargin,
  ) { (s, d) =>
    val b = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val n = b.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val pc = b.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
    val pp = b.as("a").join(b.as("b2"),
        col("a.l_orderkey") === col("b2.l_orderkey")
          && col("a.l_partkey") < col("b2.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"),
        col("b2.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("c_ab"))
    pp.filter(col("c_ab") >= 2)
      .join(pc.select(col("l_partkey").as("part_a"), col("c").as("ca")),
        "part_a")
      .join(pc.select(col("l_partkey").as("part_b"), col("c").as("cb")),
        "part_b")
      .crossJoin(broadcast(n))
      .select(col("part_a"), col("part_b"),
        col("c_ab").cast("long").as("c_ab"),
        col("ca").cast("long").as("c_a"),
        col("cb").cast("long").as("c_b"),
        col("n_orders").cast("long").as("n_orders"),
        Exact.ratio6("c_ab", "n_orders").as("support"),
        Exact.ratio6("c_ab", "ca").as("confidence"),
        Exact.ratio6("c_ab * n_orders", "ca * cb").as("lift"))
      .orderBy(col("lift").desc_nulls_last, col("part_a"), col("part_b"))
      .limit(100)
  }
}
