package graft

import graft.operators.Fan
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** Properties of the q106–q109 scale operators that the DuckDB oracle
  * cannot express: sketch laws (no false negatives, no undercount,
  * mergeability), plan shapes under disabled broadcasts, and the
  * bloom-prune's actual pruning effect.
  */
class ScaleOpsSpec extends SparkSpec {

  test("bloom probe: no false negatives, and the prune actually prunes") {
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = urgent.stat.bloomFilter("o_orderkey", 10000, 0.01)
    val bytes = { val b = new ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"))
    val pruned = li.filter(call_function("graft_bloom_might_contain",
      lit(bytes), col("l_orderkey"))).count()
    val exact = li.join(urgent, col("l_orderkey") === col("o_orderkey"),
      "left_semi").count()
    val total = li.count()
    // no false negatives: every true member survives the probe
    assert(pruned >= exact)
    // the probe is a real prune, not a pass-through: at 1% fpp over a
    // ~20%-selective dim, survivors must be well under half the scan
    assert(pruned < total / 2,
      s"bloom pruned nothing: $pruned of $total survive, $exact true")
    // NULL key probes NULL (filter drops it), mirroring built-in predicates
    val nullProbe = spark.range(1)
      .select(call_function("graft_bloom_might_contain",
        lit(bytes), lit(null).cast("long")))
      .head
    assert(nullProbe.isNullAt(0))
  }

  test("q106 plans the bloom probe as a scan-side filter below the join") {
    val df = SparkEntry.queries("q106_bloom_semi_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val probeAt = plan.indexOf("graft_bloom_might_contain")
    val joinAt = math.max(plan.indexOf("BroadcastHashJoin"),
      plan.indexOf("SortMergeJoin"))
    assert(probeAt > 0, s"probe expression missing from plan:\n$plan")
    assert(joinAt > 0, s"confirming semi join missing from plan:\n$plan")
    // executed plans print top-down: deeper in the tree = later in the
    // string, so the probe filter must appear BELOW (after) the join node
    assert(probeAt > joinAt,
      s"bloom probe must sit on the scan side under the join:\n$plan")
  }

  test("q107 stays an equi join on the bin key with broadcasts disabled") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q107_range_bin_join")(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("CartesianProduct"),
        s"interval join degenerated to a product plan:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled equi join on the bin key:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q107 equals the naive BETWEEN join") {
    // the binned rewrite must be output-identical to the quadratic plan it
    // replaces (the oracle proves this vs DuckDB; this proves it vs SPARK's
    // own BNLJ evaluation of the same predicate — engine-internal equality)
    val pts = Tables.lineitem(spark, sf)
      .select((lit(900.0) + (col("l_orderkey") % 100000) / lit(1000.0)).as("v"))
    val iv = Tables.part(spark, sf)
      .select(col("p_brand"),
        (col("p_retailprice") - col("p_size") / lit(4000.0)).as("lo"),
        (col("p_retailprice") + col("p_size") / lit(4000.0)).as("hi"))
    val naive = pts.join(iv, col("v") >= col("lo") && col("v") <= col("hi"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n_matches"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val binned = SparkEntry.queries("q107_range_bin_join")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(binned === naive)
  }

  test("CMS: mergeable, never undercounts, eps-bounded on a wide vocabulary") {
    import spark.implicits._
    // adversarial fixture: zipf-ish corpus with a vocabulary far wider
    // than q109's 5 event types, split into two "days" built independently
    val terms = Fan.fan(Tables.documents(spark, sf))
      .select(explode(split(col("text"), " ")).as("term"),
        pmod(crc32(col("text")), lit(2)).as("day"))
      .cache()
    try {
      val eps = 0.005
      val whole = terms.stat.countMinSketch("term", eps, 0.99, 7)
      val d0 = terms.filter(col("day") === 0).stat.countMinSketch("term", eps, 0.99, 7)
      val d1 = terms.filter(col("day") === 1).stat.countMinSketch("term", eps, 0.99, 7)
      val merged = {
        // merge through (de)serialization — the rollup path a daily
        // pipeline uses when sketches are stored as binary columns
        val b = new ByteArrayOutputStream(); d0.writeTo(b)
        val m = CountMinSketch.readFrom(new ByteArrayInputStream(b.toByteArray))
        m.mergeInPlace(d1)
      }
      val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val n = exact.map(_._2).sum
      for ((t, c) <- exact) {
        val ew = whole.estimateCount(t)
        val em = merged.estimateCount(t)
        // same-seed merge law: merged daily sketches ARE the whole-corpus
        // sketch, cell for cell
        assert(em === ew, s"merge law broke for '$t': merged=$em whole=$ew")
        assert(ew >= c, s"CMS undercounted '$t': $ew < $c")
        assert(ew <= c + (eps * n).toLong + 1,
          s"CMS overcount for '$t' beyond eps·N: $ew vs $c (N=$n)")
      }
    } finally { terms.unpersist(); () }
  }

  test("q109's estimates are exact at its key cardinality") {
    val est = SparkEntry.queries("q109_cms_frequency")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === exact)
  }

  test("q114 forecasts the join size without planning any join") {
    val df = SparkEntry.queries("q114_join_cardinality")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"forecast must not execute the join it predicts:\n$plan")
    val est = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // at fixture cardinality the sketch is collision-free: forecast == truth
    assert(est === exact)
  }

  test("coarse-width join forecast stays an eps-enveloped upper bound") {
    // force the collision regime: width 2/eps = 200 cells against ~1500
    // distinct custkeys, where per-key estimates MUST overcount
    val eps = 0.01
    val facts = Tables.orders(spark, sf)
      .select(col("o_custkey").cast("string").as("k"))
    val cms = facts.stat.countMinSketch("k", eps, 0.999, 42)
    val bytes = { val b = new ByteArrayOutputStream(); cms.writeTo(b); b.toByteArray }
    val n = facts.count()
    val dim = Tables.customer(spark, sf)
    val dimN = dim.count()
    val est = dim.select(call_function("graft_cms_estimate",
        lit(bytes), col("c_custkey").cast("string")).as("e"))
      .agg(sum(col("e"))).head.getLong(0)
    val exact = dim.join(Tables.orders(spark, sf),
      col("c_custkey") === col("o_custkey")).count()
    // per-key no-undercount makes the summed forecast a true upper bound
    assert(est >= exact, s"forecast $est undercut exact $exact")
    // and each key's overcount is eps·N-enveloped (seeded, so stable)
    assert(est <= exact + (dimN * eps * n).toLong,
      s"forecast $est beyond envelope over $exact (N=$n, dim=$dimN)")
  }

  test("q110 samples via a two-phase aggregate, not a window sort") {
    val df = SparkEntry.queries("q110_bottomk_sample")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the Aggregator plans as ObjectHashAggregate with a partial phase
    // (map-side combine ships ≤ k rows per group per task); the
    // row_number formulation would show Window/WindowGroupLimit + Sort
    assert(plan.contains("ObjectHashAggregate"),
      s"expected an object hash aggregate:\n$plan")
    assert(plan.contains("partial_bottomk"),
      s"expected a partial (map-side) aggregation phase:\n$plan")
    assert(!plan.contains("WindowGroupLimit"),
      s"bottom-k must not fall back to a window sort:\n$plan")

    // and it must equal the window formulation row for row
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      val h = conv(substring(
        md5(concat(lit("bk|"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long")
      Tables.documents(spark, sf)
        .select(col("source"), col("doc_id"), h.as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
        .filter(col("rk") <= 3)
        .select(col("source"), col("doc_id"), col("rk").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    val viaAgg = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaAgg === viaWindow)
  }

  test("bloom probe survives an interpreted (non-codegen) evaluation") {
    // fallback path parity: the same rows pass whether the predicate runs
    // through doGenCode or eval (wholestage off)
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val bloom = urgent.stat.bloomFilter("o_orderkey", 10000, 0.01)
    val bytes = { val b = new ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
    def survivors(): Long = Tables.lineitem(spark, sf)
      .filter(call_function("graft_bloom_might_contain",
        lit(bytes), col("l_orderkey"))).count()
    val codegen = survivors()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(survivors() === codegen)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
}
