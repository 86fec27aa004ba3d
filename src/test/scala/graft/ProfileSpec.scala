package graft

import graft.operators.Profile
import graft.queries.Gaps
import org.apache.spark.sql.functions._

/** The q79/q81 profile operator: exactness of the oracle-checked part is
  * the driver's job; THIS suite pins the two claims the oracle can't —
  * the plan shape (no Expand, one aggregate) and the sketch-NDV accuracy —
  * plus the profile-consumer loop (stats pick the broadcast side).
  */
class ProfileSpec extends SparkSpec {

  test("profile plans ONE aggregate pass with no Expand") {
    val p = Profile.profile(Tables.lineitem(spark, sf), Gaps.profileCols)
    p.write.format("noop").mode("overwrite").save()
    val plan = p.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"profile must not Expand:\n$plan")
    // one scan of lineitem, not one per column
    val scans = plan.linesIterator.count(_.contains("lineitem.parquet"))
    assert(scans <= 2, s"expected a single lineitem scan, plan:\n$plan")
  }

  test("sketch NDV tracks exact NDV within 10% on every profiled column") {
    val li = Tables.lineitem(spark, sf)
    val p = Profile.profile(li, Gaps.profileCols)
      .select(col("column_name"), col("n_distinct_approx"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    Gaps.profileCols.foreach { c =>
      val exact = li.select(countDistinct(col(c))).head.getLong(0)
      val approx = p(c)
      val err = math.abs(approx - exact).toDouble / exact
      assert(err <= 0.10, s"$c: approx $approx vs exact $exact (err $err)")
    }
  }

  test("hostile column names (dots, spaces, quotes, backticks) profile cleanly") {
    // the Column-API long format + backtick-quoted references: none of
    // these names may be parsed as a field path or SQL text
    val names = Seq("a.b", "with space", """has"quote""", "tick`tock")
    val df = spark.range(7).select(
      names.map(n => (col("id") * 2).as(n)): _*)
    val p = Profile.profile(df, names).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getString(4))).toMap
    assert(p.keySet === names.toSet)
    names.foreach { n =>
      assert(p(n)._1 === 0L, s"$n nulls")
      assert(p(n)._2 === "12", s"$n max")
    }
  }

  test("profile row counts drive the broadcast side (BuildLeft = smaller)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable Catalyst's own size-based broadcast so only the profile
    // decision can produce a broadcast join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cust = Tables.customer(spark, sf)
      val ord = Tables.orders(spark, sf)
      val joined = Profile.joinWithProfiledBroadcast(
        cust, Profile.profile(cust, Seq("c_custkey")),
        ord, Profile.profile(ord, Seq("o_custkey")),
        col("o_custkey") === col("c_custkey"))
      joined.write.format("noop").mode("overwrite").save()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      // customer (1.5k rows) is the left arg and the profiled-smaller side
      assert(plan.contains("BuildLeft"), s"expected BuildLeft (customer):\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
