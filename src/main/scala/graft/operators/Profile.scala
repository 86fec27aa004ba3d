package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table profiling — the ANALYZE-shaped operator a stats-driven engine needs
  * (per-column row/null counts, min/max, and NDV), plus the planning helpers
  * that CONSUME the profile (so it is an operator, not just a report).
  *
  * Scale design (the round-6 lesson): the naive profile — N exact
  * `count(DISTINCT c)` in one aggregate — compiles to an Expand ×N of the
  * whole table feeding a corpus-wide multi-key shuffle (at 100 TB and N=11
  * that is a 1.1 PB shuffle to profile one table). Here NDV rides
  * `approx_count_distinct` (HyperLogLog++) instead: every per-column sketch
  * is an ordinary aggregate buffer in the SAME single HashAggregate as the
  * count/min/max columns — ONE scan, no Expand, one 1-row merge. That is
  * what real ANALYZE implementations ship; exactness for NDV is a
  * correctness non-goal (the sketch error bound is `ndvRsd`, asserted ≤10%
  * in ProfileSpec). The exact columns (rows, nulls, min, max) stay
  * oracle-checked in q79.
  */
object Profile {

  /** Long-format profile of `cols`: one row per column with
    * `(column_name, n_rows, n_nulls, min_value, max_value[, n_distinct_approx])`.
    * min/max are cast to string AFTER aggregating (uniform output schema
    * without corrupting numeric ordering). Single scan, single HashAggregate,
    * no Expand — plan-asserted in ProfileSpec.
    */
  /** Literal (non-parsed) reference to column `c`: backtick-quoted so names
    * with dots, spaces, quotes — or backticks themselves — resolve as one
    * identifier instead of being parsed as a field path or failing.
    */
  private def ref(c: String): org.apache.spark.sql.Column =
    col("`" + c.replace("`", "``") + "`")

  def profile(df: DataFrame, cols: Seq[String], withNdv: Boolean = true,
              ndvRsd: Double = 0.05): DataFrame = {
    val aggs = cols.flatMap { c =>
      val base = Seq(
        count(ref(c)).as(s"nn_$c"),
        min(ref(c)).cast("string").as(s"mn_$c"),
        max(ref(c)).cast("string").as(s"mx_$c"))
      if (withNdv) base :+ approx_count_distinct(ref(c), ndvRsd).as(s"nd_$c")
      else base
    }
    val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    // explode() pivots the 1-row wide aggregate into the long report —
    // driver cost O(#cols), never another pass over the data. Built with
    // the Column API (not SQL text) so arbitrary column names can't be
    // mis-parsed; the per-column aggregate aliases above are alias
    // STRINGS, which are never parsed either.
    val entries = cols.map { c =>
      val fields = Seq(
        lit(c).as("column_name"),
        (col("n_rows") - ref(s"nn_$c")).as("n_nulls"),
        ref(s"mn_$c").as("min_value"),
        ref(s"mx_$c").as("max_value")) ++
        (if (withNdv) Seq(ref(s"nd_$c").as("n_distinct_approx")) else Nil)
      struct(fields: _*)
    }
    val long = one.select(col("n_rows"), explode(array(entries: _*)).as("e"))
    val order = Seq("column_name", "n_rows", "n_nulls", "min_value",
      "max_value") ++ (if (withNdv) Seq("n_distinct_approx") else Nil)
    long.select(order.map(f =>
      (if (f == "n_rows") col(f) else col("e").getField(f)).as(f)): _*)
  }

  /** Row count recorded in a [[profile]] result. One bounded driver action
    * on a 1-row aggregate — the same shape as AQE's query-stage statistics,
    * NOT a data-path collect.
    */
  def rowCount(profiled: DataFrame): Long =
    profiled.agg(max(col("n_rows"))).head.getLong(0)

  /** Profile-driven join planning: join `left` and `right` on `cond`,
    * broadcasting whichever side the two profiles say is smaller — the
    * stats-feed-the-planner loop (collect stats once, reuse across a
    * workload) that table-level `ANALYZE` exists for. With Catalyst's own
    * size estimate disabled (autoBroadcastJoinThreshold=-1, asserted in
    * ProfileSpec) the profile decision alone yields the BroadcastHashJoin.
    */
  def joinWithProfiledBroadcast(
      left: DataFrame, leftProfile: DataFrame,
      right: DataFrame, rightProfile: DataFrame,
      cond: org.apache.spark.sql.Column): DataFrame =
    if (rowCount(leftProfile) <= rowCount(rightProfile))
      broadcast(left).join(right, cond)
    else
      left.join(broadcast(right), cond)
}
