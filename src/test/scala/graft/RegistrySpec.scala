package graft

/** Smoke coverage of the whole driver contract: every registered query runs
  * on sf0.001 with a well-formed schema, the flagship entry returns rows,
  * and the oracle map stays consistent with the registry.
  */
class RegistrySpec extends SparkSpec {

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.length === names.length)
  }

  test("oracle keys are exactly the oracle-carrying registry entries") {
    val withOracle = SparkEntry.registry.filter(_.oracle.isDefined).map(_.name).toSet
    assert(SparkEntry.oracleSql.keySet === withOracle)
    assert(withOracle.subsetOf(SparkEntry.queries.keySet))
  }

  test("SPARK_GRAFT_QUERIES selection: a typo fails naming itself, known " +
      "names select exactly those queries, unset selects all") {
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.selected(Some("q01_pricing_summary, q01_pricing_sumary"))
    }
    assert(ex.getMessage.contains("q01_pricing_sumary"))
    assert(!ex.getMessage.contains("q01_pricing_summary"))
    assert(SparkEntry.selected(Some("q01_pricing_summary,q218_zipf_slope,"))
      .keySet === Set("q01_pricing_summary", "q218_zipf_slope"))
    assert(SparkEntry.selected(None).keySet === SparkEntry.queries.keySet)
  }

  test("tools/unreached.py finds every src/main member reached or allowed") {
    import scala.sys.process._
    val quiet = ProcessLogger(_ => (), _ => ())
    assume(scala.util.Try(Seq("python3", "--version").!(quiet)).toOption.contains(0),
      "python3 is not on the PATH")
    val out = new StringBuilder
    val log = (l: String) => { out.append(l).append('\n'); () }
    // the forked test JVM runs in the project root
    val code = Seq("python3", "tools/unreached.py").!(ProcessLogger(log, log))
    assert(code === 0 && out.isEmpty, s"tools/unreached.py exited $code:\n$out")
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q58 approx_percentile tracks q54 exact percentiles within 1 unit") {
    import org.apache.spark.sql.Row
    val exact = queries.Gaps.q54Percentiles.fn(spark, sf).collect()
      .map { case Row(f: String, p25: Double, p50: Double, p75: Double, _) =>
        f -> Seq(p25, p50, p75) }.toMap
    val approx = queries.Gaps.q58ApproxPercentile.fn(spark, sf).collect()
      .map { case Row(f: String, p25: Double, p50: Double, p75: Double) =>
        f -> Seq(p25, p50, p75) }.toMap
    assert(approx.keySet === exact.keySet)
    for ((f, ps) <- approx; (a, e) <- ps.zip(exact(f)))
      // approx returns an actual data value; exact interpolates — on this
      // integer-valued column they differ by at most one quantity unit
      assert(math.abs(a - e) <= 1.0, s"flag $f: approx $a vs exact $e")
  }

  test("q61 exact-moment stddev matches the built-in stddev_samp to 1e-6") {
    import org.apache.spark.sql.functions._
    val exact = queries.Gaps.q61StatsMoments.fn(spark, sf)
      .select(col("l_returnflag"), col("stddev_samp")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val builtin = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(stddev_samp(col("l_quantity")).as("sd")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(exact.keySet === builtin.keySet)
    for ((f, e) <- exact)
      assert(math.abs(e - builtin(f)) <= 1e-6 * math.max(1.0, e),
        s"flag $f: exact $e vs builtin ${builtin(f)}")
  }

  test("EMPTY-CORPUS CONTRACT: every registered query materializes on a " +
      "zero-row corpus — no probe NPEs, no ANSI zero-divides, no loud " +
      "requires (the r17 audit: the full DuckDB gate passed 325/325 on " +
      "this fixture; this sweep pins the Spark side forever)", Slow) {
    val emptyDir = "/tmp/graft_empty_suite"
    for (t <- Seq("events", "documents", "embeddings", "orders",
        "lineitem", "customer", "part", "supplier", "nation", "region"))
      spark.read.parquet(s"$sf/$t.parquet").limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$emptyDir/$t.parquet")
    val failures = SparkEntry.registry.flatMap { q =>
      try {
        q.fn(spark, emptyDir).write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable => Some(s"${q.name}: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.length} queries break on an empty corpus:\n" +
        failures.mkString("\n"))
  }

  test("SKEW + ORDER-DETERMINISM CONTRACT: every registered query " +
      "returns an IDENTICAL ordered row sequence on two physical " +
      "layouts of the same Zipf+timeburst-skewed fixture (the r18 net " +
      "for the q02/q22 class: a non-total ORDER BY passes any single " +
      "layout and diverges across two; the r17 skew gate could only " +
      "catch it through the round-cadence oracle hash)", Slow) {
    val a = "/tmp/graft_skew_suite_a"
    val b = "/tmp/graft_skew_suite_b"
    Tool.writeSkewCorpus(spark, sf, a, timeburst = true,
      reverseLayout = false)
    Tool.writeSkewCorpus(spark, sf, b, timeburst = true,
      reverseLayout = true)
    // the 4 no_oracle sketch queries are excluded for the same reason the
    // driver gate excludes them from the hash compare: a mergeable sketch
    // (GK percentile, HLL register order) may legitimately vary with
    // partition layout — SketchRollupSpec carries their error-bound nets
    val failures = SparkEntry.registry.filter(_.oracle.isDefined).flatMap { q =>
      try {
        // Row.toString renders sign-of-zero (-0.0 vs 0.0) and NULLs —
        // the full ordered sequence must match, not a sorted multiset
        val ra = q.fn(spark, a).collect().map(_.toString)
        val rb = q.fn(spark, b).collect().map(_.toString)
        if (ra.toSeq == rb.toSeq) None
        else {
          val i = ra.zip(rb).indexWhere { case (x, y) => x != y }
          Some(s"${q.name}: layouts diverge (${ra.length}/${rb.length} " +
            s"rows; first diff at $i: " +
            s"${ra.lift(i).getOrElse("-")} vs ${rb.lift(i).getOrElse("-")})")
        }
      } catch {
        case e: Throwable => Some(s"${q.name}: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.length} queries are layout-sensitive on the skewed " +
        s"fixture:\n${failures.mkString("\n")}")
  }

  for (q <- SparkEntry.registry) {
    test(s"${q.name} runs on sf0.001 with distinct non-empty column names") {
      val df = q.fn(spark, sf)
      val cols = df.schema.fieldNames
      assert(cols.nonEmpty)
      assert(cols.distinct.length === cols.length, s"duplicate columns in $cols")
      assert(cols.forall(_.nonEmpty))
      // NULLABLE-BOOLEAN TRIPWIRE (§5.7): a NULL in a BOOLEAN output
      // column breaks the driver compare (DuckDB .df() renders it NaN,
      // Spark parquet None — the one asymmetric type, hit live by q287
      // at sf0.1). The ADVICE-named instances ship strings now; the
      // registry still carries ~a dozen boolean verdicts whose nullif-
      // guarded inputs COULD go NULL on a degenerate future fixture —
      // this fence fails loudly here before the oracle compare would
      // silently mismatch. Necessary-not-sufficient (sf0.001 only; the
      // three-scale oracle sweeps complete the fence), and automatic
      // for every future operator.
      import org.apache.spark.sql.functions.{col, sum, when}
      import org.apache.spark.sql.types.BooleanType
      val boolCols = df.schema.fields
        .filter(_.dataType == BooleanType).map(_.name)
      // Materialize fully FIRST, for every query (not count(): count lets
      // Catalyst prune; and the null-scan aggregate below prunes every
      // non-boolean output expression, so a runtime failure confined to a
      // pruned column would slip past it — the r15 ADVICE regression).
      df.write.format("noop").mode("overwrite").save()
      if (boolCols.nonEmpty) {
        val nulls = df.select(boolCols.map(c =>
          sum(when(col(s"`$c`").isNull, 1L).otherwise(0L)).as(c)).toSeq: _*)
          .collect()
        if (nulls.nonEmpty) {
          val row = nulls.head
          for ((c, i) <- boolCols.zipWithIndex if !row.isNullAt(i))
            assert(row.getLong(i) === 0L,
              s"${q.name}.$c: nullable BOOLEAN reached a NULL — ship " +
                "it as a string (§5.7) before the driver compare breaks")
        }
      }
    }
  }
}
