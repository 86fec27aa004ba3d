package graft

import graft.operators.{Fan, OrderedBins, PlanStats}
import org.apache.spark.sql.functions._

/** Nets for the r18 sampled-quantile binning stack: the `graft_bucket`
  * expression (codegen/interpreted parity, monotonicity), the
  * edges-are-pure-plan invariance of the binned devices (ANY sorted
  * edge array must yield bit-identical output), the shape-agnostic
  * worst-bin-mass bound the round-17 verdict asked for (exponential,
  * reverse-exponential, lognormal fixtures), the zero-job
  * footer-stats dispatch, and Fan's scan-split bound.
  */
class BucketsSpec extends SparkSpec {

  private def bucketSql(k: String, edges: Seq[Long], ge: Boolean): String =
    s"graft_bucket($k, array(${edges.map(_ + "L").mkString(",")}), $ge)"

  test("graft_bucket: asc counts edges <= k, desc counts edges >= k, " +
      "exact on hits, gaps, and both boundaries; null key -> null") {
    val edges = Seq(10L, 20L, 30L)
    val keys = Seq(5L, 10L, 15L, 20L, 25L, 30L, 35L)
    val got = spark.sql(
      s"""SELECT k, ${bucketSql("k", edges, ge = false)} AS asc_bin,
         |  ${bucketSql("k", edges, ge = true)} AS desc_bin
         |FROM VALUES ${keys.map(k => s"(${k}L)").mkString(",")} AS t(k)
         |ORDER BY k""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got === Seq((5L, 0L, 3L), (10L, 1L, 3L), (15L, 1L, 2L),
      (20L, 2L, 2L), (25L, 2L, 1L), (30L, 3L, 1L), (35L, 3L, 0L)))
    val n = spark.sql(
      s"SELECT ${bucketSql("CAST(NULL AS BIGINT)", edges, ge = false)}")
      .collect()
    assert(n.head.isNullAt(0))
  }

  test("graft_bucket: interpreted path (wholeStage off) agrees with the " +
      "codegen'd path on a dense key sweep, both directions — the §2.10 " +
      "parity net") {
    val edges = (0 until 64).map(i => (i * 37 % 101).toLong).sorted
    def sweep(): Seq[(Long, Long, Long)] = spark.range(-5, 110)
      .selectExpr("id", bucketSql("id", edges, ge = false) + " AS a",
        bucketSql("id", edges, ge = true) + " AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val gen = sweep()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp =
      try sweep()
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(gen === interp)
    // monotone: asc non-decreasing, desc non-increasing along the sweep
    assert(gen.map(_._2) === gen.map(_._2).sorted)
    assert(gen.map(_._3) === gen.map(_._3).sorted.reverse)
  }

  test("edges are pure plan: rankPar/prefixSumPar forced onto the " +
      "two-level path and typeGapsCarry forced onto the bin-lag path " +
      "return bit-identical rows under EMPTY, single, all-equal, and " +
      "skewed-sorted edge overrides (any sorted array is a valid binning " +
      "— only task balance may change)") {
    val e = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_type"), col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("us"))
    val h = e.groupBy(col("user_id")).agg(count(lit(1)).cast("long").as("s1"))
    val overrides: Seq[Option[Array[Long]]] = Seq(
      None, // the sampled-quantile default
      Some(Array.empty[Long]), // one bin: the degenerate single task
      Some(Array(3L)),
      Some(Array(5L, 5L, 5L)), // duplicate edges
      Some(Array(Long.MinValue, -7L, 0L, 2L, Long.MaxValue)))
    def rk(ov: Option[Array[Long]]) =
      OrderedBins.rankPar(h, "s1", desc = true, Seq("user_id"), Nil, 0L, ov)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    def ps(ov: Option[Array[Long]]) =
      OrderedBins.prefixSumPar(h, "s1", desc = false, Seq("user_id"),
          Seq("s1"), Nil, 0L, ov)
        .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    def tg(threshold: Long, ov: Option[Array[Long]]) =
      OrderedBins.typeGapsCarry(e, Nil, threshold, ov)
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val (rk0, ps0) = (rk(overrides.head), ps(overrides.head))
    // typeGapsCarry's reference is the lead window (threshold MaxValue);
    // threshold 0 forces the bin-lag path under every binning, the
    // sampled-quantile default included
    val tgWin = tg(Long.MaxValue, None)
    assert(rk0.nonEmpty && ps0.nonEmpty && tgWin.nonEmpty)
    for (ov <- overrides.tail) {
      assert(rk(ov) === rk0, s"rankPar diverged on ${ov.map(_.toSeq)}")
      assert(ps(ov) === ps0, s"prefixSumPar diverged on ${ov.map(_.toSeq)}")
    }
    for (ov <- overrides)
      assert(tg(0L, ov) === tgWin,
        s"typeGapsCarry bin-lag diverged from the window on ${ov.map(_.toSeq)}")
  }

  test("graft_bucket prints its edge count, not the edge literal: a " +
      "rankPar forced onto the bin plan with 4096 edges keeps every " +
      "sampled edge value out of its plan strings") {
    val h = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).cast("long").as("s1"))
    val edges = Array.tabulate(4096)(i => 987654321000L + 1000003L * i)
    val df = OrderedBins.rankPar(h, "s1", desc = false, Seq("user_id"),
      Nil, 0L, Some(edges))
    val plans = Seq(df.queryExecution.toString,
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    for (p <- plans) {
      assert(p.contains("<4096 edges>"), "the bin plan was not taken")
      for (v <- Seq(edges(0), edges(1), edges(2048), edges(4095)))
        assert(!p.contains(v.toString), s"edge $v printed in the plan")
    }
  }

  test("shape-agnostic worst-bin mass: sampled-quantile edges keep the " +
      "largest bin under 1% of rows on exponential, REVERSE-exponential " +
      "(mass at hi — the shape ln-anchored-at-lo bins collapse on), " +
      "lognormal, and one-hour-burst-in-a-year fixtures") {
    // deterministic uniforms off a hash — no RNG (resume-safe pattern)
    val u = "( (pmod(xxhash64(id), 1000000000L) + 500000000L) % 1000000000L + 0.5 ) / 1000000000.0"
    val n = 200000L
    val fixtures: Seq[(String, String)] = Seq(
      "exponential" -> s"CAST(-ln($u) * 1000000 AS BIGINT)",
      "reverse_exponential" ->
        s"CAST(1000000000 + ln($u) * 1000000 AS BIGINT)",
      // Box–Muller-free lognormal-ish: exp of a sum of 4 shifted
      // uniforms (Irwin–Hall ~ gaussian) — heavy right body
      "lognormal" -> ("CAST(exp(4.0 * (" +
        (1 to 4).map(i =>
          s"((pmod(xxhash64(id + ${i * 7919}), 1000000L) + 0.5) / 1000000.0)")
          .mkString(" + ") + " - 2.0)) * 100000 AS BIGINT)"),
      // 90% of keys inside one hour at the END of a year span (µs)
      "time_burst" -> ("CAST(CASE WHEN id % 10 != 0 THEN " +
        s"31536000000000L - 3600000000L + CAST($u * 3600000000L AS BIGINT) " +
        s"ELSE CAST($u * 31536000000000L AS BIGINT) END AS BIGINT)"))
    for ((name, keyExpr) <- fixtures) {
      val d = spark.range(0, n, 1, 8).selectExpr(s"$keyExpr AS k")
      val edges = d
        .selectExpr("percentile_approx(k, array(" +
          (1 to 4095).map(i => (i / 4096.0).toString).mkString(",") +
          "), 10000) AS e")
        .head.getSeq[Long](0).distinct.sorted
      val worst = d
        .selectExpr(bucketSql("k", edges, ge = false) + " AS bin")
        .groupBy(col("bin")).count()
        .agg(max(col("count"))).head.getLong(0)
      assert(worst.toDouble / n <= 0.01,
        s"$name: worst bin holds ${worst.toDouble / n} of the mass " +
          s"(${edges.length} distinct edges)")
    }
  }

  test("zero-job dispatch: on a frame whose row count is provable from " +
      "parquet footers (filter+project+aggregate over a scan), building " +
      "the sub-threshold window path runs NO Spark job at all; " +
      "rowUpperBound itself is exact on scans and refuses joins") {
    val docs = Tables.documents(spark, sf).filter(col("n_chars").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val exact = docs.count()
    val upper = PlanStats.rowUpperBound(docs)
    assert(upper.isDefined && upper.get >= exact,
      s"footer bound $upper must dominate the filtered count $exact")
    // aggregate keeps the bound; a join drops to None (never guess)
    assert(PlanStats.rowUpperBound(
      docs.groupBy(col("source")).agg(count(lit(1)))).contains(upper.get))
    assert(PlanStats.rowUpperBound(docs.join(docs, "doc_id")).isEmpty)
    assert(PlanStats.rowUpperBound(docs.limit(5)).contains(5L))
    // LocalRelation is exact
    import spark.implicits._
    assert(PlanStats.rowUpperBound(
      Seq((1L, 2L), (3L, 4L)).toDF("a", "b")).contains(2L))
    // the listener proof: constructing the provably-small window path
    // must launch zero jobs (r17 ran one probe job per call site here)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val planned = OrderedBins.rankPar(docs, "n_chars", desc = false,
        Seq("doc_id"), Seq("source"))
      Thread.sleep(500) // listener delivery is async; zero expected
      assert(jobs === 0,
        s"building the stats-dispatched window path launched $jobs jobs")
      assert(planned.columns.takeRight(2).toSeq === Seq("i", "nd"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("hot-key tie sub-binning (r19): a 90%-hot rank key returns rows " +
      "bit-identical to the window path on the SAMPLED two-level path, " +
      "the forced-override path, and ADVERSARIAL tie edges (empty, " +
      "duplicate, extreme) — sub-bins are pure plan, never answer; " +
      "NULL ties ride nulls-first; desc direction included; an override " +
      "whose hot value is not an edge is refused loudly") {
    // 200k rows, 90% share k=500 (the serialized-task shape), unique tie,
    // 3 partitions; deterministic arithmetic only (resume-safe)
    val d = spark.range(0, 200000, 1, 8).selectExpr(
      "CASE WHEN id % 10 != 0 THEN 500L ELSE pmod(xxhash64(id), 1000L) END AS k",
      "CASE WHEN id % 97 = 0 THEN CAST(NULL AS BIGINT) ELSE id END AS t",
      "CAST(pmod(id, 3) AS STRING) AS p")
    def rk(desc: Boolean, threshold: Long,
        eov: Option[Array[Long]] = None,
        sov: Option[(Array[Long], Array[Long])] = None): Seq[String] =
      OrderedBins.rankPar(d, "k", desc, Seq("t"), Seq("p"), threshold, eov, sov)
        .collect().map(_.toString).sorted.toSeq
    for (desc <- Seq(false, true)) {
      val window = rk(desc, Long.MaxValue) // zero-job guarded window path
      assert(window.nonEmpty)
      // sampled path: the probe itself must detect the hot value and
      // sub-bin it — same rows
      assert(rk(desc, 0L) === window, s"sampled path diverged (desc=$desc)")
      // forced override: hot value IS an edge; tie edges adversarial
      val edges = Some(Array(100L, 500L, 900L))
      for (te <- Seq(Array.empty[Long], Array(5L, 5L, 5L),
          Array(Long.MinValue, 0L, 77777L, Long.MaxValue)))
        assert(rk(desc, 0L, edges, Some((Array(500L), te))) === window,
          s"override path diverged (desc=$desc, te=${te.toSeq})")
    }
    // hot value not a member of the edge array: loudly refused, never a
    // silent wrong-order binning
    val ex = intercept[IllegalArgumentException] {
      rk(desc = false, 0L, Some(Array(100L)), Some((Array(500L), Array(7L))))
    }
    assert(ex.getMessage.contains("edge array"))
  }

  test("hot-key tie sub-binning: prefixSumPar on the same 90%-hot fixture " +
      "— sampled and adversarial-override paths equal the window path") {
    val d = spark.range(0, 200000, 1, 8).selectExpr(
      "CASE WHEN id % 10 != 0 THEN 500L ELSE pmod(xxhash64(id), 1000L) END AS k",
      "id AS t",
      "CAST(pmod(id, 3) AS STRING) AS p",
      "pmod(id, 7L) AS v")
    def ps(threshold: Long,
        eov: Option[Array[Long]] = None,
        sov: Option[(Array[Long], Array[Long])] = None): Seq[String] =
      OrderedBins.prefixSumPar(d, "k", desc = false, Seq("t"), Seq("v"),
          Seq("p"), threshold, eov, sov)
        .collect().map(_.toString).sorted.toSeq
    val window = ps(Long.MaxValue)
    assert(window.nonEmpty)
    assert(ps(0L) === window, "sampled sub-bin path diverged")
    assert(ps(0L, Some(Array(500L)),
      Some((Array(500L), Array(1000L, 100000L)))) === window,
      "override sub-bin path diverged")
  }

  test("hot-key tie sub-binning: typeGapsCarry on identical-timestamp " +
      "clumps (90% of events share one us) — forced bin-lag equals " +
      "window, carry columns included") {
    val e = spark.range(0, 150000, 1, 8).selectExpr(
      "id AS event_id",
      "CASE WHEN id % 10 != 0 THEN 1700000000000000L " +
        "ELSE 1700000000000000L + id * 1000L END AS us",
      "CASE WHEN id % 2 = 0 THEN 'click' ELSE 'view' END AS event_type",
      "pmod(id, 11L) AS vc")
    def tg(threshold: Long): Seq[String] =
      OrderedBins.typeGapsCarry(e, Seq("vc"), threshold)
        .collect().map(_.toString).sorted.toSeq
    val window = tg(Long.MaxValue)
    assert(window.nonEmpty)
    // the probe detects the hot us and splits its clump into event_id tie
    // sub-bins; block boundaries move, the rows must not
    assert(tg(0L) === window, "hot-us bin-lag path diverged")
  }

  test("rowUpperBound soundness corners (r18 ADVICE): Poisson sample " +
      "(withReplacement) can EMIT MORE ROWS than its child so the bound " +
      "must refuse; a GLOBAL aggregate over an empty child still emits " +
      "one row so the bound must be >= 1") {
    import spark.implicits._
    val d = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    // without replacement: subset of child — child bound is sound
    assert(PlanStats.rowUpperBound(
      d.sample(withReplacement = false, 0.5)).contains(3L))
    // with replacement: Poisson sampler, fraction may exceed 1 — any
    // child-derived bound can under-count; unknown means probe
    assert(PlanStats.rowUpperBound(
      d.sample(withReplacement = true, 2.0)).isEmpty)
    // global aggregate over a provably-empty child: 1 row, never 0
    val empty = d.filter(col("a") > 100L)
    val g = PlanStats.rowUpperBound(empty.agg(count(lit(1))))
    assert(g.exists(_ >= 1L), s"global agg over empty child bound: $g")
    // and it really is one row
    assert(empty.agg(count(lit(1))).count() === 1L)
    // grouped aggregate keeps the child bound — here the optimizer folds
    // the filter into an EMPTY LocalRelation, so the bound is an exact 0
    // (0 groups from 0 rows) and only the GLOBAL agg needs the floor of 1
    val grouped = empty.groupBy(col("a")).agg(count(lit(1)))
    assert(PlanStats.rowUpperBound(grouped).exists(_ >= grouped.count()))
  }

  test("Fan's split bound: one split per single-file table, the file " +
      "count for a multi-file directory, None through a join, and one " +
      "split for a one-row-group file larger than maxPartitionBytes") {
    val tables = new java.io.File(sf).listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(tables.length === 10)
    for (t <- tables)
      assert(Fan.splitsUpperBound(spark.read.parquet(t.getPath))
        .contains(1L), t.getName)
    val dir = "/tmp/graft_bucketspec_fan_multi"
    spark.range(0, 3000, 1, 3).write.mode("overwrite").parquet(dir)
    assert(new java.io.File(dir).listFiles
      .count(_.getName.endsWith(".parquet")) === 3)
    val multi = spark.read.parquet(dir)
    assert(Fan.splitsUpperBound(multi.filter(col("id") > 5L)
      .select(col("id"))).contains(3L))
    assert(Fan.splitsUpperBound(multi.join(multi, "id")).isEmpty)
    // the footer case: embeddings is one row group of ~190 kB; at a
    // quarter of its size per split the byte estimate alone says 5
    val emb = new java.io.File(s"$sf/embeddings.parquet")
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, (emb.length / 4).toString)
    try assert(Fan.splitsUpperBound(spark.read.parquet(emb.getPath))
      .contains(1L))
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // the walk stops at an exchange: a repartitioned frame has no bound,
    // so fanning it again passes it through untouched
    val docs = Tables.documents(spark, sf)
    assert(Fan.splitsUpperBound(docs.repartition(3)).isEmpty)
    val fanned = Fan.fan(docs)
    assert(Fan.splitsUpperBound(fanned).isEmpty)
    assert(Fan.fan(fanned) eq fanned)
    // one split under local[4]: fan is a round-robin exchange to
    // defaultParallelism, the same plan and partition count as a plain
    // repartition(defaultParallelism)
    val par = spark.sparkContext.defaultParallelism
    assert(par >= 2)
    assert(fanned.queryExecution.logical ===
      docs.repartition(par).queryExecution.logical)
    assert(fanned.rdd.getNumPartitions === par)
  }

  test("typeGapsCarry refuses NULL `us` on BOTH dispatch routes (r18 " +
      "ADVICE): the probe path via a loud require, the zero-job window " +
      "path via the assert sort key — NULL keys must never silently pick " +
      "a meaning by path") {
    val dir = "/tmp/graft_bucketspec_tg_nulls"
    spark.range(0, 10).selectExpr(
        "CAST(id AS BIGINT) AS event_id",
        "CASE WHEN id = 3 THEN CAST(NULL AS BIGINT) ELSE id * 1000000 END AS us",
        "'view' AS event_type")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val e = spark.read.parquet(dir)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    // zero-job route (footer-provable 10 rows < threshold): assert key
    assert(PlanStats.rowUpperBound(e).contains(10L))
    val exWin = intercept[Exception] {
      OrderedBins.typeGapsCarry(e, Nil).collect()
    }
    assert(messages(exWin).exists(_.contains("NULL key")),
      s"window path: ${messages(exWin).mkString(" | ")}")
    // probe route (forced by an unprovable plan: threshold 0 forces the
    // probe only when the footer bound can't fire — join breaks the walk)
    val unprovable = e.join(
      e.select(col("event_id").as("j_id")).distinct(),
      col("event_id") === col("j_id")).drop("j_id")
    assert(PlanStats.rowUpperBound(unprovable).isEmpty)
    val exProbe = intercept[IllegalArgumentException] {
      OrderedBins.typeGapsCarry(unprovable, Nil).collect()
    }
    assert(exProbe.getMessage.contains("NULL"),
      s"probe path: ${exProbe.getMessage}")
    // forced bin-lag threshold: the refusal must come before any large
    // plan is built or run, loudly
    val exBinLag = intercept[Exception] {
      OrderedBins.typeGapsCarry(unprovable, Nil, 0L).collect()
    }
    assert(messages(exBinLag).exists(_.contains("NULL")),
      s"bin-lag path: ${messages(exBinLag).mkString(" | ")}")
  }

  test("typeGapsCarry on an EMPTY frame returns the same schema on the " +
      "probe route as on the zero-job route — carry columns keep their " +
      "input type (a DOUBLE carry stays DOUBLE)") {
    val dir = "/tmp/graft_bucketspec_tg_empty"
    spark.range(0, 10).selectExpr(
        "CAST(id AS BIGINT) AS event_id",
        "id * 1000000 AS us",
        "'view' AS event_type",
        "CAST(id AS DOUBLE) / 4 AS v")
      .filter(col("event_id") < 0L)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val e = spark.read.parquet(dir)
    assert(PlanStats.rowUpperBound(e).contains(0L))
    val unprovable = e.join(
      e.select(col("event_id").as("j_id")).distinct(),
      col("event_id") === col("j_id")).drop("j_id")
    assert(PlanStats.rowUpperBound(unprovable).isEmpty)
    val zeroJob = OrderedBins.typeGapsCarry(e, Seq("v"))
    val probed = OrderedBins.typeGapsCarry(unprovable, Seq("v"))
    assert(probed.schema === zeroJob.schema)
    assert(probed.schema("v").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(probed.collect().isEmpty && zeroJob.collect().isEmpty)
  }

  test("the zero-job window path still refuses NULL keys — loudly, at " +
      "execution (the assert sort key stands in for the probe's require)") {
    val dir = "/tmp/graft_bucketspec_nulls"
    spark.range(0, 10).selectExpr("id",
        "CASE WHEN id = 7 THEN CAST(NULL AS BIGINT) ELSE id * 3 END AS k")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val d = spark.read.parquet(dir)
    assert(PlanStats.rowUpperBound(d).contains(10L))
    val ex = intercept[Exception] {
      OrderedBins.rankPar(d, "k", desc = false, Seq("id")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("NULL key")),
      s"expected the NULL-key assert, got: ${messages(ex).mkString(" | ")}")
  }
}
