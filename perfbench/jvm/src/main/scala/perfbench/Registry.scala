package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Try

import Main.{median, secondsOf}

/** The `registry` workload: a sample of `SparkEntry.queries`, each built
  * (`fn(spark, dir)`) and then run into a `noop` sink, as `graft.Bench`
  * does. */
object Registry {

  type Fn = (SparkSession, String) => DataFrame

  /** Order-independent fingerprint of a frame: its row count and the sum
    * of one 64-bit hash per row. Floating-point values are hashed at nine
    * significant digits, so a change of summation order does not change
    * the fingerprint. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => canon(col(f.name), f.dataType))
    val row = named
      .agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*)
        .cast(DecimalType(38, 0))))
      .head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case ArrayType(e, _) => transform(c, x => canon(x, e))
    case MapType(k, v, _) =>
      transform(array_sort(map_entries(c)),
        e => struct(canon(e.getField("key"), k), canon(e.getField("value"), v)))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: UserDefinedType[_] => c.cast(StringType)
    case _ => c
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def errorOf(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private def lookup(opt: Map[String, String]): Seq[(String, Fn)] = {
    val all = graft.SparkEntry.queries
    opt("queries").split(',').toSeq.filter(_.nonEmpty).map(n =>
      n -> all.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))
  }

  /** Row count and content fingerprint of one query's output. */
  private def checkOf(df: => DataFrame): Map[String, Any] =
    try {
      val (rows, fp) = fingerprint(df)
      Map[String, Any]("rows" -> rows, "fp" -> fp)
    } catch { case e: Throwable => Map[String, Any]("error" -> errorOf(e)) }

  /** Build each query and fingerprint its output. */
  private def checkPass(spark: SparkSession, dir: String,
      qs: Seq[(String, Fn)]): Map[String, Map[String, Any]] =
    qs.map { case (n, fn) => n -> checkOf(fn(spark, dir)) }.toMap

  /** One timed pass: build, then run into the noop sink. */
  private def timedPass(spark: SparkSession, dir: String,
      qs: Seq[(String, Fn)], tracer: Option[Tracer]): Seq[Map[String, Any]] = {
    def within[T](name: String, layer: String)(body: => T): T =
      tracer.fold(body)(_.span(name, layer)(body))
    qs.map { case (n, fn) =>
      within(n, "query") {
        try {
          val (df, b) = secondsOf(within("build", "queries.build")(fn(spark, dir)))
          val (_, a) = secondsOf(within("action", "exec.action")(noop(df)))
          Map[String, Any]("query" -> n, "build_s" -> b, "action_s" -> a, "ok" -> true)
        } catch {
          case e: Throwable =>
            Map[String, Any]("query" -> n, "ok" -> false, "error" -> errorOf(e))
        }
      }
    }
  }

  def run(spark: SparkSession, opt: Map[String, String]): Map[String, Any] = {
    val dir = opt("sf-dir")
    val qs = lookup(opt)
    val seconds = opt("seconds").toDouble
    // Untimed warmup: one pass as timed below, then the output check on the
    // frames that pass built.
    val ((checks, warmPass), warmup) = secondsOf {
      val (built, w) = secondsOf(qs.map { case (n, fn) =>
        n -> Try { val df = fn(spark, dir); noop(df); df } })
      (built.map { case (n, df) => n -> checkOf(df.get) }.toMap, w)
    }
    val base = Map[String, Any]("checks" -> checks, "warmup_s" -> warmup,
      "warm_calls_s" -> Seq(warmPass))
    if (opt("trace") == "1") base ++ traced(spark, dir, qs)
    else {
      // Passes until `seconds` have passed, at least three; each query's
      // time is its fastest of them. The host's speed varies from minute to
      // minute, and the fastest of several passes is the one least slowed.
      val passes = Seq.newBuilder[Seq[Map[String, Any]]]
      val t0 = System.nanoTime()
      var n = 0
      do { passes += timedPass(spark, dir, qs, None); n += 1 }
      while (n < 3 || (System.nanoTime() - t0) / 1e9 < seconds)
      base ++ Map("passes" -> passes.result())
    }
  }

  /** One untraced pass, then one traced pass; the per-layer metrics come
    * from the traced one, and the difference between the two is the
    * tracing overhead. */
  private def traced(spark: SparkSession, dir: String,
      qs: Seq[(String, Fn)]): Map[String, Any] = {
    def total(p: Seq[Map[String, Any]]) = p.map(r =>
      r.getOrElse("build_s", 0.0).asInstanceOf[Double] +
        r.getOrElse("action_s", 0.0).asInstanceOf[Double]).sum
    val plain = timedPass(spark, dir, qs, None)
    val tracer = new Tracer(spark)
    val pass = tracer.span("registry", "workload")(timedPass(spark, dir, qs, Some(tracer)))
    tracer.finish()

    val spans = tracer.spans.toSeq
    val builds = spans.filter(_.layer == "queries.build")
    val actions = spans.filter(_.layer == "exec.action")
    val actionIds = actions.map(_.id).toSet
    val jobs = tracer.jobList
    val stages = tracer.stageList.filter(s => actionIds(s.span))
    val plans = tracer.planList.filter(p => tracer.spanAt(p.start) >= 0)
    val actionPlans = plans.filter(p => actionIds(tracer.spanAt(p.start)))
    val buildJobs = builds.map(b => jobs.count(_.span == b.id).toDouble)
    val skews = stages.filter(_.taskMillis.size >= 2).map { s =>
      val m = median(s.taskMillis.map(_.toDouble))
      if (m > 0) s.taskMillis.max / m else 1.0
    }
    val mb = 1024.0 * 1024.0
    val layers = Map[String, Double](
      "queries.build_s" -> builds.map(_.seconds).sum,
      "queries.build_jobs" -> buildJobs.sum,
      "queries.build_jobs_p50" -> median(buildJobs),
      "plans.analysis_s" -> plans.map(_.analysisMs).sum / 1e3,
      "plans.optimization_s" -> plans.map(_.optimizationMs).sum / 1e3,
      "plans.planning_s" -> plans.map(_.planningMs).sum / 1e3,
      "exec.action_s" -> actions.map(_.seconds).sum,
      "exec.jobs" -> jobs.count(j => actionIds(j.span)).toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> stages.map(_.tasks).sum.toDouble,
      "exec.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> stages.map(_.spill).sum / mb,
      "exec.gc_s" -> actions.map(_.gcMs).sum / 1e3,
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "exec.single_partition_ops" -> actionPlans.map(_.singlePartitionOps).sum.toDouble,
      "trace.overhead_frac" -> (total(pass) / math.max(total(plain), 1e-9) - 1),
    )
    val perQuery = spans.filter(_.layer == "query").map { q =>
      val kids = spans.filter(_.parent == q.id)
      def jobsOf(layer: String) = kids.filter(_.layer == layer)
        .map(k => jobs.count(_.span == k.id)).sum
      Map[String, Any]("query" -> q.name, "wall_s" -> q.seconds,
        "build_jobs" -> jobsOf("queries.build"),
        "action_jobs" -> jobsOf("exec.action"),
        "single_partition_ops" -> actionPlans
          .filter(p => kids.exists(k => k.id == tracer.spanAt(p.start)))
          .map(_.singlePartitionOps).sum)
    }
    Map("passes" -> Seq(plain), "traced_pass" -> pass, "layers" -> layers,
      "trace" -> (tracer.export(0) ++
        Map("per_query" -> perQuery)))
  }

  /** Every registered query with the module that defines it (the class
    * its function was compiled in), in registry order. */
  def list(): Map[String, Any] = Map("queries" -> graft.SparkEntry.registry.map { q =>
    Map("name" -> q.name,
      "module" -> q.fn.getClass.getName.stripPrefix("graft.queries.").takeWhile(_ != '$'))
  })

  /** Fingerprint and time every listed query once: the recorded
    * expectations and the per-query cost table. */
  def record(spark: SparkSession, opt: Map[String, String]): Map[String, Any] = {
    val dir = opt("sf-dir")
    val qs = lookup(opt)
    val checks = checkPass(spark, dir, qs)
    val pass = timedPass(spark, dir, qs, None)
    Map("checks" -> checks, "passes" -> Seq(pass))
  }
}
