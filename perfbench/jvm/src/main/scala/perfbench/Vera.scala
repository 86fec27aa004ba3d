package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.vera.{Export, Normalize, PgWire, Schemas, TableConfig}
import Main.secondsOf

/** The `vera` workload: VerA tables in a Postgres cluster, exported
  * through `PgWire.scan` → `Export.exportAll` (which normalizes, indexes,
  * writes size-rotated Parquet and the manifest).
  *
  * `--tables name:key:order,...` lists the tables; `key` is the integer
  * column the scan is range-partitioned on (`-` for one serial COPY
  * stream) and `order` the export's stable order key. */
object Vera {
  private val host = "127.0.0.1"
  private val db = "postgres"
  private val user = "graft"
  private val schema = "vera"
  /** The same tables with a tenth of the rows, for the warmup
    * (`vera_data.WARM_SCHEMA`). */
  private val warmSchema = "vera_warm"
  /** Most of an export is per-job code, which the small tables exercise as
    * well as the large ones, so the warmup exports them this many times
    * first (see perfbench/README.md). A count, not a time: on a slow host a
    * timed warmup does less and leaves the JIT further behind. */
  private val warmSmallCalls = 3

  final case class Table(cfg: TableConfig, key: Option[String], order: Seq[String])

  def run(spark: SparkSession, opt: Map[String, String]): Map[String, Any] = {
    val port = opt("port").toInt
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work-dir"))
    val tables = opt("tables").split(',').toSeq.map { spec =>
      val Array(name, key, order) = spec.split(':')
      Table(Schemas.byName(name), Option(key).filter(_ != "-"), order.split('+').toSeq)
    }

    def boundsIn(s: String)(t: Table): Option[(Long, Long)] = t.key.map(k =>
      PgWire.bounds(host, port, db, user, s, t.cfg.name, k))
    def scanIn(s: String)(t: Table, b: Option[(Long, Long)]): DataFrame = b match {
      case Some((lo, hi)) => PgWire.scan(spark, host, port, db, user, s,
        t.cfg, t.key, lo, hi + 1, cores)
      case None => PgWire.scan(spark, host, port, db, user, s, t.cfg)
    }
    // One unit of work: the bounds queries, the scans and exportAll.
    def exportFrom(s: String)(dir: Path): Double = secondsOf(Export.exportAll(
      tables.map(t => (scanIn(s)(t, boundsIn(s)(t)), t.cfg, t.order)), dir.toString))._2
    val (bounds, scan, exportTo) = (boundsIn(schema) _, scanIn(schema) _, exportFrom(schema) _)

    var n = 0
    def nextDir(): Path = { n += 1; work.resolve(s"export_$n") }
    def untimed(s: String): Double = { val d = nextDir(); val w = exportFrom(s)(d); deleteTree(d); w }
    // Untimed warmup: `warmSmallCalls` exports of the small copy of the
    // tables, then one of the tables themselves.
    val (warmCalls, warmup) = secondsOf(
      Seq.fill(warmSmallCalls)(untimed(warmSchema)) :+ untimed(schema))
    val base = Map[String, Any]("warmup_s" -> warmup, "warm_calls_s" -> warmCalls)

    if (opt("trace") == "1") base ++ traced(spark, tables, bounds, scan, exportTo, nextDir)
    else {
      // Each timed call writes a fresh directory; the last one stays for
      // the output checks.
      val seconds = opt("seconds").toDouble
      val walls = Seq.newBuilder[Double]
      var last: Path = null
      val t0 = System.nanoTime()
      var calls = 0
      do {
        if (last != null) deleteTree(last)
        last = nextDir()
        walls += exportTo(last)
        calls += 1
      } while (calls < 3 || (System.nanoTime() - t0) / 1e9 < seconds)
      base ++ Map("export_s" -> walls.result(), "out_dir" -> last.toString)
    }
  }

  private def traced(spark: SparkSession, tables: Seq[Table],
      bounds: Table => Option[(Long, Long)],
      scan: (Table, Option[(Long, Long)]) => DataFrame,
      exportTo: Path => Double, nextDir: () => Path): Map[String, Any] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val plainDir = nextDir()
    val plain = exportTo(plainDir)
    deleteTree(plainDir)

    val tracer = new Tracer(spark)
    val outDir = nextDir()
    var exportSpan: Span = null
    val manifest = tracer.span("vera", "workload") {
      val srcs = tables.map { t =>
        tracer.span(t.cfg.name, "table") {
          val b = tracer.span("bounds", "pgwire.bounds")(bounds(t))
          tracer.span("fetch", "pgwire.fetch")(noop(scan(t, b)))
          tracer.span("normalize", "normalize")(noop(Normalize(scan(t, b), t.cfg)))
          (scan(t, b), t.cfg, t.order)
        }
      }
      val m = tracer.span("exportAll", "export.exportAll")(
        Export.exportAll(srcs, outDir.toString))
      exportSpan = tracer.spans.find(_.layer == "export.exportAll").get
      val manifestDir = nextDir()
      Files.createDirectories(manifestDir)
      tracer.span("writeManifest", "export.manifest")(
        Export.writeManifest(m, manifestDir.toString, spark))
      m
    }
    tracer.finish()

    val spans = tracer.spans.toSeq
    def layer(l: String) = spans.filter(_.layer == l)
    val jobs = tracer.jobList
    val stages = tracer.stageList
    def jobsIn(ss: Seq[Span]) = { val ids = ss.map(_.id).toSet; jobs.filter(j => ids(j.span)) }
    def stagesOf(js: Seq[JobRec]) = {
      val ids = js.flatMap(_.stageIds).toSet
      stages.filter(s => ids(s.id))
    }
    def jobSeconds(js: Seq[JobRec]) = js.map(j => (j.end - j.start) / 1e6).sum
    // Export's jobs, split by the call site Spark names them after.
    val exportJobs = jobsIn(Seq(exportSpan))
    val writeJobs = exportJobs.filter(_.name.startsWith("parquet at"))
    val indexJobs = exportJobs.filter(j =>
      !j.name.startsWith("parquet at") && j.name.contains("Export.scala"))
    // the last job of each write is the one whose tasks write the files
    val writerJobs = writeJobs.groupBy(_.execution).values.map(_.maxBy(_.id)).toSeq
    // Driver time inside exportAll: its wall time not covered by any job.
    val covered = {
      val iv = exportJobs.map(j => (j.start, j.end)).sortBy(_._1)
      var total = 0L
      var (s0, e0) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (s, e) =>
        if (s > e0) { if (e0 > s0) total += e0 - s0; s0 = s; e0 = e }
        else e0 = math.max(e0, e)
      }
      if (e0 > s0) total += e0 - s0
      total / 1e6
    }
    val fetch = layer("pgwire.fetch")
    val fetchS = fetch.map(_.seconds).sum
    val fetchTasks = stagesOf(jobsIn(fetch)).map(_.tasks).sum
    val mb = 1024.0 * 1024.0
    val files = manifest.files.map(_._2.size).sum
    val layers = Map[String, Double](
      "pgwire.bounds_s" -> layer("pgwire.bounds").map(_.seconds).sum,
      "pgwire.fetch_s" -> fetchS,
      "pgwire.connections" -> (fetchTasks + tables.count(_.key.isDefined)).toDouble,
      "normalize.s" -> math.max(0.0, layer("normalize").map(_.seconds).sum - fetchS),
      "export.index_s" -> jobSeconds(indexJobs),
      "export.shuffle_write_mb" -> stagesOf(exportJobs).map(_.shuffleWrite).sum / mb,
      "export.jobs" -> exportJobs.size.toDouble,
      "export.write_s" -> jobSeconds(writeJobs),
      "export.write_tasks" -> writerJobs.flatMap(j =>
        stages.find(_.id == j.stageIds.max)).map(_.tasks).sum.toDouble,
      "export.driver_s" -> (exportSpan.seconds - covered),
      "export.files" -> files.toDouble,
      "export.manifest_s" -> layer("export.manifest").map(_.seconds).sum,
      // the untraced unit of work is the bounds queries plus exportAll
      "trace.overhead_frac" -> ((layer("pgwire.bounds").map(_.seconds).sum +
        exportSpan.seconds) / math.max(plain, 1e-9) - 1),
    )
    Map("layers" -> layers, "out_dir" -> outDir.toString,
      "export_s" -> Seq(plain), "traced_export_s" -> exportSpan.seconds,
      "trace" -> (tracer.export(0) ++ Map(
        "job_names" -> exportJobs.map(_.name))))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
