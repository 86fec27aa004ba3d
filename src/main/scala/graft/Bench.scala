package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * emits one JSON line (stdout + ./bench_last.json so the result survives
  * sbt log noise).
  *
  * Methodology:
  *  - each query is forced through a `noop`-format write, NOT `count()` —
  *    count() lets Catalyst prune every unused column expression, so pure
  *    projection queries would be mostly unmeasured; the noop sink evaluates
  *    every output column and discards the rows (no disk, no collect).
  *  - one full UNTIMED warmup pass first: single-shot timings on local[N]
  *    are dominated by JIT/codegen/session warmup (the first query used to
  *    absorb ~10 s of it); the timed pass then measures steady state.
  *  - a query that throws is reported in "failed": [...] and its slot in
  *    "queries" is -1, never a normal-looking tiny time.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Engine.positiveEnvInt("SPARK_GRAFT_CPUS", 4)
    // optional comma-separated name filter for isolating hotspots
    val queries = SparkEntry.selected(sys.env.get("SPARK_GRAFT_QUERIES"))
      .toSeq.sortBy(_._1)
    // When a run must fit a short time budget, these knobs cut the sweep
    // count WITHOUT changing the default methodology (warmup + 2 timed
    // passes, min per query — unchanged since r17, so numbers stay
    // comparable when the knobs are not set). Both are read before the
    // session starts, so a bad value fails at once, naming the variable.
    val passes = Engine.positiveEnvInt("SPARK_GRAFT_BENCH_PASSES", 2)
    val doWarmup = sys.env.get("SPARK_GRAFT_BENCH_WARMUP") match {
      case None | Some("1") => true
      case Some("0") => false
      case Some(v) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_WARMUP must be 1 or 0, got '$v'")
    }
    val spark = Engine.session(cpus, "graft-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
      }

    // warmup (untimed): JIT, codegen caches, parquet footer caches
    if (doWarmup) queries.foreach { case (name, fn) => runOne(name, fn) }

    // Timed passes (default 2), min per query: single-shot numbers swing
    // wildly (q01 measured 1.2s ↔ 15.5s run-to-run) depending on where G1
    // mixed cycles happen to land — min-of-N reports the steady-state cost
    // a pause didn't land on. Explicit System.gc() barriers were tried and
    // are WORSE: a full GC tears down JIT state for the Janino-generated
    // codegen classes, and codegen-heavy queries then rerun cold (q32
    // measured 5s → 48s with a gc() before each query).
    def timedPass() = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = runOne(name, fn)
      val sec = (System.nanoTime() - t0) / 1e9
      (name, if (ok) sec else -1.0, ok)
    }
    val allPasses = (1 to passes).map(_ => timedPass())
    val results = allPasses.transpose.map { perQuery =>
      val name = perQuery.head._1
      val ok = perQuery.forall(_._3)
      (name, if (ok) perQuery.map(_._2).min else -1.0, ok)
    }
    val failed = results.collect { case (n, _, false) => n }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, true) => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(json)
    // bench_last.json is the CANONICAL artifact (README "Verification"):
    // written straight to disk so no sbt [info] prefix or log-tail
    // truncation can corrupt it; carries everything the stdout lines do
    // plus the run geometry
    Files.writeString(Paths.get("bench_last.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"cpus":"$cpus","sf":"$sfDir","queries":$qs,"failed":$failedJson}""" + "\n")
    spark.stop()
    // The harness that snapshots this output keeps only the LAST ~2000
    // characters of stdout; the full per-query line above is ~3.5k chars,
    // so its head — metric/value — has been truncated away every round and
    // the snapshot's JSON parse failed (BENCH_r*.json all carry
    // "parsed": null). Emit a SECOND, compact line as the ABSOLUTE LAST
    // output of the program (after spark.stop(), so no Spark shutdown
    // line can trail it; build.sbt additionally unwraps forked stdout
    // from sbt's [info] logger and suppresses the trailing [success]
    // line): same schema, "queries" restricted to the 20 slowest (the
    // only ones a perf reader acts on), small enough (<1 kB) that the
    // whole object always survives the tail window. Full detail still
    // lives in bench_last.json and the big line.
    val slowest = results.filter(_._3).sortBy(-_._2).take(20)
      .map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":$slowest,"failed":$failedJson,"sf":"$sfDir"}""")
    System.out.flush()
  }
}
