package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` starts it once per run:
  *
  *   Main --mode vera|registry|record --out result.json --seconds S
  *        --trace 0|1 --cores N [mode options]
  *
  * It times the program's public calls from outside and writes one JSON
  * object to `--out`; the Python side turns that into metrics and checks
  * the outputs.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, s"expected --key value pairs: ${args.mkString(" ")}")
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = opt("cores").toInt
    val spark = graft.Engine.session(cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val startup = jvmUptime()
    val result =
      try opt("mode") match {
        case "vera" => Vera.run(spark, opt)
        case "registry" => Registry.run(spark, opt)
        case "record" => Registry.record(spark, opt)
        case "list" => Registry.list()
        case other => throw new IllegalArgumentException(s"unknown mode $other")
      } finally spark.stop()
    val json = Json.render(result ++ Map(
      "startup_s" -> startup, "peak_rss_mb" -> peakRssMb()))
    Files.writeString(Paths.get(opt("out")), json + "\n")
  }

  def jvmUptime(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** VmHWM: the most resident memory this process has held. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Just enough JSON for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
        quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
