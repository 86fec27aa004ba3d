package graft
import java.nio.file.{Files, Paths}
import graft.vera.Export.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev loop: SPARK_GRAFT_QUERIES=q114_...,q115_... dumps just those
    // (the Bench filter contract); unset = every registered query
    val selected = SparkEntry.selected(sys.env.get("SPARK_GRAFT_QUERIES"))
    val spark = Engine.session(
      Engine.positiveEnvInt("SPARK_GRAFT_CPUS", 4), "graft-verify")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // drop any previous dump: in a REUSED outDir (the local dev loop)
        // a stale result would silently stand in for the failed query and
        // the compare would grade the wrong code
        val dir = Paths.get(s"$outDir/$name")
        if (Files.exists(dir)) {
          Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
        }
      }
    }
    // oracles of the dumped queries only: an oracle without a dump would
    // grade as "no spark output"
    val json = SparkEntry.oracleSql.view.filterKeys(selected.contains)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
