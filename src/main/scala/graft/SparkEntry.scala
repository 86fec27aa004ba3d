package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Full operator registry (SURVEY.md §2 coverage). */
  def registry: Seq[Q] =
    Relational.all ++ Analytic.all ++ Functions.all ++ Pipeline.all ++
      Dedup.all ++ Similarity.all ++ TextAnalysis.all ++ Curation.all ++
      Gaps.all ++ StreamingQ.all ++ MultimodalQ.all ++ ScaleOps.all ++
      GraphOps.all ++ Stats.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** The queries a `SPARK_GRAFT_QUERIES` value selects for Bench and
    * Verify: comma-separated names, empty tokens ignored; unset selects
    * every query. An unregistered name throws, naming every unknown one —
    * a typo must fail, not silently select nothing. */
  def selected(env: Option[String])
      : Map[String, (SparkSession, String) => DataFrame] = env match {
    case None => queries
    case Some(v) =>
      val all = queries
      val names = v.split(',').map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(all.contains).toSeq.sorted
      if (unknown.nonEmpty)
        throw new IllegalArgumentException("SPARK_GRAFT_QUERIES: unknown " +
          s"queries ${unknown.mkString(", ")}")
      all.view.filterKeys(names).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
