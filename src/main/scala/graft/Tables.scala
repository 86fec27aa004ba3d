package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver test tables (`TESTDATA.md`).
  *
  * All tables are plain parquet scans — Catalyst pushes filters/projections
  * into the scan, so callers should never cache or materialize here. The one
  * normalization: `events.ts` is canonicalized to session-zoned µs
  * TimestampType whatever its physical layout (ns-as-long, NTZ micros, or
  * already-zoned) — see [[normalizeTs]] — so downstream operators and the
  * DuckDB oracle see identical values across testdata generations.
  *
  * Loaders never repartition: a builder whose first stage is CPU-dense
  * per-row work (shingling, per-gram digests, tokenization) wraps its scan
  * in [[graft.operators.Fan.fan]], which adds a round-robin exchange only
  * when the file listing shows too few splits to occupy the cores.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String)   = table(s, d, "region")
  def nation(s: SparkSession, d: String)   = table(s, d, "nation")
  def customer(s: SparkSession, d: String) = table(s, d, "customer")
  def supplier(s: SparkSession, d: String) = table(s, d, "supplier")
  def part(s: SparkSession, d: String)     = table(s, d, "part")
  def orders(s: SparkSession, d: String)   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String) = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String)  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = table(s, d, "embeddings")

  /** Normalize an events-shaped frame so `ts` is always session-zoned
    * TimestampType (µs), whatever the physical parquet layout was:
    *
    *  - `LongType`: TIMESTAMP(NANOS) read under the `nanosAsLong` legacy
    *    knob (every session builder sets it). ns→µs uses floor division
    *    (`(ts - pmod(ts,1000)) div 1000` floors even for pre-epoch
    *    negatives), matching DuckDB's ns→µs read.
    *  - `TimestampNTZType`: plain TIMESTAMP(MICROS, isAdjustedToUTC=false),
    *    which Spark 4 infers as NTZ. The session zone is pinned to UTC, so
    *    the cast to TimestampType preserves every wall-clock value and
    *    keeps downstream window/watermark operators on the type they
    *    already expect.
    *  - `TimestampType`: already canonical.
    *
    * Dispatching on the OBSERVED scan dtype (not a hardcoded layout) is
    * what lets the same query registry run against either generation of
    * the driver testdata and against suite-synthesized fixtures.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type ${other.simpleString}; expected " +
          "long (ns), timestamp_ntz, or timestamp")
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    try normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
    catch {
      // re-establish the actionable guidance the old fail-fast require
      // carried: on a FOREIGN session (not built by Engine/Verify/Bench)
      // an ns-layout file dies at schema inference with a cryptic
      // "Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))"
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("TIMESTAMP(NANOS") =>
        throw new IllegalArgumentException(
          "events.parquet stores TIMESTAMP(NANOS); build the session with " +
            "spark.sql.legacy.parquet.nanosAsLong=true (Engine.session does)",
          e)
    }
}
