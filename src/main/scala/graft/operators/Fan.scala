package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scale-adaptive SCAN FAN-OUT (r21; guide §2.6 "idle capacity", §6 "input
  * split size").
  *
  * The driver's test corpora are single small parquet files — one row group
  * each — so every scan is ONE split, and Spark fuses everything up to the
  * first exchange into that scan stage. A query whose first stage does
  * per-row-heavy work (md5 per shingle, 64-way resample explodes, regex
  * tokenization, near-unique partial aggregation) therefore runs that work
  * on ONE core regardless of `local[32]` — measured: q164_bootstrap_ci took
  * the same 4.4 s at 8 and at 32 cores. Everything downstream of any
  * exchange is already `spark.sql.shuffle.partitions`-parallel, so the fix
  * is one cheap round-robin exchange of the BASE rows before the heavy
  * stage.
  *
  * [[fan]] inserts that exchange ONLY when the frame's source provably
  * yields fewer scan splits than the session wants (zero-job dispatch off
  * the file listing and, for files above maxPartitionBytes, parquet
  * footers — the PlanStats discipline):
  *
  *  - every leaf must be a parquet HadoopFsRelation with ≤ 64 files; the
  *    walk crosses only row-preserving one-input operators (no joins — a
  *    join input is post-exchange and already parallel);
  *  - split estimate per file ([[PlanStats.parquetSplits]]):
  *    min(ceil(bytes / maxPartitionBytes), row-group count) — a
  *    single-row-group file can never scan as more than one non-empty
  *    task no matter how it is sliced;
  *  - fan only when the estimate is below HALF the session's default
  *    parallelism — at 100 TB scans carry thousands of row groups, the
  *    estimate clears the bar (or the file count exceeds the cap) and the
  *    frame passes through UNTOUCHED: no corpus-wide reshuffle sneaks into
  *    production-scale plans.
  *
  * This is the engine's ONLY scan fan-out device: loaders never repartition,
  * so a builder that wants parallel per-row work wraps its scan in [[fan]]
  * (e.g. `fan(Tables.documents(s, d))`). On the single-row-group corpora
  * that is exactly `repartition(defaultParallelism)` whenever the session
  * has ≥ 2 cores. The walk stops at any exchange, so fanning an already
  * fanned (or otherwise repartitioned) frame is a pass-through.
  *
  * Round-robin repartition keeps determinism (Spark's sort-before-
  * repartition stays on, SPARK-23207), and every query in the registry is
  * already partition-order-invariant by the exactness discipline (int64 /
  * ratio6 / DECIMAL accumulation), which the per-round DuckDB sweep
  * re-proves.
  */
object Fan {

  def fan(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    splitsUpperBound(df) match {
      case Some(s) if s * 2 <= par => df.repartition(par)
      case _ => df
    }
  }

  /** Upper bound on non-empty scan tasks of `df`'s plan, or None when the
    * plan is not a simple chain over parquet scans (joins, RDD-backed
    * frames, generators — all post-exchange shapes that are already
    * parallel or unknowable without a job).
    */
  private[graft] def splitsUpperBound(df: DataFrame): Option[Long] = {
    def walk(p: LogicalPlan): Option[Long] = p match {
      case l: LogicalRelation =>
        l.relation match {
          case fs: HadoopFsRelation => PlanStats.parquetSplits(fs)
          case _ => None
        }
      case f: Filter => walk(f.child)
      case pr: Project => walk(pr.child)
      case a: SubqueryAlias => walk(a.child)
      case _ => None
    }

    try walk(df.queryExecution.optimizedPlan)
    catch { case scala.util.control.NonFatal(_) => None }
  }
}
