package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Zero-job row-count UPPER BOUNDS from the logical plan + parquet footers
  * (r18, the round-17 verdict's Next #3: "kill the dispatch-probe extra
  * pass — an upper bound suffices").
  *
  * The ordered-bin devices ([[graft.operators.OrderedBins]]) dispatch
  * SMALL vs LARGE on row count, and the dispatch is pure plan — either
  * path returns bit-identical rows — so a PROVABLE upper bound below the
  * threshold lets the window path run with NO probe job at all. The bound
  * must never under-count (a false "small" would serialize a 100 TB frame
  * into one window task — the exact failure the devices exist to prevent),
  * so the walk only crosses operators that provably do not increase
  * cardinality and bottoms out at sources whose size is KNOWN:
  *
  *   - parquet scans: the footer row counts — exact physical row totals
  *     read driver-side from file metadata (the ANALYZE-shaped move; the
  *     same numbers `spark.read.parquet(...).count()` would return,
  *     without a job). Capped at [[MaxFooterFiles]] files so the driver
  *     never walks an unbounded listing — past the cap the frame is big
  *     enough that the probe is the right tool anyway.
  *   - LocalRelation / Range / OneRowRelation: exact.
  *   - Filter / Project / Sort / Window / Aggregate / Distinct /
  *     Deduplicate / repartition / Sample / limits / SubqueryAlias: row
  *     count ≤ child's (Aggregate emits at most one row per input row).
  *   - Union: sum of children. Expand: children × projection count.
  *   - Join / Generate / LogicalRDD / everything else: None — unknown
  *     means "run the probe", never "guess".
  *
  * Compressed `sizeInBytes` is deliberately NOT used: bytes per row has no
  * sound lower bound under RLE (a 10M-row column can compress below 2 MB),
  * and this walk exists precisely because the dispatch must not gamble.
  *
  * This object is the engine's one parquet footer reader: [[parquetSplits]]
  * (Fan's scan-split bound) reads its file sizes off the same listing and
  * opens a footer only where the row-group count can change the answer,
  * and the export's stitch ([[graft.vera.Export]]) opens its parts here.
  */
object PlanStats {

  private val MaxFooterFiles = 64

  /** The relation's parquet files off its already-listed FileIndex (no
    * I/O), or None when it is not parquet or lists more than
    * [[MaxFooterFiles]] files. */
  private def parquetFiles(rel: HadoopFsRelation): Option[Seq[FileStatus]] =
    if (!rel.fileFormat.getClass.getSimpleName.contains("Parquet")) None
    else {
      val files = rel.location.listFiles(Nil, Nil).flatMap(_.files)
        .map(_.fileStatus)
      if (files.length > MaxFooterFiles) None else Some(files)
    }

  private[graft] def readFooter[T](f: FileStatus, conf: Configuration)(
      read: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try read(r) finally r.close()
  }

  /** Upper bound on the non-empty scan splits of a parquet relation, per
    * file min(ceil(bytes / maxPartitionBytes), max(row groups, 1)): a
    * single-row-group file can never scan as more than one non-empty task
    * no matter how it is sliced. Only a file larger than
    * maxPartitionBytes has a size term above 1, so only such a file's
    * footer is opened. */
  private[graft] def parquetSplits(rel: HadoopFsRelation): Option[Long] = {
    val maxPB = rel.sparkSession.sessionState.conf.filesMaxPartitionBytes
    lazy val conf = rel.sparkSession.sessionState.newHadoopConf()
    parquetFiles(rel).map(_.map { f =>
      val bySize = (f.getLen + maxPB - 1) / maxPB
      if (f.getLen <= maxPB) bySize
      else math.min(bySize,
        math.max(readFooter(f, conf)(_.getRowGroups.size.toLong), 1L))
    }.sum)
  }

  def rowUpperBound(df: DataFrame): Option[Long] = {
    lazy val conf = df.sparkSession.sessionState.newHadoopConf()

    def parquetRows(rel: HadoopFsRelation): Option[Long] =
      parquetFiles(rel).map(
        _.map(f => readFooter(f, conf)(_.getRecordCount)).sum)

    def walk(p: LogicalPlan): Option[Long] = p match {
      case l: LocalRelation => Some(l.data.size.toLong)
      case r: Range =>
        r.numElements match {
          case n if n.isValidLong => Some(n.toLong)
          case _ => None
        }
      case _: OneRowRelation => Some(1L)
      case l: LogicalRelation =>
        l.relation match {
          case fs: HadoopFsRelation => parquetRows(fs)
          case _ => None
        }
      case f: Filter => walk(f.child)
      case pr: Project => walk(pr.child)
      case s: Sort => walk(s.child)
      case w: Window => walk(w.child)
      case a: Aggregate =>
        // A GLOBAL aggregate (no grouping keys) over an empty child still
        // emits exactly one row — walk(child)=0 would under-count and break
        // the never-under-count contract (r18 ADVICE).
        walk(a.child).map { n =>
          if (a.groupingExpressions.isEmpty) math.max(n, 1L) else n
        }
      case d: Distinct => walk(d.child)
      case d: Deduplicate => walk(d.child)
      // Sample WITH replacement is a Poisson sampler: it can emit MORE rows
      // than its child (and fraction may exceed 1), so the child bound is
      // not an upper bound there (r18 ADVICE). Without replacement the
      // Bernoulli sampler emits a subset — child bound is sound.
      case s: Sample if !s.withReplacement => walk(s.child)
      case r: RepartitionOperation => walk(r.child)
      case a: SubqueryAlias => walk(a.child)
      case g: GlobalLimit => boundedLimit(g.limitExpr, g.child)
      case l: LocalLimit => boundedLimit(l.limitExpr, l.child)
      case u: Union =>
        u.children.foldLeft(Option(0L)) { (acc, c) =>
          for (a <- acc; b <- walk(c)) yield a + b
        }
      case e: Expand =>
        walk(e.child).map { n =>
          val k = e.projections.size.toLong
          if (k > 0 && n > Long.MaxValue / k) Long.MaxValue else n * k
        }
      case _ => None // joins, generators, RDD-backed frames: probe instead
    }

    def boundedLimit(limitExpr: org.apache.spark.sql.catalyst.expressions.Expression,
        child: LogicalPlan): Option[Long] = {
      val lim = limitExpr match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
          Some(v.toLong)
        case _ => None
      }
      (lim, walk(child)) match {
        case (Some(a), Some(b)) => Some(math.min(a, b))
        case (Some(a), None) => Some(a)
        case (None, b) => b
      }
    }

    try walk(df.queryExecution.optimizedPlan)
    catch { case scala.util.control.NonFatal(_) => None }
  }
}
