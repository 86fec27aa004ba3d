package graft.vera

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.OneToOneDependency
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.operators.PlanStats

import java.time.Instant
import java.util.concurrent.atomic.AtomicReference

/** Size-rotated, row-range-named Parquet export sink + manifest — the
  * reference's core job (`fetch_and_write`, main.py:178-263) re-expressed
  * for a distributed engine.
  *
  * The reference rotates a single sequential writer every
  * `chunk_size × num_chunks_per_file` rows and names each file by its
  * nominal row range (`{table}_{i*rpf}_{(i+1)*rpf}[_{codec}].parquet`,
  * main.py:94-98,222). Reproducing those DETERMINISTIC range names on Spark
  * needs a stable global row index: file `f` holds rows
  * `[f·rowsPerFile, (f+1)·rowsPerFile)` of the order key's ascending order.
  * [[exportTable]] gets it one of two ways.
  *
  * Sliced (a bare [[PgWire.scan]], or one under [[Normalize]]'s column-keeping
  * projections, ordered on one string, binary, int or long column): the
  * driver plans [[PgWire.slices]] under one exported snapshot, so `n` and
  * every slice's row range are known before any job runs, and every slice
  * lies inside one file. ONE job writes slice i, `sortWithinPartitions`
  * on the key (a local sort, no exchange), to part i; the driver moves a
  * one-slice file's part into its bucket directory and stitches a
  * several-slice file's parts in slice order (`ParquetFileWriter.
  * appendFile`, row groups copied without a re-encode). Jobs: 1, none for
  * an empty table; no persist, no count job, no shuffle. Deterministic:
  * the slices are row ranges of one snapshot in the key's total order, a
  * retried task re-imports that snapshot and streams the same rows (its
  * row count is checked against the plan), and the local sort orders them
  * within the slice. A slice start on a NULL or repeated key would make
  * the ranges inexact, so such a table takes the persisted path.
  *
  * Persisted (every other frame): [[exportTable]] persists the normalized
  * source (`MEMORY_AND_DISK`) and counts it: that count job is the ONE
  * read of the source, and every later job reads the persisted rows. The
  * count `n` fixes the file count `F = ceil(n / rowsPerFile)`:
  *
  *  - `F == 0`: nothing is written. Jobs: the count.
  *  - `F == 1`: the whole table is one file, so a global index would compute
  *    nothing. `coalesce(1)` + `sortWithinPartitions` writes it straight into
  *    the bucket-0 staging directory. Jobs: the count, the write. That one
  *    task holds at most `rowsPerFile` rows, the bound every file's writer
  *    task has anyway: a small-input fallback, not a data-scale single
  *    partition.
  *  - `F >= 2`: jobs: the count, then
  *    1. range-bound sampling: `repartitionByRange` on the caller's stable
  *       key samples the persisted rows for its partition bounds;
  *    2. the range shuffle plus `sortWithinPartitions`, then RDD
  *       `zipWithIndex` over that one sorted lineage ([[withGlobalIndex]]):
  *       its count job returns one row count PER PARTITION to the driver
  *       (bounded like AQE stats, never per-row), and the global index is
  *       the partition's start offset plus the row's position in it — no
  *       single-partition window;
  *    3. the bucket shuffle plus the write: bucket = gidx / rowsPerFile;
  *       hash-repartition on bucket co-locates each file's rows in one
  *       task → `partitionBy("__bucket")` emits exactly one parquet file per
  *       bucket.
  *
  * With adaptive execution each shuffle adds a job for its map stage, so a
  * one-file table runs 2 jobs and a many-file table 6: the count, the
  * sampling, the range shuffle's map stage, `zipWithIndex`'s count, the
  * bucket shuffle's map stage, the write.
  *
  * Either way the files land in `__bucket=<f>/` staging directories and
  * one driver rename pass applies the reference's names. The last short
  * file keeps the nominal full-range name, exactly like the reference
  * (main.py:222,252-254), and holds `n - (F-1) * rowsPerFile` rows. On
  * distinct keys the two ways write the same files with the same rows.
  *
  * At 100 TB the persisted path is one read of the source, the persisted
  * copy (memory, spilling to local disk), two shuffles of the exported
  * table (range + bucket) and O(#partitions + #files) driver state; the
  * sliced path is one read and a driver copy of each multi-slice file's
  * bytes. Neither collects a data row. [[exportAll]] exports its tables
  * side by side.
  *
  * Manifest (`write_manifest`, main.py:103-113): same shape
  * (`timestamp` epoch-ms, `dateStr`, `files: {table: [objectKey]}`), with one
  * documented divergence: the reference stamps LOCAL time with a hard-coded
  * "Z" suffix (main.py:105) — we emit true UTC.
  *
  * Object-store sink (S6, `upload_to_s3` main.py:155-176): `outDir` is a
  * Hadoop FileSystem URI, so `s3a://bucket/prefix` IS the S3 sink — the
  * write, rename pass, and manifest all go through `FileSystem.get(uri)`;
  * no local staging file survives (the reference's upload-then-delete,
  * main.py:169-170, collapses into writing to the destination directly).
  * The `objectName` field reproduces the reference's `{table}/{file}` key
  * shape (main.py:237).
  */
object Export {

  final case class ExportedFile(
      table: String,
      fileNo: Long,
      fileName: String,
      objectName: String, // "{table}/{fileName}" — the S3 key shape (main.py:237)
      rows: Long,
      nominalLo: Long,
      nominalHi: Long,
  )

  final case class Manifest(
      timestamp: Long,
      dateStr: String,
      files: Seq[(String, Seq[String])], // insertion-ordered: table → object keys
      // delta-chain high-water mark (epoch MICROS of the largest exported
      // `updated_at`); present only on incremental-run manifests
      watermarkMicros: Option[Long] = None,
      // tombstone object keys (table → key-frame parquet dir), so a
      // manifest-driven consumer/mirror learns deletes exist; present only
      // on incremental runs that carried deletes
      tombstones: Seq[(String, String)] = Nil,
  )

  /** Reference file naming (`get_output_file`, main.py:94-98). */
  def fileName(table: String, fileNo: Long, rowsPerFile: Long,
               compression: Option[String]): String = {
    val base = s"${table}_${fileNo * rowsPerFile}_${(fileNo + 1) * rowsPerFile}"
    compression match {
      case Some(c) => s"${base}_$c.parquet"
      case None    => s"$base.parquet"
    }
  }

  /** Add a 0-based deterministic global row index `__gidx` ordered by
    * `orderBy`, without ever sorting through a single partition.
    *
    * Implementation note: this is the one place the engine drops to the RDD
    * layer. `zipWithIndex` is the canonical deterministic global index: the
    * sorted RDD lineage is created ONCE, so its range-partitioner bounds are
    * computed once and shared by zipWithIndex's internal count job and the
    * downstream write (a pure-DataFrame two-action version is subtly
    * nondeterministic — the range exchange re-samples with a seed derived
    * from the fresh `rdd.id` on every action, so two actions can see
    * different partition boundaries). The sort's shuffle files are reused
    * by the count job and the write.
    *
    * Jobs: range-bound sampling, the range shuffle's map stage, and
    * zipWithIndex's count job (the map stage and the count may share a
    * job). [[exportTable]] passes a persisted frame, so the sampling job and
    * the map stage read the SAME materialized rows: the bounds are drawn
    * from exactly the rows that get partitioned, and neither re-reads the
    * source.
    *
    * The sliced path needs no index: its plan fixes each slice's row range
    * in one snapshot before any job runs, and a retried slice streams the
    * same rows, count-checked (the object doc).
    */
  private[vera] def withGlobalIndex(
      df: DataFrame, orderBy: Seq[String], numPartitions: Int): DataFrame = {
    val spark = df.sparkSession
    val keys = orderBy.map(col)
    val sorted = df
      .repartitionByRange(numPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
    val schema = sorted.schema
    val zipped = sorted.rdd
      .zipWithIndex()
      .map { case (r, i) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }
    spark.createDataFrame(zipped,
      org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField(
          "__gidx", org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** Normalize + export one table (S4/S5/S7 write-side): size-rotated files
    * with row-range names under `outDir/`. Returns the per-file inventory in
    * file order (the manifest rows). A [[PgWire.scan]] frame ordered on one
    * column is exported in slices under one snapshot; any other frame is
    * read once (the count that fixes the file count). The jobs per path are
    * in the object doc.
    *
    * @param orderBy stable total-order key (the reference's "order" is the
    *                Postgres cursor order; a distributed engine must name one
    *                explicitly — primary key columns).
    * @param numPartitions the export's parallelism: the slices of a sliced
    *                scan (default: the context's default parallelism), the
    *                range partitions of the global index otherwise (default:
    *                the session's shuffle partitions).
    */
  def exportTable(
      df: DataFrame,
      cfg: TableConfig,
      orderBy: Seq[String],
      outDir: String,
      numPartitions: Int = 0,
  ): Seq[ExportedFile] = {
    val spark = df.sparkSession
    val staging = s"$outDir/.staging_${cfg.name}"
    val fs = FileSystem.get(new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val sliced = orderBy match {
      case Seq(key) =>
        pgSource(df, cfg).flatMap(PgWire.slices(spark, _, cfg.schema, key,
          cfg.rowsPerFile,
          if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism))
      case _ => None
    }
    sliced match {
      case Some(plan) =>
        try writeSlices(plan, cfg, orderBy.head, fs, staging, outDir)
        finally plan.close()
      case None =>
        val nParts =
          if (numPartitions > 0) numPartitions
          else spark.sessionState.conf.numShufflePartitions
        writeSorted(df, cfg, orderBy, nParts, fs, staging, outDir)
    }
  }

  /** The [[PgWire.scan]] `df` reads, when `df` is that scan under
    * projections that keep each column by name at its declared type (the
    * shape of [[Normalize]]: a column, or a same-type cast of it under its
    * own name) and its columns are `cfg`'s. */
  private def pgSource(df: DataFrame, cfg: TableConfig): Option[PgWire.Source] = {
    def keeps(e: NamedExpression): Boolean = e match {
      case _: AttributeReference => true
      case Alias(c: Cast, name) => c.child match {
        case a: AttributeReference => a.name == name && a.dataType == c.dataType
        case _ => false
      }
      case _ => false
    }
    def scanOf(p: LogicalPlan): Option[PgWire.Source] = p match {
      case Project(list, child) if list.forall(keeps) => scanOf(child)
      // the scan's frame is its SliceRDD behind the row converter
      case r: LogicalRDD => r.rdd.dependencies match {
        case Seq(d: OneToOneDependency[_]) => d.rdd match {
          case s: PgWire.SliceRDD => Some(s.source)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
    val columns = (s: StructType) => s.fields.toSeq.map(f => (f.name, f.dataType))
    if (columns(df.schema) != columns(cfg.schema)) None
    else scanOf(df.queryExecution.analyzed)
  }

  /** The sliced path: one job writes slice i, sorted on `key`, to part i;
    * then each file's parts go to its bucket directory, moved when the
    * file is one slice and stitched in slice order when it is several. */
  private def writeSlices(plan: PgWire.Slices, cfg: TableConfig, key: String,
      fs: FileSystem, staging: String, outDir: String): Seq[ExportedFile] = {
    val rpf = cfg.rowsPerFile
    val n = plan.rows.sum
    val nFiles = (n + rpf - 1) / rpf
    if (nFiles == 0) {
      fs.mkdirs(new Path(outDir))
      return Seq.empty
    }
    // a stale staging tree from a crashed run must not add buckets
    fs.delete(new Path(staging), true)
    val slicesDir = new Path(s"$staging/__slices")
    Normalize(plan.frame, cfg).sortWithinPartitions(col(key))
      .write.mode("overwrite")
      .option("compression", cfg.compression.getOrElse("none"))
      .parquet(slicesDir.toString)
    // part-<partition>-<job>...parquet: one per slice, empty slices being
    // impossible (every slice's row count was checked against its plan)
    val parts = fs.listStatus(slicesDir)
      .filter(f => f.getPath.getName.startsWith("part-") && f.getPath.getName.endsWith(".parquet"))
      .map(f => f.getPath.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt -> f)
      .toSeq.sortBy(_._1)
    require(parts.map(_._1) == plan.rows.indices,
      s"${cfg.name}: expected parts 0..${plan.rows.length - 1}, " +
        s"listed {${parts.map(_._1).mkString(",")}} (object-store listing inconsistency?)")
    val starts = plan.rows.scanLeft(0L)(_ + _)
    val conf = fs.getConf
    parts.groupBy { case (i, _) => starts(i) / rpf }.foreach { case (fileNo, inFile) =>
      val bucketDir = new Path(s"$staging/__bucket=$fileNo")
      fs.mkdirs(bucketDir)
      inFile.sortBy(_._1).map(_._2) match {
        case Seq(one) =>
          val dest = new Path(bucketDir, one.getPath.getName)
          require(fs.rename(one.getPath, dest),
            s"${cfg.name}: rename ${one.getPath} -> $dest failed")
        case several => stitch(several, new Path(bucketDir, "part-stitched.parquet"), conf)
      }
    }
    renameStaged(fs, staging, outDir, cfg, nFiles, n)
  }

  /** `parts` concatenated into `dest` row group by row group, bytes copied
    * without a re-encode; the footer keeps the first part's key-value
    * metadata, Spark's row metadata among it. */
  private def stitch(parts: Seq[FileStatus], dest: Path, conf: Configuration): Unit = {
    val (schema, meta) = PlanStats.readFooter(parts.head, conf)(r =>
      (r.getFileMetaData.getSchema, r.getFileMetaData.getKeyValueMetaData))
    val w = new ParquetFileWriter(HadoopOutputFile.fromPath(dest, conf), schema,
      ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE, 0)
    try {
      w.start()
      parts.foreach(p => w.appendFile(HadoopInputFile.fromStatus(p, conf)))
      w.end(meta)
    } finally w.close()
  }

  /** The persisted path: read the source once into the cache, count it,
    * and write one file straight from the cache or index it globally. */
  private def writeSorted(df: DataFrame, cfg: TableConfig, orderBy: Seq[String],
      nParts: Int, fs: FileSystem, staging: String, outDir: String): Seq[ExportedFile] = {
    val rpf = cfg.rowsPerFile
    val normalized = Normalize(df, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // The count is the only read of the source, and the result of an
      // action is exact under task retries and speculation (an
      // accumulator or observe() in a transformation is not), so the file
      // count and the tail rows below need no plausibility bound. Counting
      // the physical rows fills the cache in one job; `normalized.count()`
      // plans an aggregate over the cached relation, which adaptive
      // execution runs as three (cache build, map stage, final aggregate).
      val n = normalized.queryExecution.toRdd.count()
      val nFiles = (n + rpf - 1) / rpf
      val codec = cfg.compression.getOrElse("none")
      if (nFiles == 0) {
        // nothing to write; the directory still exists for readers of it
        fs.mkdirs(new Path(outDir))
        Seq.empty
      } else {
        if (nFiles == 1) {
          // a stale staging tree from a crashed run must not add buckets
          fs.delete(new Path(staging), true)
          normalized.coalesce(1).sortWithinPartitions(orderBy.map(col): _*)
            .write.mode("overwrite")
            .option("compression", codec)
            .parquet(s"$staging/__bucket=0")
        } else {
          withGlobalIndex(normalized, orderBy, nParts)
            .withColumn("__bucket", (col("__gidx") / rpf).cast("long"))
            .drop("__gidx")
            .repartition(col("__bucket")) // all rows of a bucket → one task → one file
            .sortWithinPartitions(("__bucket" +: orderBy).map(col): _*)
            .write.mode("overwrite")
            .option("compression", codec)
            .partitionBy("__bucket")
            .parquet(staging)
        }
        renameStaged(fs, staging, outDir, cfg, nFiles, n)
      }
    } finally normalized.unpersist()
  }

  /** Driver rename pass: `.staging/__bucket=N/part-*.parquet` →
    * `outDir/{table}_{lo}_{hi}[_{codec}].parquet` (O(#files) driver work),
    * then the staging tree goes. `nFiles` and `n` come from the DATA, not
    * from the listing: an object store's eventually-consistent LISTING can
    * come up short, and a listing that hides the TAIL bucket would pass a
    * contiguity-only check and silently export one file too few.
    */
  private def renameStaged(fs: FileSystem, staging: String, outDir: String,
      cfg: TableConfig, nFiles: Long, n: Long): Seq[ExportedFile] = {
    val rpf = cfg.rowsPerFile
    val bucketNos = fs.listStatus(new Path(staging)).map(_.getPath.getName)
      .filter(_.startsWith("__bucket="))
      .map(_.stripPrefix("__bucket=").toLong)
      .sorted
    require(bucketNos.length == nFiles &&
        bucketNos.zipWithIndex.forall { case (b, i) => b == i },
      s"${cfg.name}: expected buckets 0..${nFiles - 1}, " +
        s"listed {${bucketNos.mkString(",")}} — short or non-contiguous " +
        "staging listing (object-store listing inconsistency?)")
    val renamed = bucketNos.map { fileNo =>
      val bucketDir = new Path(s"$staging/__bucket=$fileNo")
      val parts = fs.listStatus(bucketDir).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      require(parts.length == 1,
        s"bucket $fileNo of ${cfg.name}: expected exactly 1 file, got ${parts.length}")
      val name = fileName(cfg.name, fileNo, rpf, cfg.compression)
      val dest = new Path(s"$outDir/$name")
      fs.delete(dest, false)
      // rename failure is a BOOLEAN on HDFS/S3A, not an exception — unchecked
      // it would leave a manifest entry pointing at a missing file
      require(fs.rename(parts.head, dest),
        s"${cfg.name}: rename ${parts.head} -> $dest failed")
      fileNo -> name
    }
    fs.delete(new Path(staging), true)
    // every file but the tail holds rpf rows by construction
    val lastRows = n - (nFiles - 1) * rpf
    renamed.map { case (fileNo, name) =>
      val rows = if (fileNo == nFiles - 1) lastRows else rpf
      ExportedFile(cfg.name, fileNo, name, s"${cfg.name}/$name", rows,
        fileNo * rpf, (fileNo + 1) * rpf)
    }.toSeq
  }

  /** O1 table-loop driver (main.py:278-280): export every table, then write
    * the manifest. The tables are exported CONCURRENTLY, one driver thread
    * per table (each export is internally parallel too), so a table whose
    * source is one serial stream no longer leaves the other cores idle.
    * The threads are created inside this call, so they inherit the
    * caller's Spark local properties (job group, scheduler pool, tags).
    *
    * Failure and commit rule: each table's jobs carry their own job tag; the
    * first table to fail cancels the other tables' running jobs, every
    * thread is waited for, and that first failure is rethrown — with no
    * manifest written. The manifest is written last, only after every
    * table succeeded, and lists the tables in input order.
    */
  def exportAll(
      tables: Seq[(DataFrame, TableConfig, Seq[String])],
      outDir: String,
      nowMillis: Long = System.currentTimeMillis(),
      watermarkMicros: Option[Long] = None,
      tombstoneKeys: Seq[(String, String)] = Nil,
      preCommit: () => Unit = () => (),
  ): Manifest = {
    val names = tableNames(tables, outDir)
    val spark = tables.head._1.sparkSession
    val sc = spark.sparkContext
    val runTag = s"graft-export-${java.util.UUID.randomUUID}"
    val tags = names.indices.map(i => s"$runTag-$i")
    val keys = new Array[Seq[String]](tables.length)
    val failure = new AtomicReference[Throwable]()
    val threads = tables.zipWithIndex.map { case ((df, cfg, orderBy), i) =>
      val t = new Thread(() => {
        sc.addJobTag(tags(i))
        try keys(i) = exportTable(df, cfg, orderBy, outDir).map(_.objectName)
        catch {
          case e: Throwable =>
            if (failure.compareAndSet(null, e))
              tags.filter(_ != tags(i)).foreach(
                sc.cancelJobsWithTag(_, s"export of ${cfg.name} failed"))
        }
      }, s"graft-export-${cfg.name}")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    val manifest = Manifest(nowMillis, Instant.ofEpochMilli(nowMillis).toString,
      names.zip(keys), watermarkMicros, tombstoneKeys)
    // commit gate: all data is on disk, the manifest is not — chain writers
    // acquire their generation claim here ([[claimGeneration]]) so a lost
    // race aborts with the run still invisible (manifest = commit marker)
    preCommit()
    writeManifest(manifest, outDir, spark)
    manifest
  }

  /** The names of a run's `tables`, which must be non-empty and distinct:
    * two exports of one name would race on one staging directory. */
  private def tableNames(
      tables: Seq[(DataFrame, TableConfig, Seq[String])], outDir: String): Seq[String] = {
    require(tables.nonEmpty, s"no tables to export to $outDir")
    val names = tables.map(_._2.name)
    val repeated = names.diff(names.distinct).distinct
    require(repeated.isEmpty,
      s"table names must be distinct, repeated: ${repeated.mkString(", ")}")
    names
  }

  /** A chain writer lost the per-generation commit race ([[claimGeneration]]):
    * another run already claimed the right to advance the chain past the
    * generation this writer read. The loser's run directory is deleted by
    * its caller before this propagates — abort is CLEAN (manifest-less,
    * invisible to [[readSnapshot]]/[[latestWatermark]]). Retry by re-reading
    * the chain (the next attempt sees the winner's run and claims the new
    * generation). */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  private def claimFile(outDir: String, gen: Long): Path =
    new Path(s"$outDir/_commits/claim_$gen")

  /** Optimistic single-writer-per-generation commit claim for the delta
    * chain: `gen` is the newest committed run id the writer READ (0 for an
    * empty chain); exactly one writer may create `_commits/claim_<gen>`,
    * and only that writer may publish a manifest for a run derived from
    * that chain state. The claim is `create(overwrite = false)` — atomic
    * on HDFS-like stores; on real S3 this maps to a conditional PUT
    * (`If-None-Match: *`), the primitive object stores expose for exactly
    * this pattern. Claim content is the winner's run id, which makes a
    * writer's own retry idempotent (same runId re-claims its own token).
    *
    * Why per-GENERATION, not a global lock: sequential writers never
    * contend (each new run advances the tip, so the next writer claims a
    * fresh token), and the claim needs no lease/expiry to stay correct —
    * a claim whose holder crashed before its manifest can only block that
    * one generation, never corrupt it (the crashed run stays invisible).
    * Un-wedging that case is an OPERATOR decision ([[forceReleaseClaim]]),
    * the same stale-lock trade every storage-only commit protocol makes.
    */
  private[graft] def claimGeneration(
      outDir: String, gen: Long, runId: Long, spark: SparkSession): Unit = {
    val fs = FileSystem.get(new java.net.URI(outDir),
      spark.sparkContext.hadoopConfiguration)
    val p = claimFile(outDir, gen)
    fs.mkdirs(p.getParent)
    // claim payload is "<runId>\n": the trailing newline is the
    // COMPLETENESS terminator — a torn write of this writer's own claim
    // (create succeeded, write/close died mid-flush) leaves a digit
    // PREFIX without the terminator, which must not be mistaken for a
    // complete foreign claim (a phantom conflict the caller would retry
    // against forever)
    try {
      val out = fs.create(p, false)
      try out.write((runId.toString + "\n").getBytes("UTF-8"))
      finally out.close()
    } catch {
      case e: java.io.IOException =>
        // Classify carefully: ONLY a pre-existing COMPLETE claim is a
        // conflict. An IOException with no claim file on disk is a plain
        // write failure (disk full, transient store error) and must
        // propagate as such.
        if (!fs.exists(p)) throw e
        val existing =
          try {
            val in = fs.open(p)
            try new String(
              org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
            finally in.close()
          } catch { case _: java.io.IOException => "" }
        val complete = existing.endsWith("\n")
        val holder = existing.trim
        if (complete && holder == runId.toString) {
          // this writer's own earlier complete claim (crash/replay)
        } else if (complete && holder.nonEmpty && holder.forall(_.isDigit)) {
          throw new CommitConflictException(
            s"chain generation $gen already claimed by run $holder " +
              s"(this writer: run $runId) — re-read the chain and retry")
        } else {
          // no terminator (or garbage): a torn write, most likely this
          // writer's own. Surface the original failure — the wedged token
          // is the documented forceReleaseClaim case, not a commit race.
          throw e
        }
    }
  }

  /** Export `tables` as run `nowMillis` of the chain under `outDir`, with
    * the claim on generation `gen` ([[claimGeneration]]) as the commit
    * gate. A lost claim race aborts clean: the manifest-less run directory
    * is deleted, so the loser leaves nothing behind (not even a
    * crashed-looking directory), and the [[CommitConflictException]]
    * propagates. */
  private def commitRun(tables: Seq[(DataFrame, TableConfig, Seq[String])],
      outDir: String, gen: Long, nowMillis: Long, watermarkMicros: Option[Long],
      tombstoneKeys: Seq[(String, String)], spark: SparkSession): Manifest = {
    val runDir = s"$outDir/run_$nowMillis"
    try exportAll(tables, runDir, nowMillis, watermarkMicros, tombstoneKeys,
      () => claimGeneration(outDir, gen, nowMillis, spark))
    catch {
      case e: CommitConflictException =>
        FileSystem.get(new java.net.URI(outDir),
            spark.sparkContext.hadoopConfiguration)
          .delete(new Path(runDir), true)
        throw e
    }
  }

  /** Operator-invoked stale-claim removal: releases `gen`'s commit token
    * after a writer died between claim and manifest. Refuses if the
    * claimed run COMMITTED (its manifest exists) — that claim is load-
    * bearing history, and the next writer contends on a newer generation
    * anyway. */
  def forceReleaseClaim(outDir: String, gen: Long, spark: SparkSession): Unit = {
    val fs = FileSystem.get(new java.net.URI(outDir),
      spark.sparkContext.hadoopConfiguration)
    val p = claimFile(outDir, gen)
    if (!fs.exists(p)) return
    val in = fs.open(p)
    val holder =
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
      finally in.close()
    require(!fs.exists(new Path(s"$outDir/run_$holder/manifest.json")),
      s"claim_$gen belongs to COMMITTED run $holder; refusing to release")
    fs.delete(p, false)
    ()
  }

  /** Recover the delta chain's high-water mark from the sink itself: the
    * `watermarkMicros` of the newest committed run's manifest under
    * `outDir` ([[committedRuns]]' order). No side state — a new
    * orchestrator host resumes the chain from what the object store
    * already says was exported.
    */
  def latestWatermark(outDir: String, spark: SparkSession): Option[Long] =
    committedRuns(outDir, spark).lastOption.flatMap { ts =>
      val fs = FileSystem.get(new java.net.URI(outDir),
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(s"$outDir/run_$ts/manifest.json"))
      val txt =
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
      """"watermarkMicros":\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
    }

  /** Committed (= manifest-bearing) `run_*` timestamps under `outDir`, sorted
    * ascending: the chain's one run order. Every writer names its run
    * `run_<nowMillis>` and stamps the same `nowMillis` into its manifest,
    * so this is also the manifests' `timestamp` order. A run directory
    * without `manifest.json` is a crashed or in-flight export and is
    * invisible to every consumer-side reader.
    */
  private[graft] def committedRuns(outDir: String, spark: SparkSession): Seq[Long] = {
    val fs = FileSystem.get(new java.net.URI(outDir),
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(outDir))) Seq.empty
    else fs.listStatus(new Path(outDir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("run_"))
      .filter(s => fs.exists(new Path(s.getPath, "manifest.json")))
      .map(s => s.getPath.getName.stripPrefix("run_").toLong).sorted.toSeq
  }

  /** Incremental (delta) export — the capability a 100 TB deployment needs
    * that the reference lacks (main.py:266-282 re-exports every table in
    * full on every run): each run exports ONLY rows whose `updated_at`
    * (the audit column every VerA table carries, config.py:11-12) is
    * strictly after the previous run's high-water mark, into its own
    * `run_<ts>/` directory with its own manifest — a base + delta chain
    * the consumer replays in timestamp order.
    *
    * Scale mechanics:
    *  - the watermark comes from [[latestWatermark]] (the sink is the only
    *    state); the first run has no mark and exports everything;
    *  - `updated_at > hwm` is a plain comparison filter — parquet
    *    row-group stats or a JDBC pushed WHERE prune the unchanged mass at
    *    the source, so a delta run costs O(changed rows), not O(table);
    *  - the new mark is max(exported `updated_at`) in MICROS (not the run
    *    wall clock — DB time and orchestrator clocks need not agree), so a
    *    row versioned between scan and manifest lands in the next delta:
    *    at-least-once per version, never lost;
    *  - an empty delta writes an empty-file-list manifest and carries the
    *    mark forward unchanged;
    *  - source-side DELETES ride `deletes`: per-table key frames written as
    *    tombstone files under `run_<ts>/_tombstones/` (a parquet file, not
    *    a manifest JSON field — delete sets can be millions of keys, and
    *    an underscore-prefixed dir is invisible to plain Spark/Hive
    *    listings of the run). [[readSnapshot]] replays them: a tombstone
    *    deletes every version of its key from runs ≤ its own (including
    *    same-run data — delete-after-update within one extract), and a
    *    LATER run re-inserting the key resurrects it. Without `deletes`
    *    the chain is upsert-only, exactly the reference's blind spot
    *    (main.py re-exports full tables, so a vanished row simply persists
    *    in old exports); CDC sources that emit delete events feed them
    *    here.
    */
  def exportIncremental(
      tables: Seq[(DataFrame, TableConfig, Seq[String])],
      outDir: String,
      nowMillis: Long = System.currentTimeMillis(),
      deletes: Map[String, DataFrame] = Map.empty,
  ): Manifest = {
    // before any max(updated_at) job or tombstone write
    tableNames(tables, outDir)
    val spark = tables.head._1.sparkSession
    // chain state this run derives from — both the watermark and the
    // generation token are read HERE; the commit claim later verifies no
    // other writer advanced the chain off this same state (lost-update
    // guard: a concurrent compact would otherwise shadow this delta, or
    // this delta could vanish under a concurrent compact's cleanup)
    val gen = committedRuns(outDir, spark).lastOption.getOrElse(0L)
    val hwm = latestWatermark(outDir, spark)
    val hwmLdt = hwm.map(us => java.time.LocalDateTime.ofEpochSecond(
      math.floorDiv(us, 1000000L), (math.floorMod(us, 1000000L) * 1000).toInt,
      java.time.ZoneOffset.UTC))
    val ntz = org.apache.spark.sql.types.TimestampNTZType
    val deltas = tables.map { case (df, cfg, ob) =>
      // the literal is typed to MATCH the source column — a cast wrapped
      // around the column would block predicate pushdown, and the pushed
      // WHERE is the whole point on a JDBC source (parquet row-group
      // pruning on NTZ sources likewise). For tz-carrying sources the
      // wall-clock literal is the same instant because the JVM/session
      // zone is pinned UTC (build.sbt).
      // field lookup is case-INsensitive like the analyzer's resolver —
      // JDBC catalogs (Derby, Postgres fold direction aside) often report
      // upper/lower-cased column names
      val updatedAtType = df.schema.fields
        .find(_.name.equalsIgnoreCase("updated_at"))
        .getOrElse(throw new IllegalArgumentException(
          s"${cfg.name}: incremental export needs an updated_at column"))
        .dataType
      val filtered = hwmLdt.fold(df) { w =>
        updatedAtType match {
          case `ntz` => df.filter(col("updated_at") > lit(w))
          case _ =>
            df.filter(col("updated_at") > lit(java.sql.Timestamp.valueOf(w)))
        }
      }
      (filtered, cfg, ob)
    }
    val maxes = deltas.flatMap { case (df, _, _) =>
      // the cast here is on the AGGREGATE side, after the scan — harmless
      val r = df.agg(max(col("updated_at").cast(ntz))).head
      if (r.isNullAt(0)) None
      else {
        val m = r.getAs[java.time.LocalDateTime](0)
        Some(m.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          m.getNano / 1000L)
      }
    }
    val newWm = (maxes ++ hwm).reduceOption(_ max _)
    val runDir = s"$outDir/run_$nowMillis"
    // Tombstones are written FIRST so the manifest stays the run's LAST
    // artifact: a crash anywhere before the manifest leaves a run with no
    // manifest, which [[latestWatermark]] and [[readSnapshot]] both ignore
    // (the manifest is the commit marker) — deletes are never silently
    // dropped from a run that looks complete. The manifest also LISTS the
    // tombstone keys so a manifest-driven mirror replicates them.
    val tombKeys = deletes.toSeq.sortBy(_._1).map { case (table, keys) =>
      keys.coalesce(1).write.mode("overwrite")
        .parquet(s"$runDir/_tombstones/$table.parquet")
      table -> s"_tombstones/$table.parquet"
    }
    commitRun(deltas, outDir, gen, nowMillis, newWm, tombKeys, spark)
  }

  /** Consumer side of the delta chain: materialize the CURRENT snapshot of
    * one table from a base + delta export tree — union every run's files
    * for the table (newest runs carry re-versioned rows) plus every run's
    * tombstone keys, and keep the latest version per key, where "latest"
    * is the run timestamp embedded in the directory name (a row exported
    * by run 2000 supersedes the same key from run 1000; a tombstone in run
    * 2000 beats run-2000 data for the same key — delete-after-update — and
    * loses to a run-3000 re-insert). If the winning version is a tombstone
    * the key is gone from the snapshot. One window shuffle on the key —
    * the standard log-structured replay; see [[compact]] for the job that
    * periodically folds deltas into a new base.
    * Delta-less layouts (no run with this table's files) yield an empty
    * frame of the declared schema rather than failing.
    *
    * Only runs whose `manifest.json` exists are replayed: the manifest is
    * the run's LAST artifact (data and tombstones are written before it),
    * so it is the COMMIT MARKER — a crashed half-written run is invisible
    * to consumers exactly as it is to [[latestWatermark]].
    */
  def readSnapshot(
      outDir: String,
      cfg: TableConfig,
      keyCols: Seq[String],
      spark: SparkSession,
      asOfRun: Option[Long] = None,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fs = FileSystem.get(new java.net.URI(outDir),
      spark.sparkContext.hadoopConfiguration)
    // TIME TRAVEL: `asOfRun` replays only runs committed up to (and
    // including) that run id — the snapshot a consumer saw right after
    // that run's manifest landed, tombstones and resurrections included.
    // History reaches back exactly as far as the oldest RETAINED run:
    // compaction deliberately collapses everything it folds into one new
    // base, so an asOfRun older than the chain's first retained run reads
    // as empty (the fold has nothing to replay), not as an error —
    // retention policy belongs to the compaction cadence, not the reader.
    val runs = committedRuns(outDir, spark)
      .filter(ts => asOfRun.forall(ts <= _))
    val perRun = runs.flatMap { ts =>
      val dir = s"$outDir/run_$ts"
      val files = fs.listStatus(new Path(dir)).map(_.getPath)
        .filter(_.getName.startsWith(s"${cfg.name}_"))
        .map(_.toString)
      if (files.isEmpty) None
      else Some(spark.read.schema(cfg.schema).parquet(files: _*)
        .withColumn("__run", lit(ts))
        .withColumn("__del", lit(false)))
    }
    val tombstones = runs.flatMap { ts =>
      val p = new Path(s"$outDir/run_$ts/_tombstones/${cfg.name}.parquet")
      if (!fs.exists(p)) None
      else Some(spark.read.parquet(p.toString)
        .select(keyCols.map(col): _*)
        .withColumn("__run", lit(ts))
        .withColumn("__del", lit(true)))
    }
    if (perRun.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cfg.schema)
    // tombstone frames carry only the key columns; the data columns they
    // lack fill with null and never surface (deleted winners are filtered)
    val all = (perRun ++ tombstones)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__run").desc, col("__del").desc)
    all
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("__del"))
      .drop("__rn", "__run", "__del")
  }

  /** Delta-chain compaction [EXT]: rewrite base + N deltas + tombstones into
    * a single fresh base run, so consumer-side [[readSnapshot]] replay cost
    * stops growing with chain length. The reference has no such notion (it
    * re-exports full tables every run, main.py:266-282); this is the
    * operator a long-lived incremental chain needs.
    *
    * Semantics: `readSnapshot(compacted chain) ≡ readSnapshot(old chain)`
    * for every table, including tombstone-then-resurrect histories — the
    * snapshot IS the fold, so the new base simply materializes it. The
    * chain's watermark is carried into the new base's manifest unchanged,
    * so the next [[exportIncremental]] resumes exactly where it would have.
    *
    * Crash safety, in write order:
    *  1. the new base is written as `run_<nowMillis>` (nowMillis must beat
    *     every existing run — enforced) with its manifest LAST, like any
    *     run. A crash before that manifest leaves the old chain untouched
    *     and the half-run invisible (manifest = commit marker).
    *  2. old runs are deleted only after the new manifest exists. A crash
    *     mid-delete leaves old runs coexisting with the new base — still
    *     CORRECT for [[readSnapshot]]: the new base is the newest run, so
    *     its rows win every key it carries, and a key absent from the new
    *     base is absent precisely because an old tombstone beat it, which
    *     still wins over that key's old data rows. Re-running compact
    *     finishes the cleanup.
    *
    * At 100 TB: one [[readSnapshot]] window shuffle + the export's two
    * shuffles per table — the same cost as the original base export, run at
    * a cadence chosen by chain length (e.g. every N deltas).
    */
  def compact(
      outDir: String,
      tables: Seq[(TableConfig, Seq[String], Seq[String])], // (cfg, keyCols, orderBy)
      spark: SparkSession,
      nowMillis: Long = System.currentTimeMillis(),
  ): Manifest = {
    val old = committedRuns(outDir, spark)
    require(old.nonEmpty, s"compact: no committed runs under $outDir")
    require(nowMillis > old.last,
      s"compact: new base timestamp $nowMillis must exceed newest run ${old.last}")
    val wm = latestWatermark(outDir, spark)
    // Lazy frames: the run listing inside readSnapshot is resolved NOW
    // (driver-side), the data is read during the export write below, while
    // every old run still exists.
    val snapshots = tables.map { case (cfg, keyCols, orderBy) =>
      (readSnapshot(outDir, cfg, keyCols, spark), cfg, orderBy)
    }
    // commit claim on the chain tip this compaction FOLDED: if a delta (or
    // another compact) committed meanwhile — e.g. it was invisible to this
    // writer's eventually-consistent listing — the claim create loses and
    // the new base aborts manifest-less, so the concurrent run's rows are
    // never shadowed by a stale fold (ExportSpec's race cases)
    val manifest = commitRun(snapshots, outDir, old.last, nowMillis, wm, Nil, spark)
    // old runs go only AFTER the new base committed (crash mid-delete is
    // correct — see crash-safety note above); delete exactly the runs that
    // were folded, never a concurrent run this writer didn't see
    val fs = FileSystem.get(new java.net.URI(outDir),
      spark.sparkContext.hadoopConfiguration)
    old.foreach(ts => fs.delete(new Path(s"$outDir/run_$ts"), true))
    manifest
  }

  /** S7 manifest sink (`write_manifest`, main.py:103-113). */
  def writeManifest(m: Manifest, outDir: String, spark: SparkSession): Unit = {
    val files = m.files
      .map { case (t, keys) =>
        s"""${jsonString(t)}: [${keys.map(jsonString).mkString(", ")}]"""
      }
      .mkString("{", ", ", "}")
    val wm = m.watermarkMicros
      .map(w => s""", "watermarkMicros": $w""").getOrElse("")
    val tomb =
      if (m.tombstones.isEmpty) ""
      else m.tombstones
        .map { case (t, k) => s"${jsonString(t)}: ${jsonString(k)}" }
        .mkString(""", "tombstones": {""", ", ", "}")
    val json =
      s"""{"timestamp": ${m.timestamp}, "dateStr": ${jsonString(m.dateStr)}$wm$tomb, "files": $files}"""
    val fs = FileSystem.get(new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$outDir/manifest.json"), true)
    try out.write(json.getBytes("UTF-8"))
    finally out.close()
  }

  /** `s` as a quoted JSON string: quote and backslash escaped, and every
    * control char below 0x20 written as a 4-hex-digit unicode escape. One
    * escaper for `manifest.json` and Verify's `oracle_sql.json` — a raw
    * tab or CR in either would make a JSON reader reject the whole file. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  /** Env-driven export job (O2/O3, main.py:266-282): `DEBUG_TABLE` exports a
    * single table (main.py:270-276), `DEBUG` shrinks rotation 100× and stops
    * after one file (main.py:184-186,208-210), `DEBUG_OFFSET` skips leading
    * rows (S2, main.py:201-202). `source` maps a table config to its input
    * DataFrame (parquet fixture or [[Jdbc.scan]]). [EXT] `INCREMENTAL`
    * non-empty routes the job through [[exportIncremental]]'s delta chain
    * instead of the reference's full snapshot; [EXT] `COMPACT` non-empty
    * runs [[compact]] over the selected tables' existing chain INSTEAD of
    * exporting (the periodic maintenance job an orchestrator schedules
    * between delta runs; key columns = the same stable order key the
    * export names files by).
    */
  def runFromEnv(
      source: TableConfig => DataFrame,
      orderBy: TableConfig => Seq[String],
      outDir: String,
      env: Map[String, String] = sys.env,
  ): Manifest = {
    val offset = env.get("DEBUG_OFFSET").map { s =>
      s.toLongOption.filter(n => n >= 0 && n <= Int.MaxValue)
        .getOrElse(throw new IllegalArgumentException(
          s"DEBUG_OFFSET must be an integer in 0..${Int.MaxValue}, got '$s'"))
        .toInt
    }
    val selected = env.get("DEBUG_TABLE") match {
      case Some(t) => Seq(Schemas.byName(t))
      case None    => Schemas.tables
    }
    if (env.get("COMPACT").exists(_.nonEmpty)) {
      val spark = source(selected.head).sparkSession
      return compact(outDir,
        selected.map(cfg => (cfg, orderBy(cfg), orderBy(cfg))), spark)
    }
    val debug = env.get("DEBUG").exists(_.nonEmpty)
    val jobs = selected.map { cfg0 =>
      val cfg = if (debug) cfg0.copy(chunkSize = math.max(1, cfg0.chunkSize / 100)) else cfg0
      var df = source(cfg)
      offset.foreach { n => df = df.orderBy(orderBy(cfg).map(col): _*).offset(n) }
      if (debug) {
        // order BEFORE limiting: limit on an unordered frame takes
        // whichever rows get scanned first, so two debug runs could export
        // different subsets (the reference's cursor order is deterministic)
        if (offset.isEmpty) df = df.orderBy(orderBy(cfg).map(col): _*)
        df = df.limit(cfg.rowsPerFile.toInt) // stop after first file
      }
      (df, cfg, orderBy(cfg))
    }
    if (env.get("INCREMENTAL").exists(_.nonEmpty)) exportIncremental(jobs, outDir)
    else exportAll(jobs, outDir)
  }
}
