package graft

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import java.net.URI

/** A `file`-backed Hadoop FileSystem registered under the `flaky://` scheme
  * whose `rename` RETURNS FALSE (no exception — the HDFS/S3A contract) for
  * any destination named like a final export file (`{table}_{lo}_{hi}*.
  * parquet`). This reproduces the object-store failure mode the offline
  * container can't: a non-atomic S3A rename that silently fails after the
  * staging write succeeded. Spark's own committer renames (`part-*` files,
  * `_temporary` dirs, `__bucket=N` dirs) don't match and pass through, so
  * the export reaches the driver rename pass and must abort there.
  * [[FlakyRenameFileSystem.onlyTable]] narrows the failure to one table's
  * files, so a multi-table export can fail in one table only.
  */
class FlakyRenameFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("flaky:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (FlakyRenameFileSystem.exportName.matcher(dst.getName).matches() &&
        Option(FlakyRenameFileSystem.onlyTable.get).forall(t =>
          dst.getName.startsWith(t + "_"))) false
    else super.rename(src, dst)
}

object FlakyRenameFileSystem {
  /** When set, only renames to this table's export files fail. */
  val onlyTable = new java.util.concurrent.atomic.AtomicReference[String]()

  private val exportName =
    java.util.regex.Pattern.compile(""".+_\d+_\d+(_[a-z0-9]+)?\.parquet""")
}
