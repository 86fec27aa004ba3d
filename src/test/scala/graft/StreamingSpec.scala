package graft

import org.apache.spark.sql.functions._

/** The export's Structured Streaming bridge (`Export.exportStream`): each
  * micro-batch becomes one committed run of the delta chain, and a
  * restarted query continues the run sequence from its checkpoint.
  */
class StreamingSpec extends SparkSpec {

  test("foreachBatch drains a stream into the incremental export chain") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.vera.{Export, Schemas, TableConfig}
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val cfg = TableConfig("sexp",
      Schemas.fromDtypes(Seq("id" -> "Int64",
        "updated_at" -> "datetime64[ns]", "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val out = java.nio.file.Files
      .createTempDirectory("graft_stream_export").toString
    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Export.exportStream(
      src.toDF.toDF("id", "updated_at", "v"), cfg, Seq("id"), out)
    try {
      src.addData((1L, t("2024-01-01 00:00:00"), "a1"),
        (2L, t("2024-01-01 00:00:00"), "b1"))
      q.processAllAvailable()
      src.addData((1L, t("2024-01-02 00:00:00"), "a2"),
        (3L, t("2024-01-02 00:00:00"), "c1"))
      q.processAllAvailable()
      // each microbatch became a run with range-named files + manifest
      for (b <- Seq(0, 1))
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
          s"$out/run_$b/manifest.json")), s"missing manifest for batch $b")
      // the chain replays to the latest version per key — the same
      // readSnapshot the batch-mode delta chain uses
      val snap = Export.readSnapshot(out, cfg, Seq("id"), spark)
        .select(col("id"), col("v")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(snap === Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
    } finally q.stop()
  }

  test("export stream restarts from checkpoint without re-exporting batches") {
    // the recovery claim behind the bridge's batchId keying: a STOPPED
    // query restarted on the same checkpoint must pick up only unseen
    // input (file-source log) and continue the batchId sequence — no
    // duplicated runs, no re-exported rows. File source (replayable)
    // instead of MemoryStream (which dies with the query object).
    import graft.vera.{Export, Schemas, TableConfig}
    import spark.implicits._
    def t(s: String) = java.time.LocalDateTime.parse(s)
    val cfg = TableConfig("rst",
      Schemas.fromDtypes(Seq("id" -> "Int64",
        "updated_at" -> "datetime64[ns]", "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_stream_src").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft_stream_restart").toString
    Seq((1L, t("2024-01-01T00:00:00"), "a1"),
      (2L, t("2024-01-01T00:00:00"), "b1"))
      .toDF("id", "updated_at", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = Export.exportStream(
      spark.readStream.schema(cfg.schema).parquet(srcDir),
      cfg, Seq("id"), out)
    try { q1.processAllAvailable() } finally q1.stop()
    // new input lands while nothing is running
    Seq((1L, t("2024-01-02T00:00:00"), "a2"),
      (3L, t("2024-01-02T00:00:00"), "c1"))
      .toDF("id", "updated_at", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = Export.exportStream(
      spark.readStream.schema(cfg.schema).parquet(srcDir),
      cfg, Seq("id"), out)
    try { q2.processAllAvailable() } finally q2.stop()
    val runs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("run_"))
      .map(_.getName).sorted
    assert(runs.toSeq === Seq("run_0", "run_1"),
      s"restart must continue the batch sequence, got ${runs.toSeq}")
    // batch 0's rows were NOT re-exported by the restarted query
    assert(spark.read.schema(cfg.schema)
      .parquet(s"$out/run_1/rst_0_100.parquet").count() === 2)
    val snap = Export.readSnapshot(out, cfg, Seq("id"), spark)
      .select(col("id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap === Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
  }
}
