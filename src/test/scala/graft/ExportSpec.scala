package graft

import graft.vera._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Chunking/rotation invariants of the export sink (SURVEY.md §5 property
  * list): Σ file rows = table rows, every file ≤ rows_per_file, ranges
  * contiguous and in key order, tail file short but nominally named; plus
  * the closed dtype vocabulary and normalize semantics.
  */
class ExportSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft_export_spec").toString

  test("rotation invariants hold for a non-dense shuffled key") {
    val n = 5432
    val rpf = 1000L
    // bijective scramble: input arrives in neither key nor index order
    val df = spark.range(n).select(
      expr("id ^ 10922").as("k"), // bitwise XOR: bijective key scramble
      concat(lit("v"), col("id")).as("payload"))
    val cfg = TableConfig("scrambled",
      StructType(Seq(
        StructField("k", LongType), StructField("payload", StringType))),
      chunkSize = 100, numChunksPerFile = 10, compression = None)
    val out = tmpDir()
    val files = Export.exportTable(df, cfg, Seq("k"), out)

    assert(files.length === math.ceil(n.toDouble / rpf).toInt)
    assert(files.map(_.rows).sum === n)
    assert(files.forall(_.rows <= rpf))
    // tail file short, but nominally named with the full range (main.py:222)
    assert(files.last.rows === n % rpf)
    assert(files.last.fileName === s"scrambled_${5 * rpf}_${6 * rpf}.parquet")
    // contiguity: concatenating files in fileNo order yields the global sort
    val keysInFileOrder = files.flatMap { f =>
      spark.read.parquet(s"$out/${f.fileName}")
        .orderBy(col("k")).select(col("k")).collect().map(_.getLong(0))
    }
    assert(keysInFileOrder === keysInFileOrder.sorted)
    assert(keysInFileOrder.distinct.length === n)
  }

  test("rotation invariants hold across randomized sizes (property loop)") {
    // SURVEY §5's property list as a seeded loop (house style, see
    // ExactSpec): for arbitrary (rows, chunkSize, chunksPerFile) — tails,
    // exact multiples, single-file tables — Σ file rows = n, every file
    // ≤ rpf, non-tail files exactly rpf, names are the contiguous nominal
    // ranges with the short tail keeping the full-range name
    val rng = new scala.util.Random(1234)
    for (round <- 1 to 5) {
      val n = 1 + rng.nextInt(4000)
      val chunk = 1 + rng.nextInt(60)
      val ncpf = 1 + rng.nextInt(5)
      val rpf = chunk.toLong * ncpf
      val df = spark.range(n)
        .select(expr(s"id ^ ${rng.nextInt(1 << 20)}").as("k"))
      val cfg = TableConfig(s"prop$round",
        StructType(Seq(StructField("k", LongType))),
        chunkSize = chunk, numChunksPerFile = ncpf, compression = None)
      val files = Export.exportTable(df, cfg, Seq("k"), tmpDir())
      val label = s"round $round: n=$n rpf=$rpf"
      assert(files.map(_.rows).sum === n, label)
      assert(files.length === math.ceil(n.toDouble / rpf).toInt, label)
      assert(files.dropRight(1).forall(_.rows === rpf), label)
      assert(files.last.rows === (if (n % rpf == 0) rpf else n % rpf), label)
      files.zipWithIndex.foreach { case (f, i) =>
        assert(f.fileName === s"prop${round}_${i * rpf}_${(i + 1) * rpf}.parquet",
          label)
      }
    }
  }

  test("export is deterministic: two runs produce identical file contents") {
    val df = spark.range(3333).select(col("id").as("k"), md5(col("id").cast("string")).as("v"))
    val cfg = TableConfig("det",
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      chunkSize = 50, numChunksPerFile = 10, compression = None)
    val (o1, o2) = (tmpDir(), tmpDir())
    Export.exportTable(df, cfg, Seq("k"), o1)
    Export.exportTable(df, cfg, Seq("k"), o2)
    val a = spark.read.parquet(s"$o1/det_1000_1500.parquet").orderBy(col("k")).collect()
    val b = spark.read.parquet(s"$o2/det_1000_1500.parquet").orderBy(col("k")).collect()
    assert(a.sameElements(b))
  }

  test("manifest lists every file in file order under the table key") {
    val df = spark.range(250).select(col("id").as("k"))
    val cfg = TableConfig("m",
      StructType(Seq(StructField("k", LongType))),
      chunkSize = 10, numChunksPerFile = 10)
    val out = tmpDir()
    val manifest = Export.exportAll(Seq((df, cfg, Seq("k"))), out, nowMillis = 1234L)
    assert(manifest.timestamp === 1234L)
    assert(manifest.files.map(_._1) === Seq("m"))
    assert(manifest.files.head._2 === Seq(
      "m/m_0_100_zstd.parquet", "m/m_100_200_zstd.parquet", "m/m_200_300_zstd.parquet"))
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/manifest.json")), "UTF-8")
    assert(json.contains("\"timestamp\": 1234"))
    assert(json.contains("\"m/m_200_300_zstd.parquet\""))
    // every manifest entry points at a file that actually exists (a failed
    // rename aborts the export instead of corrupting the inventory)
    for ((_, keys) <- manifest.files; k <- keys)
      assert(Files.exists(java.nio.file.Paths.get(
        s"$out/${k.stripPrefix("m/")}")), s"manifest lists missing file $k")
    // a name with a quote, backslash, CR, TAB and U+0001 survives the
    // escaper: a JSON reader gets the same string back
    val odd = "a\"b\\c\rd\te" + '\u0001'
    val oddOut = tmpDir()
    Export.writeManifest(manifest.copy(files = Seq(odd -> Seq(odd))),
      oddOut, spark)
    val files = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readAllBytes(java.nio.file.Paths.get(s"$oddOut/manifest.json")))
      .get("files")
    assert(files.size === 1)
    assert(Option(files.get(odd)).map(_.get(0).asText) === Some(odd))
  }

  private def keyCfg(name: String, rpf: Int,
      compression: Option[String] = None): TableConfig =
    TableConfig(name, StructType(Seq(StructField("k", LongType))),
      chunkSize = rpf, numChunksPerFile = 1, compression = compression)

  /** Files under `dir` (names, hidden checksum files included) and bytes. */
  private def filesIn(dir: String): Map[String, Seq[Byte]] = {
    val s = Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("boundaries: empty input, n == rowsPerFile and n == rowsPerFile + 1") {
    // pins behavior the one-file and count-first paths must keep
    val rpf = 100
    val empty = tmpDir()
    val m = Export.exportAll(
      Seq((spark.range(0).select(col("id").as("k")), keyCfg("e", rpf), Seq("k"))),
      empty)
    assert(m.files === Seq("e" -> Nil))
    assert(filesIn(empty).keySet.filter(!_.contains("manifest.json")).isEmpty)
    assert(!Files.list(java.nio.file.Paths.get(empty)).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".staging_")))

    val full = Export.exportTable(spark.range(rpf).select(col("id").as("k")),
      keyCfg("f", rpf), Seq("k"), tmpDir())
    assert(full.map(f => (f.fileName, f.rows)) === Seq(("f_0_100.parquet", 100L)))

    val over = Export.exportTable(spark.range(rpf + 1).select(col("id").as("k")),
      keyCfg("o", rpf), Seq("k"), tmpDir())
    assert(over.map(f => (f.fileName, f.rows)) ===
      Seq(("o_0_100.parquet", 100L), ("o_100_200.parquet", 1L)))
  }

  test("rows inside each file are in orderBy order, one-file and multi-file") {
    // pins behavior: read each file UNSORTED (one small file is one split,
    // read in file order)
    for ((n, rpf) <- Seq((80, 100), (350, 100))) {
      val df = spark.range(n).select(expr("id ^ 77").as("k")).repartition(3)
      val out = tmpDir()
      val files = Export.exportTable(df, keyCfg("ord", rpf), Seq("k"), out)
      assert(files.length === (n + rpf - 1) / rpf)
      files.foreach { f =>
        val ks = spark.read.parquet(s"$out/${f.fileName}").collect().map(_.getLong(0))
        assert(ks.length === f.rows)
        assert(ks.toSeq === ks.sorted.toSeq, s"n=$n ${f.fileName} is not in key order")
      }
    }
  }

  test("the source is computed once per partition, for one-file and three-file tables") {
    for (n <- Seq(60, 250)) {
      val computes = spark.sparkContext.longAccumulator(s"computes_$n")
      val rows = spark.sparkContext.parallelize(0 until n, 4).mapPartitions { it =>
        computes.add(1)
        it.map(i => org.apache.spark.sql.Row((i * 7919L) % 10007))
      }
      val df = spark.createDataFrame(rows,
        StructType(Seq(StructField("k", LongType))))
      val files = Export.exportTable(df, keyCfg("once", 100), Seq("k"), tmpDir())
      assert(files.length === (n + 99) / 100)
      assert(files.map(_.rows).sum === n)
      assert(computes.value === 4L, s"n=$n: source partitions computed ${computes.value} times")
    }
  }

  test("a one-file table runs 2 jobs and a three-file table 6") {
    // count, write; count, sampling, range map stage, zipWithIndex count,
    // bucket map stage, write (the Export object doc)
    val sc = spark.sparkContext
    for ((n, expected) <- Seq((60, 2), (250, 6))) {
      val df = spark.createDataFrame(
        sc.parallelize(0 until n, 4).map(i => org.apache.spark.sql.Row((i * 7919L) % 10007)),
        StructType(Seq(StructField("k", LongType))))
      val (files, jobs) =
        jobsOf(Export.exportTable(df, keyCfg("jobs", 100), Seq("k"), tmpDir()))
      assert(files.length === (n + 99) / 100)
      assert(jobs === expected, s"n=$n: the export ran $jobs jobs")
    }
  }

  private def threeTables(): Seq[(org.apache.spark.sql.DataFrame, TableConfig, Seq[String])] =
    Seq(
      (spark.range(1234).select(expr("id ^ 555").as("k")), keyCfg("ta", 500), Seq("k")),
      (spark.range(321).select(col("id").as("k")), keyCfg("tb", 500, Some("zstd")), Seq("k")),
      (spark.range(777).select(expr("id ^ 3").as("k")), keyCfg("tc", 400), Seq("k")))

  test("concurrent exportAll writes what exporting the tables one at a time writes") {
    val one = tmpDir()
    val seqFiles = threeTables().map { case (df, cfg, ob) =>
      cfg.name -> Export.exportTable(df, cfg, ob, one).map(_.objectName)
    }
    val all = tmpDir()
    val m = Export.exportAll(threeTables(), all)
    assert(m.files === seqFiles)
    assert(m.files.map(_._2.length) === Seq(3, 1, 2))
    val a = filesIn(all).filter { case (f, _) => !f.contains("manifest.json") }
    val b = filesIn(one)
    assert(a.keySet === b.keySet)
    a.foreach { case (f, bytes) => assert(bytes === b(f), s"$f differs") }
  }

  test("one table's rename failure aborts exportAll manifest-less and ends every thread") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFileSystem].getName)
    val local = tmpDir()
    FlakyRenameFileSystem.onlyTable.set("tb")
    val e =
      try intercept[IllegalArgumentException] {
        Export.exportAll(threeTables(), "flaky://" + local)
      } finally FlakyRenameFileSystem.onlyTable.set(null)
    assert(e.getMessage.contains("tb: rename"), e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(s"$local/manifest.json")))
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-export-"))
    assert(alive.isEmpty, s"export threads left: ${alive.map(_.getName)}")
  }

  test("exportAll rejects an empty table list and repeated table names, naming them") {
    val out = tmpDir()
    val none = intercept[IllegalArgumentException](Export.exportAll(Nil, out))
    assert(none.getMessage.contains("no tables"), none.getMessage)
    val df = spark.range(10).select(col("id").as("k"))
    val twice = intercept[IllegalArgumentException] {
      Export.exportAll(Seq((df, keyCfg("dup", 5), Seq("k")),
        (df, keyCfg("ok", 5), Seq("k")), (df, keyCfg("dup", 5), Seq("k"))), out)
    }
    assert(twice.getMessage.contains("repeated: dup"), twice.getMessage)
    assert(!Files.list(java.nio.file.Paths.get(out)).iterator().hasNext,
      "a rejected table list must write nothing")
  }

  test("runFromEnv rejects a DEBUG_OFFSET outside 0..Int.MaxValue, naming it") {
    for (bad <- Seq("4294967297", "3000000000", "-1", "ten", " 5")) {
      val e = intercept[IllegalArgumentException] {
        Export.runFromEnv(_ => fail("no source may be read"), _ => Seq("id"),
          tmpDir(), Map("DEBUG_TABLE" -> "contracts", "DEBUG_OFFSET" -> bad))
      }
      assert(e.getMessage.contains(s"DEBUG_OFFSET") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("S6: outDir as a file:// URI behaves identically to a bare path") {
    // the object-store sink is a URI-scheme swap (Export.scala header):
    // every write/rename/manifest op goes through FileSystem.get(uri), so
    // exercising a non-default scheme end to end backs the claim that
    // s3a://bucket/prefix is the S3 sink (given hadoop-aws on the cluster
    // classpath — not in this container)
    val df = spark.range(120).select(col("id").as("k"))
    val cfg = TableConfig("uri",
      StructType(Seq(StructField("k", LongType))),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val bare = tmpDir()
    val uri = "file://" + tmpDir()
    val fBare = Export.exportTable(df, cfg, Seq("k"), bare)
    val fUri = Export.exportTable(df, cfg, Seq("k"), uri)
    assert(fUri.map(f => (f.fileName, f.rows, f.nominalLo, f.nominalHi)) ===
      fBare.map(f => (f.fileName, f.rows, f.nominalLo, f.nominalHi)))
    val a = spark.read.parquet(s"$bare/uri_100_200.parquet").orderBy(col("k")).collect()
    val b = spark.read.parquet(s"$uri/uri_100_200.parquet").orderBy(col("k")).collect()
    assert(a.sameElements(b))
  }

  test("incremental export chains base + delta runs off the manifest watermark") {
    import spark.implicits._
    def t(s: String) = java.time.LocalDateTime.parse(s)
    val cfg = TableConfig("inc",
      Schemas.fromDtypes(Seq("id" -> "Int64", "updated_at" -> "datetime64[ns]",
        "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val base = (0L until 50L)
      .map(i => (i, t(f"2024-01-01T00:00:${i % 60}%02d.500001"), s"v$i"))
      .toDF("id", "updated_at", "v")
    val out = tmpDir()

    val m1 = Export.exportIncremental(Seq((base, cfg, Seq("id"))), out, 1000L)
    assert(spark.read.parquet(s"$out/run_1000/inc_0_100.parquet").count() === 50)
    // watermark = max updated_at in MICROS (sub-ms survives)
    assert(m1.watermarkMicros.contains(
      t("2024-01-01T00:00:49.500001").toEpochSecond(java.time.ZoneOffset.UTC)
        * 1000000L + 500001L))
    assert(Export.latestWatermark(out, spark) === m1.watermarkMicros)

    // 5 rows re-versioned later + 3 brand-new ids: the delta is exactly 8
    val changed = (0L until 5L)
      .map(i => (i, t(s"2024-02-01T00:00:0$i"), s"v$i-2"))
    val fresh = (50L until 53L).map(i => (i, t("2024-02-02T00:00:00"), s"v$i"))
    val second = (base.as[(Long, java.time.LocalDateTime, String)].collect()
      .filterNot(r => changed.map(_._1).contains(r._1)) ++ changed ++ fresh)
      .toSeq.toDF("id", "updated_at", "v")
    val m2 = Export.exportIncremental(Seq((second, cfg, Seq("id"))), out, 2000L)
    val delta = spark.read.parquet(s"$out/run_2000/inc_0_100.parquet")
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(delta === ((0L until 5L) ++ (50L until 53L)).toArray)
    assert(m2.watermarkMicros.contains(
      t("2024-02-02T00:00:00").toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L))

    // nothing changed: empty delta manifest, watermark carried forward
    val m3 = Export.exportIncremental(Seq((second, cfg, Seq("id"))), out, 3000L)
    assert(m3.files === Seq("inc" -> Seq()))
    assert(m3.watermarkMicros === m2.watermarkMicros)
    assert(Export.latestWatermark(out, spark) === m2.watermarkMicros)
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/run_3000/manifest.json")), "UTF-8")
    assert(json.contains("\"watermarkMicros\": " + m2.watermarkMicros.get))

    // consumer replay: the snapshot equals the second dataset exactly —
    // re-versioned keys resolve to the delta run's rows, not the base's
    val snap = Export.readSnapshot(out, cfg, Seq("id"), spark)
      .select(col("id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap.size === 53)
    assert((0L until 5L).forall(i => snap(i) === s"v$i-2"), "delta must win")
    assert((5L until 53L).forall(i => snap(i) === s"v$i"))
  }

  test("S6 guard: a false-returning rename aborts before any manifest exists") {
    // the object-store failure mode ExportSpec can't hit with file://:
    // S3A/HDFS rename reports failure as a BOOLEAN, and an unchecked one
    // would leave a manifest entry pointing at a missing object
    // (Export.scala's require at the driver rename pass). The flaky://
    // scheme fails exactly the final-name renames and nothing else.
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFileSystem].getName)
    val df = spark.range(100).select(col("id").as("k"))
    val cfg = TableConfig("flk",
      StructType(Seq(StructField("k", LongType))),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val local = tmpDir()
    val e = intercept[IllegalArgumentException] {
      Export.exportAll(Seq((df, cfg, Seq("k"))), "flaky://" + local)
    }
    assert(e.getMessage.contains("rename"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$local/manifest.json")),
      "a failed rename must abort the export before the manifest is written")
  }

  test("S6: s3like:// happy path matches file://; each S3 anomaly aborts manifest-less") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3like.impl", classOf[S3LikeFileSystem].getName)
    val cfg = TableConfig("s3l",
      StructType(Seq(StructField("k", LongType))),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    def df = spark.range(250).select(col("id").as("k"))

    // no injections: the scheme swap exports identically
    val clean = tmpDir()
    val files = Export.exportTable(df, cfg, Seq("k"), "s3like://" + clean)
    assert(files.map(_.fileName) ===
      Seq("s3l_0_100.parquet", "s3l_100_200.parquet", "s3l_200_300.parquet"))
    assert(spark.read.parquet(s"$clean/s3l_0_100.parquet").count() === 100)

    // anomaly 1 — eventually-consistent listing hides the TAIL bucket:
    // contiguity alone would pass (0,1 is contiguous) and silently export
    // 2 of 3 files; the data-derived expected count aborts loudly instead,
    // BEFORE any rename — no manifest, no final file, nothing partial
    val short = tmpDir()
    S3LikeFileSystem.delayedListings.set(1)
    try {
      val e = intercept[IllegalArgumentException] {
        Export.exportAll(Seq((df, cfg, Seq("k"))), "s3like://" + short)
      }
      assert(e.getMessage.contains("expected buckets 0..2"), e.getMessage)
    } finally S3LikeFileSystem.delayedListings.set(0)
    assert(!Files.exists(java.nio.file.Paths.get(s"$short/manifest.json")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$short/s3l_0_100.parquet")),
      "listing-inconsistency abort must precede every rename")

    // anomaly 1b — the listing hides a MIDDLE bucket: the contiguity half
    // of the guard fires (bucket set has a hole), same loud manifest-less
    // abort
    val holed = tmpDir()
    S3LikeFileSystem.delayedListings.set(1)
    S3LikeFileSystem.hideMiddle.set(true)
    try {
      val e = intercept[IllegalArgumentException] {
        Export.exportAll(Seq((df, cfg, Seq("k"))), "s3like://" + holed)
      }
      assert(e.getMessage.contains("short or non-contiguous"), e.getMessage)
    } finally {
      S3LikeFileSystem.delayedListings.set(0)
      S3LikeFileSystem.hideMiddle.set(false)
    }
    assert(!Files.exists(java.nio.file.Paths.get(s"$holed/manifest.json")))

    // anomaly 2 — a committer directory rename copies half its children
    // then reports failure: the Spark write itself fails, residue stays in
    // the temporary tree, and again no manifest / no final artifact exists
    val torn = tmpDir()
    S3LikeFileSystem.nonAtomicDirRenames.set(1)
    try {
      intercept[Exception] {
        Export.exportAll(Seq((df, cfg, Seq("k"))), "s3like://" + torn)
      }
    } finally S3LikeFileSystem.nonAtomicDirRenames.set(0)
    assert(!Files.exists(java.nio.file.Paths.get(s"$torn/manifest.json")))
    assert(!Files.list(java.nio.file.Paths.get(torn)).iterator().hasNext ||
      Files.list(java.nio.file.Paths.get(torn)).iterator().next().getFileName
        .toString.startsWith(".staging_"),
      "a torn committer rename must leave no final-named artifact")
  }

  test("delta-chain tombstones delete keys; a later re-insert resurrects") {
    import spark.implicits._
    def t(s: String) = java.time.LocalDateTime.parse(s)
    val cfg = TableConfig("del",
      Schemas.fromDtypes(Seq("id" -> "Int64", "updated_at" -> "datetime64[ns]",
        "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val out = tmpDir()
    val base = (0L until 10L).map(i => (i, t("2024-01-01T00:00:00"), s"v$i"))
      .toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((base, cfg, Seq("id"))), out, 1000L)

    // run 2: id 4 re-versioned AND ids 3,4 deleted — the tombstone must
    // beat same-run data (delete-after-update within one extract)
    val upd = Seq((4L, t("2024-02-01T00:00:00"), "v4-2"))
      .toDF("id", "updated_at", "v")
    val m2 = Export.exportIncremental(Seq((upd, cfg, Seq("id"))), out, 2000L,
      deletes = Map("del" -> Seq(3L, 4L).toDF("id")))
    // the manifest LISTS the tombstone key (a manifest-driven mirror must
    // learn deletes exist) — and it was written BEFORE the manifest, so the
    // manifest-last commit-marker guarantee covers deletes too
    assert(m2.tombstones === Seq("del" -> "_tombstones/del.parquet"))
    val m2json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/run_2000/manifest.json")), "UTF-8")
    assert(m2json.contains(""""tombstones": {"del": "_tombstones/del.parquet"}"""))
    val snap2 = Export.readSnapshot(out, cfg, Seq("id"), spark)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(snap2 === (0L until 10L).filterNot(Set(3L, 4L)).toArray)

    // run 3: id 3 re-inserted — resurrects; id 4 stays dead
    val back = Seq((3L, t("2024-03-01T00:00:00"), "v3-3"))
      .toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((back, cfg, Seq("id"))), out, 3000L)
    val snap3 = Export.readSnapshot(out, cfg, Seq("id"), spark)
      .select(col("id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap3.keySet === (0L until 10L).toSet - 4L)
    assert(snap3(3L) === "v3-3")
  }

  test("schema evolution across the chain: declared-latest read, old runs fill null") {
    // the reference's schemas are DECLARED, not inferred (SURVEY §1.2) —
    // evolution therefore means: the table config gains a nullable column,
    // and every consumer reads the WHOLE chain under the newest declared
    // schema. readSnapshot pins spark.read.schema(cfg.schema), so parquet
    // files written before the column existed fill it with null instead of
    // poisoning the union or silently dropping the column (what a
    // footer-sampled inferred schema would do at 100 TB, where runs span
    // years of schema history).
    import spark.implicits._
    def t(s: String) = java.time.LocalDateTime.parse(s)
    val v1 = TableConfig("evo",
      Schemas.fromDtypes(Seq("id" -> "Int64", "updated_at" -> "datetime64[ns]",
        "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val v2 = v1.copy(schema = Schemas.fromDtypes(Seq(
      "id" -> "Int64", "updated_at" -> "datetime64[ns]",
      "v" -> "string", "note" -> "string")))
    val out = tmpDir()
    val base = (0L until 4L).map(i => (i, t("2024-01-01T00:00:00"), s"v$i"))
      .toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((base, v1, Seq("id"))), out, 1000L)
    // run 2 under the evolved config: id 1 re-versioned WITH a note, id 9 new
    val delta = Seq(
      (1L, t("2024-02-01T00:00:00"), "v1-2", "patched"),
      (9L, t("2024-02-01T00:00:00"), "v9", "fresh"))
      .toDF("id", "updated_at", "v", "note")
    Export.exportIncremental(Seq((delta, v2, Seq("id"))), out, 2000L)

    val snap = Export.readSnapshot(out, v2, Seq("id"), spark)
    assert(snap.schema.fieldNames.toSeq === Seq("id", "updated_at", "v", "note"))
    val rows = snap.collect()
      .map(r => r.getLong(0) -> ((r.getString(2), Option(r.getString(3))))).toMap
    assert(rows.keySet === Set(0L, 1L, 2L, 3L, 9L))
    // pre-evolution rows surface with a null note under the v2 schema
    assert(rows(0L) === (("v0", None)))
    // the upsert crossed the schema boundary and carries the new column
    assert(rows(1L) === (("v1-2", Some("patched"))))
    assert(rows(9L) === (("v9", Some("fresh"))))
    // compaction preserves the evolved snapshot byte for byte
    Export.compact(out, Seq((v2, Seq("id"), Seq("id"))), spark, 3000L)
    val compacted = Export.readSnapshot(out, v2, Seq("id"), spark)
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(compacted.view.mapValues(identity).toMap ===
      rows.view.mapValues(_._2).toMap)
  }

  test("a crashed run (no manifest) is invisible: tombstones never half-applied") {
    import spark.implicits._
    def t(s: String) = java.time.LocalDateTime.parse(s)
    val cfg = TableConfig("crsh",
      Schemas.fromDtypes(Seq("id" -> "Int64", "updated_at" -> "datetime64[ns]",
        "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val local = tmpDir()
    val base = (0L until 10L).map(i => (i, t("2024-01-01T00:00:00"), s"v$i"))
      .toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((base, cfg, Seq("id"))), local, 1000L)

    // run 2 dies AFTER its tombstones are on disk but BEFORE its manifest:
    // flaky:// fails the driver rename of every final export file, so the
    // table export aborts; the tombstone write (no range-named files)
    // succeeded earlier by construction of the write order
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFileSystem].getName)
    val upd = Seq((5L, t("2024-02-01T00:00:00"), "v5-2"))
      .toDF("id", "updated_at", "v")
    intercept[IllegalArgumentException] {
      Export.exportIncremental(Seq((upd, cfg, Seq("id"))), "flaky://" + local,
        2000L, deletes = Map("crsh" -> Seq(3L).toDF("id")))
    }
    // the half-run is on disk with its tombstone but no manifest…
    assert(Files.exists(java.nio.file.Paths.get(
      s"$local/run_2000/_tombstones/crsh.parquet")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$local/run_2000/manifest.json")))
    // …and every consumer ignores it: id 3 survives, the watermark holds
    val snap = Export.readSnapshot(local, cfg, Seq("id"), spark)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(snap === (0L until 10L).toArray,
      "a tombstone from an uncommitted run must not delete")
    assert(Export.latestWatermark(local, spark) ===
      Some(t("2024-01-01T00:00:00").toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L))
  }

  test("compact folds base+deltas+tombstones into one run; snapshot unchanged") {
    import spark.implicits._
    def t(s: String) = java.time.LocalDateTime.parse(s)
    val cfg = TableConfig("cmp",
      Schemas.fromDtypes(Seq("id" -> "Int64", "updated_at" -> "datetime64[ns]",
        "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val out = tmpDir()
    // the full history shape: update, delete-after-update, resurrect
    val base = (0L until 10L).map(i => (i, t("2024-01-01T00:00:00"), s"v$i"))
      .toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((base, cfg, Seq("id"))), out, 1000L)
    val upd = Seq((4L, t("2024-02-01T00:00:00"), "v4-2"))
      .toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((upd, cfg, Seq("id"))), out, 2000L,
      deletes = Map("cmp" -> Seq(3L, 4L).toDF("id")))
    val back = Seq((3L, t("2024-03-01T00:00:00"), "v3-3"))
      .toDF("id", "updated_at", "v")
    val m3 = Export.exportIncremental(Seq((back, cfg, Seq("id"))), out, 3000L)

    def snapOf(dir: String) = Export.readSnapshot(dir, cfg, Seq("id"), spark)
      .select(col("id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val before = snapOf(out)

    // mid-crash coexistence first: old chain + new base, old runs not yet
    // deleted (compact's documented step-2 crash window) must already read
    // identically — build that state in a copy of the chain
    val coexist = tmpDir()
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
        val q = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else Files.copy(p, q,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    copyTree(java.nio.file.Paths.get(out), java.nio.file.Paths.get(coexist))

    val mc = Export.compact(out, Seq((cfg, Seq("id"), Seq("id"))), spark, 9000L)
    // chain length reset to exactly 1; watermark carried forward unchanged
    assert(Export.committedRuns(out, spark) === Seq(9000L))
    assert(mc.watermarkMicros === m3.watermarkMicros)
    assert(snapOf(out) === before)

    copyTree(java.nio.file.Paths.get(s"$out/run_9000"),
      Files.createDirectories(java.nio.file.Paths.get(s"$coexist/run_9000")))
    assert(snapOf(coexist) === before,
      "old runs coexisting with the compacted base (crash mid-delete) must read identically")

    // the chain continues: the next delta resumes off the carried watermark
    val upd2 = Seq((5L, t("2024-04-01T00:00:00"), "v5-2"))
      .toDF("id", "updated_at", "v")
    val all2 = (before.filterNot(_._1 == 5L).map { case (i, v) =>
      (i, t("2024-01-01T00:00:00"), v) } :+ ((5L, t("2024-04-01T00:00:00"), "v5-2")))
      .toSeq.toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((all2, cfg, Seq("id"))), out, 9500L)
    val delta = spark.read.parquet(s"$out/run_9500/cmp_0_100.parquet")
      .select(col("id")).collect().map(_.getLong(0))
    assert(delta === Array(5L), "post-compaction delta must be watermark-scoped")
    assert(snapOf(out).toMap.apply(5L) === "v5-2")

    // guards: a compaction keyed no newer than the newest run is refused
    intercept[IllegalArgumentException] {
      Export.compact(out, Seq((cfg, Seq("id"), Seq("id"))), spark, 9500L)
    }
  }

  test("time travel: asOfRun replays the chain exactly as each run's consumers saw it") {
    import spark.implicits._
    def t(s: String) = java.time.LocalDateTime.parse(s)
    val cfg = TableConfig("tt",
      Schemas.fromDtypes(Seq("id" -> "Int64", "updated_at" -> "datetime64[ns]",
        "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val out = tmpDir()
    // run 1000: ids 0..4; run 2000: update 2, DELETE 3; run 3000:
    // resurrect 3 — the full tombstone/resurrect history
    val base = (0L until 5L).map(i => (i, t("2024-01-01T00:00:00"), s"v$i"))
      .toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((base, cfg, Seq("id"))), out, 1000L)
    val upd = Seq((2L, t("2024-02-01T00:00:00"), "v2-2"))
      .toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((upd, cfg, Seq("id"))), out, 2000L,
      deletes = Map("tt" -> Seq(3L).toDF("id")))
    val back = Seq((3L, t("2024-03-01T00:00:00"), "v3-3"))
      .toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((back, cfg, Seq("id"))), out, 3000L)

    def snapAt(asOf: Option[Long]) =
      Export.readSnapshot(out, cfg, Seq("id"), spark, asOf)
        .select(col("id"), col("v")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snapAt(Some(1000L)) ===
      Map(0L -> "v0", 1L -> "v1", 2L -> "v2", 3L -> "v3", 4L -> "v4"))
    assert(snapAt(Some(2000L)) ===
      Map(0L -> "v0", 1L -> "v1", 2L -> "v2-2", 4L -> "v4"))
    assert(snapAt(Some(3000L)) ===
      Map(0L -> "v0", 1L -> "v1", 2L -> "v2-2", 3L -> "v3-3", 4L -> "v4"))
    // no pin = current; a pin between runs floors to the preceding run;
    // a pin before retained history reads empty, not an error
    assert(snapAt(None) === snapAt(Some(3000L)))
    assert(snapAt(Some(2500L)) === snapAt(Some(2000L)))
    assert(snapAt(Some(500L)) === Map.empty)
  }

  test("the stream-XOR-batch producer rule is enforced in both directions") {
    import spark.implicits._
    def t(s: String) = java.time.LocalDateTime.parse(s)
    val cfg = TableConfig("xor",
      Schemas.fromDtypes(Seq("id" -> "Int64", "updated_at" -> "datetime64[ns]",
        "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    // batch-owned chain refuses a streaming producer
    val batchDir = tmpDir()
    val df1 = Seq((1L, t("2024-01-01T00:00:00"), "v1"))
      .toDF("id", "updated_at", "v")
    // a REALISTIC batch key (epoch millis) — the discriminator the guard
    // keys on; toy keys like 1000 are indistinguishable from batchIds
    Export.exportIncremental(Seq((df1, cfg, Seq("id"))), batchDir,
      1700000000000L)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val e1 = intercept[IllegalArgumentException] {
      Export.exportStream(in.toDF().toDF("id", "updated_at", "v"),
        cfg, Seq("id"), batchDir)
    }
    assert(e1.getMessage.contains("stream XOR batch"))
    // stream-owned dir (checkpoint present) refuses a batch producer
    val streamDir = tmpDir()
    Files.createDirectories(
      java.nio.file.Paths.get(s"$streamDir/_checkpoint"))
    val e2 = intercept[IllegalArgumentException] {
      Export.exportIncremental(Seq((df1, cfg, Seq("id"))), streamDir, 2000L)
    }
    assert(e2.getMessage.contains("stream XOR batch"))
    // the durable _producer marker closes the toy-key gap the magnitude
    // heuristic leaves: a batch chain with SMALL run keys still refuses a
    // stream, because exportIncremental stamped ownership
    val toyDir = tmpDir()
    Export.exportIncremental(Seq((df1, cfg, Seq("id"))), toyDir, 1000L)
    val e3 = intercept[IllegalArgumentException] {
      Export.exportStream(in.toDF().toDF("id", "updated_at", "v"),
        cfg, Seq("id"), toyDir)
    }
    assert(e3.getMessage.contains("stream XOR batch"))
    // compact is a batch writer too: a stream-stamped dir refuses it
    val streamDir2 = tmpDir()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$streamDir2/_producer"),
      "stream\n".getBytes("UTF-8"))
    val e4 = intercept[IllegalArgumentException] {
      Export.compact(streamDir2, Seq((cfg, Seq("id"), Seq("id"))), spark, 9000L)
    }
    assert(e4.getMessage.contains("stream XOR batch"))
  }

  test("multi-table runs give cross-table snapshot isolation at every pin") {
    import spark.implicits._
    def t(s: String) = java.time.LocalDateTime.parse(s)
    def cfgOf(n: String) = TableConfig(n,
      Schemas.fromDtypes(Seq("id" -> "Int64", "updated_at" -> "datetime64[ns]",
        "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val (ca, cb) = (cfgOf("ta"), cfgOf("tb"))
    val out = tmpDir()
    def df(vs: Seq[(Long, String)], at: String) =
      vs.map { case (i, v) => (i, t(at), v) }.toDF("id", "updated_at", "v")
    // run 1000 and run 2000 each update BOTH tables together (an order
    // and its lines, say); one manifest commits the pair atomically
    Export.exportIncremental(Seq(
      (df(Seq(1L -> "a1"), "2024-01-01T00:00:00"), ca, Seq("id")),
      (df(Seq(1L -> "b1"), "2024-01-01T00:00:00"), cb, Seq("id"))), out, 1000L)
    Export.exportIncremental(Seq(
      (df(Seq(1L -> "a2"), "2024-02-01T00:00:00"), ca, Seq("id")),
      (df(Seq(1L -> "b2"), "2024-02-01T00:00:00"), cb, Seq("id"))), out, 2000L)
    def pair(asOf: Option[Long]) = (
      Export.readSnapshot(out, ca, Seq("id"), spark, asOf)
        .select(col("v")).head.getString(0),
      Export.readSnapshot(out, cb, Seq("id"), spark, asOf)
        .select(col("v")).head.getString(0))
    // no pin and every pin yields a CONSISTENT (a_k, b_k) pair — a torn
    // a2/b1 view is unrepresentable because both tables commit under one
    // run manifest
    assert(pair(Some(1000L)) === (("a1", "b1")))
    assert(pair(Some(1500L)) === (("a1", "b1")))
    assert(pair(None) === (("a2", "b2")))
  }

  test("compact racing a delta: the stale compact aborts manifest-less, no lost update") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3like.impl", classOf[S3LikeFileSystem].getName)
    def t(s: String) = java.time.LocalDateTime.parse(s)
    val cfg = TableConfig("race",
      Schemas.fromDtypes(Seq("id" -> "Int64", "updated_at" -> "datetime64[ns]",
        "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val local = tmpDir()
    val out = "s3like://" + local

    val base = (0L until 10L).map(i => (i, t("2024-01-01T00:00:00"), s"v$i"))
      .toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((base, cfg, Seq("id"))), out, 1000L)
    // the racing delta re-versions id 4 and COMMITS (claiming gen 1000)...
    val upd = (base.as[(Long, java.time.LocalDateTime, String)].collect()
      .filterNot(_._1 == 4L) :+ ((4L, t("2024-02-01T00:00:00"), "v4-2")))
      .toSeq.toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((upd, cfg, Seq("id"))), out, 2000L)

    // ...but the compact's eventually-consistent LIST hasn't caught up:
    // every listing it performs omits run_2000, so it folds only the base
    // — the exact interleaving that silently shadows the delta's row (the
    // lost update) if the stale fold is allowed to commit
    S3LikeFileSystem.hiddenNames.set(Set("run_2000"))
    val conflict =
      try intercept[Export.CommitConflictException] {
        Export.compact(out, Seq((cfg, Seq("id"), Seq("id"))), spark, 9000L)
      } finally S3LikeFileSystem.hiddenNames.set(Set.empty)
    assert(conflict.getMessage.contains("generation 1000"))
    // clean abort: no new base, not even a crashed-looking directory, and
    // the winning delta's row is exactly what the snapshot serves
    assert(!Files.exists(java.nio.file.Paths.get(s"$local/run_9000")))
    assert(Export.committedRuns(out, spark) === Seq(1000L, 2000L))
    val snap = Export.readSnapshot(out, cfg, Seq("id"), spark)
      .select(col("id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap(4L) === "v4-2", "the delta must never be shadowed")

    // with a fresh (consistent) read the retry folds BOTH runs and wins
    val mc = Export.compact(out, Seq((cfg, Seq("id"), Seq("id"))), spark, 9500L)
    assert(Export.committedRuns(out, spark) === Seq(9500L))
    assert(mc.files.head._2.nonEmpty)
    val snap2 = Export.readSnapshot(out, cfg, Seq("id"), spark)
      .select(col("id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap2 === snap)
  }

  test("two writers on one generation: exactly one commits; stale claims are operator-released") {
    import spark.implicits._
    def t(s: String) = java.time.LocalDateTime.parse(s)
    val cfg = TableConfig("gen2",
      Schemas.fromDtypes(Seq("id" -> "Int64", "updated_at" -> "datetime64[ns]",
        "v" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val out = tmpDir()
    val base = (0L until 5L).map(i => (i, t("2024-01-01T00:00:00"), s"v$i"))
      .toDF("id", "updated_at", "v")
    Export.exportIncremental(Seq((base, cfg, Seq("id"))), out, 1000L)

    // writer A claims generation 1000 and dies before its manifest (the
    // claim file is all it leaves) — writer B must lose and abort clean
    Export.claimGeneration(out, 1000L, 5000L, spark)
    val upd = (base.as[(Long, java.time.LocalDateTime, String)].collect()
      .filterNot(_._1 == 1L) :+ ((1L, t("2024-02-01T00:00:00"), "v1-2")))
      .toSeq.toDF("id", "updated_at", "v")
    intercept[Export.CommitConflictException] {
      Export.exportIncremental(Seq((upd, cfg, Seq("id"))), out, 6000L)
    }
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/run_6000")))
    assert(Export.committedRuns(out, spark) === Seq(1000L))

    // writer A's own RETRY with its claimed runId is idempotent (replay)
    Export.claimGeneration(out, 1000L, 5000L, spark)

    // the dead claim blocks the generation until the OPERATOR releases it;
    // release refuses for committed runs, allows for crashed ones
    Export.forceReleaseClaim(out, 1000L, spark)
    Export.exportIncremental(Seq((upd, cfg, Seq("id"))), out, 7000L)
    assert(Export.committedRuns(out, spark) === Seq(1000L, 7000L))
    val snap = Export.readSnapshot(out, cfg, Seq("id"), spark)
      .select(col("id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap(1L) === "v1-2")
    // now that 7000 committed generation 1000's claim is history: refuse
    intercept[IllegalArgumentException] {
      Export.forceReleaseClaim(out, 1000L, spark)
    }
  }

  test("COMPACT env routes the O-layer job through chain compaction") {
    // the maintenance job an orchestrator schedules between delta runs,
    // reachable through the same env surface as INCREMENTAL
    def src(n: Int) = spark.range(n).selectExpr(
      "id",
      "sha2(cast(id as string), 256) AS creation_code_hash",
      "sha2(cast(id + 1 as string), 256) AS runtime_code_hash",
      "timestamp_micros(1700000000000000 + id * 1000000) AS created_at",
      "timestamp_micros(1700000000000000 + id * 2000000) AS updated_at",
      "'alice' AS created_by", "'bob' AS updated_by")
    val out = tmpDir()
    val base = Map("DEBUG_TABLE" -> "contracts")
    Export.runFromEnv(_ => src(50), _ => Seq("id"), out,
      base + ("INCREMENTAL" -> "1"))
    Thread.sleep(5) // distinct epoch-millis run ids
    Export.runFromEnv(_ => src(52), _ => Seq("id"), out,
      base + ("INCREMENTAL" -> "1"))
    assert(Export.committedRuns(out, spark).length === 2)
    val cfg = Schemas.byName("contracts")
    val before = Export.readSnapshot(out, cfg, Seq("id"), spark).count()
    assert(before === 52)

    val m = Export.runFromEnv(_ => src(52), _ => Seq("id"), out,
      base + ("COMPACT" -> "1"))
    assert(Export.committedRuns(out, spark).length === 1)
    assert(Export.readSnapshot(out, cfg, Seq("id"), spark).count() === 52)
    assert(m.watermarkMicros.nonEmpty, "compaction must carry the watermark")
  }

  test("dtype vocabulary is closed: unsupported types are rejected") {
    // the reference raises ValueError("Type not supported") (main.py:150);
    // its dead UInt16 branch (main.py:130) is deliberately NOT carried over
    for (bad <- Seq("UInt16", "float64", "category", ""))
      intercept[IllegalArgumentException](Schemas.sparkType(bad))
    assert(Schemas.fromDtypes(Seq("a" -> "Int64", "b" -> "json")).fieldNames
      === Array("a", "b"))
  }

  test("normalize: JSON literal passthrough is bit-identical; tz strip to UTC") {
    import spark.implicits._
    val weird = """{"b":  true, "a": 1e3,"z": "Ü\n"}"""
    val cfg = TableConfig("j",
      Schemas.fromDtypes(Seq("id" -> "Int64", "payload" -> "json",
        "created_at" -> "datetime64[ns]")),
      chunkSize = 10, numChunksPerFile = 1, jsonCols = Set("payload"))
    val in = Seq((1L, weird, java.sql.Timestamp.from(
      java.time.Instant.parse("2024-06-01T12:34:56.789Z"))))
      .toDF("id", "payload", "created_at")
    val row = Normalize(in, cfg).head
    assert(row.getString(1) === weird) // byte-for-byte, true stays true
    assert(row.get(2).toString === "2024-06-01T12:34:56.789") // UTC-naive
  }

  test("normalize fails fast on a missing declared column") {
    import spark.implicits._
    val cfg = TableConfig("x",
      Schemas.fromDtypes(Seq("id" -> "Int64", "nope" -> "string")),
      chunkSize = 1, numChunksPerFile = 1)
    val in = Seq(1L).toDF("id")
    intercept[org.apache.spark.sql.AnalysisException](Normalize(in, cfg))
  }

  test("vera catalog matches the reference's 7 tables") {
    assert(Schemas.tables.map(_.name) === Seq(
      "code", "contracts", "contract_deployments", "compiled_contracts",
      "compiled_contracts_sources", "sources", "verified_contracts"))
    assert(Schemas.byName("sources").rowsPerFile === 10000L)
    assert(Schemas.byName("contracts").rowsPerFile === 1000000L)
    intercept[IllegalArgumentException](Schemas.byName("nope"))
  }
}
