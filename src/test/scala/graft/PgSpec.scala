package graft

import graft.vera._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import java.nio.file.{Files, Paths}

/** The reference's literal core scenario (`main.py:197-207`) against a
  * REAL PostgreSQL 15 server, with no driver jar: the wire-protocol
  * source [[PgWire]] scans range-partitioned `COPY TO STDOUT` slices →
  * [[Normalize]] → [[Export]] — the same chain JdbcSpec proves on
  * embedded Derby, now on the engine the reference actually targets.
  *
  * The suite manages its own throwaway cluster (initdb + pg_ctl under the
  * `postgres` OS user, trust auth, loopback only) and cancels cleanly via
  * `assume` when the server binaries are absent — the environment-bound
  * posture every round's §9 probe records.
  */
class PgSpec extends SparkSpec with BeforeAndAfterAll {

  private val dataDir = "/tmp/graft_pgspec"
  private val port = 54397
  private val db = "postgres"
  private val dbUser = "graft"

  private def sh(cmd: String): (Int, String) = {
    val pb = new ProcessBuilder("su", "postgres", "-c", cmd)
    pb.directory(new java.io.File("/tmp"))
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    (p.waitFor(), out)
  }

  private lazy val serverUp: Boolean = {
    val haveBinaries = Files.exists(Paths.get("/usr/local/bin/initdb")) &&
      Files.exists(Paths.get("/usr/local/bin/pg_ctl"))
    haveBinaries && {
      sh(s"pg_ctl -D $dataDir -m immediate stop; rm -rf $dataDir")
      val (c1, o1) = sh(s"initdb -D $dataDir -A trust -U $dbUser")
      val (c2, o2) = sh(s"pg_ctl -D $dataDir -l $dataDir/log " +
        s"-o '-p $port -k $dataDir -c listen_addresses=127.0.0.1' -w start")
      if (c1 != 0 || c2 != 0)
        info(s"postgres unavailable (initdb=$c1 pg_ctl=$c2): " +
          (o1 + o2).linesIterator.take(3).mkString(" | "))
      c1 == 0 && c2 == 0
    }
  }

  override def afterAll(): Unit = {
    sh(s"pg_ctl -D $dataDir -m immediate stop; rm -rf $dataDir")
    super.afterAll()
  }

  private def conn() = new PgWire.Conn("127.0.0.1", port, db, dbUser)

  // ------------------------------------------- binary COPY, synthetic

  private val signature =
    "PGCOPY\n".getBytes("US-ASCII") ++ Array[Byte](-1, 13, 10, 0)

  /** A binary COPY stream: header (no flags, empty extension), one tuple
    * per row (None is NULL), trailer. */
  private def copyStream(rows: Seq[Seq[Option[Array[Byte]]]],
      sig: Array[Byte] = signature): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    val d = new java.io.DataOutputStream(out)
    d.write(sig); d.writeInt(0); d.writeInt(0)
    rows.foreach { r =>
      d.writeShort(r.length)
      r.foreach {
        case None => d.writeInt(-1)
        case Some(b) => d.writeInt(b.length); d.write(b)
      }
    }
    d.writeShort(-1)
    out.toByteArray
  }

  private def feed(payloads: Seq[Array[Byte]]): PgWire.CopyFeed =
    new PgWire.CopyFeed {
      private val it = payloads.iterator
      private var cur: Array[Byte] = null
      def nextLength(): Int =
        if (it.hasNext) { cur = it.next(); cur.length } else -1
      def read(dst: Array[Byte], off: Int, len: Int): Unit =
        System.arraycopy(cur, 0, dst, off, len)
    }

  private def decode(schema: StructType, payloads: Array[Byte]*): Seq[Row] =
    new PgWire.BinaryRows("syn", schema, feed(payloads)).toList

  private def be(bytes: Int, v: Long): Array[Byte] =
    Array.tabulate(bytes)(i => (v >>> (8 * (bytes - 1 - i))).toByte)
  private def utf8(s: String) = Some(s.getBytes("UTF-8"))
  private val pgEpoch = java.time.LocalDateTime.of(2000, 1, 1, 0, 0)
  private def pgTs(t: String) = Some(be(8,
    java.time.temporal.ChronoUnit.MICROS.between(pgEpoch,
      java.time.LocalDateTime.parse(t))))

  private val synSchema = StructType(Seq(
    StructField("s", StringType), StructField("b", BinaryType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("t", BooleanType), StructField("ts", TimestampNTZType)))
  private val allBytes = Array.tabulate(256)(_.toByte)
  private val synRows: Seq[Seq[Option[Array[Byte]]]] = Seq(
    Seq(None, None, None, None, None, None),
    Seq(utf8(""), Some(Array.empty[Byte]), Some(be(4, Int.MinValue)),
      Some(be(8, Long.MinValue)), Some(Array[Byte](0)),
      pgTs("1969-12-31T23:59:59.999999")),
    Seq(utf8("tab\tnl\nback\\slash \\N \uD834\uDD1E"), Some(allBytes),
      Some(be(4, Int.MaxValue)), Some(be(8, Long.MaxValue)), Some(Array[Byte](1)),
      pgTs("1999-12-31T23:59:59.000001")),
    Seq(utf8("\\N"), Some(Array[Byte](0)), Some(be(4, -42)), Some(be(8, 0)),
      Some(Array[Byte](1)), pgTs("1900-03-01T00:00:00.5")))
  private val synExpected: Seq[Seq[Any]] = Seq(
    Seq(null, null, null, null, null, null),
    Seq("", Seq.empty[Byte], Int.MinValue, Long.MinValue, false,
      java.time.LocalDateTime.parse("1969-12-31T23:59:59.999999")),
    Seq("tab\tnl\nback\\slash \\N \uD834\uDD1E", allBytes.toSeq,
      Int.MaxValue, Long.MaxValue, true,
      java.time.LocalDateTime.parse("1999-12-31T23:59:59.000001")),
    Seq("\\N", Seq[Byte](0), -42, 0L, true,
      java.time.LocalDateTime.parse("1900-03-01T00:00:00.5")))
  private def plain(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case v => v
  })

  test("binary COPY decoder: NULL vs empty, text verbatim (tab, newline, " +
      "backslash, \\N, 4-byte UTF-8), bytea, int/bool bounds, pre-1970 " +
      "and pre-2000 µs timestamps — the pure layer, no server") {
    val rows = decode(synSchema, copyStream(synRows))
    assert(plain(rows) === synExpected)
    assert(rows.head.isNullAt(0) && rows(1).getString(0) === "",
      "NULL and the empty string must stay distinct")
    assert(decode(StructType(Seq(StructField("d", DoubleType))),
      copyStream(Seq(Seq(Some(be(8, java.lang.Double.doubleToLongBits(-0.125)))))))
      .map(_.getDouble(0)) === Seq(-0.125))
  }

  test("binary COPY decoder: a stream split at every byte offset across " +
      "two CopyData payloads decodes identically") {
    val bytes = copyStream(synRows)
    for (k <- 0 to bytes.length) {
      val rows = decode(synSchema, bytes.take(k), bytes.drop(k))
      assert(plain(rows) === synExpected, s"split at byte $k")
    }
    // and one payload per byte
    assert(plain(decode(synSchema, bytes.map(b => Array(b)).toSeq: _*)) === synExpected)
  }

  test("binary COPY decoder fails loudly on a bad signature, a field-count " +
      "mismatch, an infinite timestamp and a truncated stream, naming the " +
      "table and column") {
    def failure(schema: StructType, bytes: Array[Byte]): String =
      intercept[IllegalStateException](decode(schema, bytes)).getMessage
    val bad = signature.clone(); bad(0) = 'Q'.toByte
    val sig = failure(synSchema, copyStream(synRows, bad))
    assert(sig.contains("syn") && sig.contains("signature"), sig)
    val count = failure(synSchema, copyStream(Seq(Seq(utf8("x")))))
    assert(count.contains("syn") && count.contains("1 fields, expected 6"), count)
    val tsSchema = StructType(Seq(StructField("created_at", TimestampNTZType)))
    for ((v, word) <- Seq((Long.MaxValue, "infinity"), (Long.MinValue, "-infinity"))) {
      val inf = failure(tsSchema, copyStream(Seq(Seq(Some(be(8, v))))))
      assert(inf.contains("syn") && inf.contains("created_at") &&
        inf.contains(s"timestamp $word"), inf)
    }
    val whole = copyStream(Seq(Seq(utf8("abc"))))
    val cut = failure(StructType(Seq(StructField("name", StringType))),
      whole.take(whole.length - 4))
    assert(cut.contains("syn") && cut.contains("column name"), cut)
  }

  test("wire client against a live server: startup (trust), DDL + INSERT " +
      "via simple query, describe, scalar") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    val c = conn()
    try {
      c.exec("DROP TABLE IF EXISTS wiretest")
      c.exec("CREATE TABLE wiretest(id bigint, note text)")
      c.exec("INSERT INTO wiretest VALUES (1, 'hi'), (2, NULL), (3, 'x')")
      assert(c.scalar("SELECT count(*)::text FROM wiretest") === Some("3"))
      assert(c.scalar("SELECT note FROM wiretest WHERE id = 2") === None)
      val cols = c.describe("SELECT * FROM wiretest")
      assert(cols.map(_._1) === Seq("id", "note"))
      assert(cols.map(_._2) === Seq(20, 25)) // int8, text OIDs
      // an error mid-session leaves the connection usable (ReadyForQuery)
      val ex = intercept[RuntimeException] { c.exec("SELECT nonsense!!") }
      assert(ex.getMessage.contains("pgwire"))
      assert(c.scalar("SELECT 7::text") === Some("7"))
    } finally c.close()
  }

  test("S1 for real: range-partitioned COPY scan of a VerA-shaped table " +
      "-> Normalize -> Export, adversarial content included (newlines, " +
      "tabs, backslashes, unicode, NULL vs empty, bytea, micros, " +
      "byte-preserved JSON)") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    val n = 257
    val c = conn()
    try {
      c.exec("CREATE SCHEMA IF NOT EXISTS vera")
      c.exec("DROP TABLE IF EXISTS vera.accounts")
      c.exec(
        """CREATE TABLE vera.accounts(
          |  id bigint, name text, tag bytea,
          |  created_at timestamp, payload json, active boolean,
          |  small integer)""".stripMargin)
      val rows = (0 until n).map { i =>
        val name =
          if (i == 3) "NULL" // SQL NULL
          else if (i == 4) "''" // empty string — distinct from NULL
          else if (i == 5) "E'line1\\nline2\\ttabbed \\\\slash'"
          else if (i == 6) "'καλημέρα — 多言語'"
          else s"'acct_$i'"
        val tag = if (i == 7) "NULL"
          else f"'\\x${i % 256}%02x${i * 2 % 256}%02x'"
        val ts = if (i == 8) "NULL"
          else f"'2024-06-01 12:00:${i % 60}%02d.12345'"
        val json = s"""'{"i":  $i, "ok": true}'"""
        s"($i, $name, $tag, $ts, $json, " +
          s"${if (i % 2 == 0) "true" else "false"}, ${i * 3})"
      }
      rows.grouped(64).foreach { g =>
        c.exec("INSERT INTO vera.accounts VALUES " + g.mkString(", "))
      }
    } finally c.close()

    val cfg = TableConfig("accounts",
      Schemas.fromDtypes(Seq(
        "id" -> "Int64", "name" -> "string", "tag" -> "object",
        "created_at" -> "datetime64[ns]", "payload" -> "json",
        "active" -> "bool", "small" -> "Int32")),
      chunkSize = 10, numChunksPerFile = 10,
      jsonCols = Set("payload"), compression = None)

    val (lo, hi) = PgWire.bounds("127.0.0.1", port, db, dbUser,
      "vera", "accounts", "id")
    assert((lo, hi) === (0L, (n - 1).toLong))
    val df = PgWire.scan(spark, "127.0.0.1", port, db, dbUser, "vera", cfg,
      partitionColumn = Some("id"), lowerBound = lo, upperBound = hi + 1,
      numPartitions = 4)
    // the ONE sequential reference cursor became N concurrent COPY slices
    assert(df.rdd.getNumPartitions === 4)
    val norm = Normalize(df, cfg)

    val out = Files.createTempDirectory("graft_pg_out").toString
    val files = Export.exportTable(norm, cfg, Seq("id"), out)
    assert(files.map(_.rows).sum === n.toLong)
    assert(files.length === math.ceil(n / 100.0).toInt)

    val back = spark.read.parquet(files.map(f => s"$out/${f.fileName}"): _*)
    assert(back.count() === n.toLong)
    assert(back.schema("created_at").dataType === TimestampNTZType)
    def at(i: Long) = back.filter(col("id") === i).head()
    assert(at(9).getString(1) === "acct_9")
    assert(at(3).isNullAt(1), "SQL NULL must stay NULL")
    assert(at(4).getString(1) === "", "empty string must NOT become NULL")
    assert(at(5).getString(1) === "line1\nline2\ttabbed \\slash")
    assert(at(6).getString(1) === "καλημέρα — 多言語")
    assert(at(7).isNullAt(2))
    assert(at(9).getAs[Array[Byte]]("tag").toSeq ===
      Seq[Byte](9, 18))
    assert(at(8).isNullAt(3))
    assert(at(9).getAs[java.time.LocalDateTime]("created_at").toString
      === "2024-06-01T12:00:09.123450")
    // literal-JSON byte preservation: odd spacing survives the whole chain
    assert(at(11).getString(4) === """{"i":  11, "ok": true}""")
    assert(at(10).getBoolean(5) === true)
    assert(at(11).getBoolean(5) === false)
    assert(at(12).getInt(6) === 36)
  }

  test("OFFSET (S2) pushes into the COPY subquery server-side") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    val cfg = TableConfig("accounts",
      Schemas.fromDtypes(Seq("id" -> "Int64")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val df = PgWire.scan(spark, "127.0.0.1", port, db, dbUser, "vera", cfg,
      offset = Some(250L))
    assert(df.count() === 7L) // 257 - 250
  }

  test("the full 7-table VerA catalog loads from the live server and " +
      "exports end-to-end (runFromEnv shape: per-table scan -> normalize " +
      "-> manifest)") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    def pgType(dt: DataType): String = dt match {
      case BooleanType => "boolean"
      case IntegerType => "integer"
      case LongType => "bigint"
      case BinaryType => "bytea"
      case TimestampNTZType => "timestamp"
      case StringType => "text"
      case other => fail(s"unexpected VerA type $other")
    }
    def lit(dt: DataType, tbl: String, cn: String, i: Int): String = dt match {
      case BooleanType => if (i % 2 == 0) "true" else "false"
      case IntegerType => (i * 7).toString
      case LongType => (i * 1000L + tbl.length).toString
      case BinaryType => f"'\\x0$i%x7f'"
      case TimestampNTZType => s"'2024-03-0${i + 1} 08:15:3$i'"
      case StringType => s"'${tbl}_${cn}_$i'"
    }
    val c = conn()
    try {
      c.exec("CREATE SCHEMA IF NOT EXISTS vera7")
      for (cfg <- Schemas.tables) {
        c.exec(s"DROP TABLE IF EXISTS vera7.${cfg.name}")
        val cols = cfg.schema.fields.map { f =>
          val t = if (cfg.jsonCols(f.name)) "json" else pgType(f.dataType)
          s"${f.name} $t"
        }.mkString(", ")
        c.exec(s"CREATE TABLE vera7.${cfg.name}($cols)")
        val inserts = (0 until 3).map { i =>
          cfg.schema.fields.map { f =>
            if (cfg.jsonCols(f.name)) s"""'{"k": $i}'"""
            else lit(f.dataType, cfg.name, f.name, i)
          }.mkString("(", ", ", ")")
        }
        c.exec(s"INSERT INTO vera7.${cfg.name} VALUES " +
          inserts.mkString(", "))
      }
    } finally c.close()

    val out = Files.createTempDirectory("graft_pg7_out").toString
    val manifest = Export.runFromEnv(
      source = cfg => Normalize(
        PgWire.scan(spark, "127.0.0.1", port, db, dbUser, "vera7", cfg),
        cfg),
      orderBy = cfg => Seq(cfg.schema.fields.head.name),
      outDir = out,
      env = Map.empty)
    val byTable = manifest.files.toMap
    assert(byTable.keySet === Schemas.tables.map(_.name).toSet)
    for (cfg <- Schemas.tables) {
      // object keys are "{table}/{fileName}"; files land at outDir/fileName
      val back = spark.read.parquet(
        byTable(cfg.name).map(k => s"$out/${k.split('/').last}"): _*)
      assert(back.schema === cfg.schema, s"${cfg.name} schema drift")
      assert(back.count() === 3L, s"${cfg.name} row count")
    }
  }

  test("timestamptz exports as its UTC wall clock under a non-UTC database " +
      "TimeZone; a naive timestamp exports unchanged") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    val tzDb = "graft_tz"
    val admin = conn()
    try {
      admin.exec(s"DROP DATABASE IF EXISTS $tzDb")
      admin.exec(s"CREATE DATABASE $tzDb")
      admin.exec(s"ALTER DATABASE $tzDb SET TimeZone TO 'America/Sao_Paulo'")
    } finally admin.close()
    val c = new PgWire.Conn("127.0.0.1", port, tzDb, dbUser)
    try {
      // the database default is not UTC; the client's session is
      assert(c.scalar("SELECT setconfig::text FROM pg_db_role_setting s " +
        s"JOIN pg_database d ON d.oid = s.setdatabase WHERE datname = '$tzDb'")
        === Some("{TimeZone=America/Sao_Paulo}"))
      assert(c.scalar("SHOW TimeZone") === Some("UTC"))
      c.exec("CREATE TABLE audit(id bigint, changed_at timestamptz, " +
        "logged_at timestamp)")
      c.exec("INSERT INTO audit VALUES " +
        "(1, '2024-06-01 12:00:00.25+02', '2024-06-01 12:00:00.25'), " +
        "(2, '2024-06-01 12:00:00-05', '1999-12-31 23:59:59.000001'), " +
        "(3, NULL, NULL)")
    } finally c.close()
    val cfg = TableConfig("audit",
      Schemas.fromDtypes(Seq("id" -> "Int64",
        "changed_at" -> "datetime64[ns]", "logged_at" -> "datetime64[ns]")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val out = Files.createTempDirectory("graft_pg_tz_out").toString
    val files = Export.exportTable(
      PgWire.scan(spark, "127.0.0.1", port, tzDb, dbUser, "public", cfg),
      cfg, Seq("id"), out)
    val back = spark.read.parquet(files.map(f => s"$out/${f.fileName}"): _*)
      .orderBy("id").collect()
    def ts(v: Any) = Option(v).map(_.toString).orNull
    assert(back.map(r => (r.getLong(0), ts(r.get(1)), ts(r.get(2)))).toSeq === Seq(
      (1L, "2024-06-01T10:00:00.250", "2024-06-01T12:00:00.250"),
      (2L, "2024-06-01T17:00", "1999-12-31T23:59:59.000001"),
      (3L, null, null)))
  }

  test("a server error inside a slice's COPY names the table and the " +
      "slice predicate") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    val c = conn()
    try {
      c.exec("CREATE SCHEMA IF NOT EXISTS vera")
      c.exec("DROP TABLE IF EXISTS vera.wide")
      c.exec("CREATE TABLE vera.wide(id bigint, v bigint)")
      c.exec("INSERT INTO vera.wide SELECT i, CASE WHEN i = 5 " +
        "THEN 3000000000 ELSE i END FROM generate_series(0, 7) i")
    } finally c.close()
    // v is declared Int32 over a bigint column: its int4 cast overflows
    val cfg = TableConfig("wide",
      Schemas.fromDtypes(Seq("id" -> "Int64", "v" -> "Int32")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val df = PgWire.scan(spark, "127.0.0.1", port, db, dbUser, "vera", cfg,
      partitionColumn = Some("id"), lowerBound = 0L, upperBound = 8L,
      numPartitions = 4)
    val e = intercept[Exception](df.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("pgwire: wide, slice id >= 4 AND id < 6: " +
      "ERROR: integer out of range"), msgs)
    // the other slices are fine: a declared Int64 reads the same rows
    val ok = cfg.copy(schema = Schemas.fromDtypes(
      Seq("id" -> "Int64", "v" -> "Int64")))
    assert(PgWire.scan(spark, "127.0.0.1", port, db, dbUser, "vera", ok,
      partitionColumn = Some("id"), lowerBound = 0L, upperBound = 8L,
      numPartitions = 4).collect().map(_.getLong(1)).sorted.toSeq ===
      Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L, 3000000000L))
  }
}
