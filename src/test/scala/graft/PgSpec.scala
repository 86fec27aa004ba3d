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
      "via simple query, rows, scalar") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    val c = conn()
    try {
      c.exec("DROP TABLE IF EXISTS wiretest")
      c.exec("CREATE TABLE wiretest(id bigint, note text)")
      c.exec("INSERT INTO wiretest VALUES (1, 'hi'), (2, NULL), (3, 'x')")
      assert(c.scalar("SELECT count(*)::text FROM wiretest") === Some("3"))
      assert(c.scalar("SELECT note FROM wiretest WHERE id = 2") === None)
      assert(c.rows("SELECT id::text, note FROM wiretest ORDER BY id") === Seq(
        Seq(Some("1"), Some("hi")), Seq(Some("2"), None), Seq(Some("3"), Some("x"))))
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

  // --------------------------------------- login, encoding, snapshot slices

  test("a refused login throws naming the database and closes its socket") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    def fds() = Option(new java.io.File("/proc/self/fd").list()).map(_.length)
    assume(fds().isDefined, "/proc/self/fd unavailable")
    def refused(): String = intercept[PgWire.ServerError](
      new PgWire.Conn("127.0.0.1", port, "graft_no_such_db", dbUser)).getMessage
    val msg = refused()
    assert(msg.contains("graft_no_such_db"), msg)
    // a leak would keep eight sockets open per round; a descriptor some
    // other thread opens or closes meanwhile only costs a round
    val steady = Iterator.fill(3) {
      val before = fds()
      (1 to 8).foreach(_ => refused())
      fds() == before
    }.exists(identity)
    assert(steady, "refused logins left descriptors open")
  }

  test("text from a LATIN1 database exports as UTF-8 (client_encoding)") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    val latin = "graft_latin1"
    val admin = conn()
    try {
      admin.exec(s"DROP DATABASE IF EXISTS $latin")
      admin.exec(s"CREATE DATABASE $latin ENCODING 'LATIN1' TEMPLATE template0 " +
        "LC_COLLATE 'C' LC_CTYPE 'C'")
    } finally admin.close()
    val c = new PgWire.Conn("127.0.0.1", port, latin, dbUser)
    try {
      c.exec("CREATE TABLE menu(id bigint, item text)")
      // ASCII-only SQL: the server stores each é as the LATIN1 byte 0xE9
      c.exec("INSERT INTO menu VALUES (1, U&'caf\\00E9'), (2, 'cafe'), " +
        "(3, U&'Caf\\00E9'), (4, U&'\\00E9t\\00E9')")
    } finally c.close()
    val cfg = TableConfig("menu",
      Schemas.fromDtypes(Seq("id" -> "Int64", "item" -> "string")),
      chunkSize = 10, numChunksPerFile = 10, compression = None)
    val out = Files.createTempDirectory("graft_pg_latin1_out").toString
    // sliced on the text key: its slice bounds are UTF-8 bytes too
    val files = Export.exportTable(
      PgWire.scan(spark, "127.0.0.1", port, latin, dbUser, "public", cfg),
      cfg, Seq("item"), out)
    assert(spark.read.parquet(s"$out/${files.head.fileName}").collect()
      .map(_.getString(1)).toSeq === Seq("Café", "cafe", "café", "été"))
  }

  test("slice starts: every file start, at least one slice per file, " +
      "at most parallelism + files and at most n") {
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 500) {
      val n = rnd.nextInt(2000).toLong
      val rpf = 1L + rnd.nextInt(300)
      val par = 1 + rnd.nextInt(16)
      val starts = PgWire.sliceStarts(n, rpf, par)
      val files = (n + rpf - 1) / rpf
      val at = s"n=$n rowsPerFile=$rpf parallelism=$par: $starts"
      assert(starts === starts.distinct.sorted, at)
      assert(starts.forall(s => s >= 0 && s < n), at)
      assert((0L until files).forall(f => starts.contains(f * rpf)), at)
      assert(starts.length <= math.min(n, par + files), at)
      if (files == 1) assert(starts.length === math.min(n, par.toLong), at)
    }
  }

  test("slices read one snapshot: rows inserted, deleted or moved across " +
      "a cut after the plan do not show, and every count check passes") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    val c = conn()
    try {
      c.exec("CREATE SCHEMA IF NOT EXISTS vera")
      c.exec("DROP TABLE IF EXISTS vera.snap")
      c.exec("CREATE TABLE vera.snap(id bigint, v text)")
      c.exec("INSERT INTO vera.snap SELECT i, 'v' || i FROM generate_series(0, 39) i")
    } finally c.close()
    val schema = Schemas.fromDtypes(Seq("id" -> "Int64", "v" -> "string"))
    val source = PgWire.Source("127.0.0.1", port, db, dbUser, "vera", "snap", None)
    // two files of 20 rows, two slices each: slices start at ids 0, 10, 20, 30
    val plan = PgWire.slices(spark, source, schema, "id", 20L, 4).get
    try {
      assert(plan.rows === Seq(10L, 10L, 10L, 10L))
      val w = conn()
      try {
        w.exec("INSERT INTO vera.snap VALUES (-1, 'new'), (15, 'new'), (40, 'new')")
        w.exec("DELETE FROM vera.snap WHERE id = 3")
        w.exec("UPDATE vera.snap SET id = 25 WHERE id = 12") // slice 1 -> slice 2
        assert(w.scalar("SELECT count(*)::text FROM vera.snap") === Some("42"))
      } finally w.close()
      val got = plan.frame.collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.sorted.toSeq === (0 until 40).map(i => (i.toLong, s"v$i")))
      assert(plan.frame.rdd.mapPartitions(it => Iterator(it.size.toLong))
        .collect().toSeq === plan.rows)
    } finally plan.close()
  }

  test("a slice whose stream differs from its planned count fails, naming " +
      "the table, the slice and both counts") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    val c = conn()
    try {
      c.exec("CREATE SCHEMA IF NOT EXISTS vera")
      c.exec("DROP TABLE IF EXISTS vera.counted")
      c.exec("CREATE TABLE vera.counted AS SELECT i::bigint AS id FROM generate_series(0, 4) i")
    } finally c.close()
    val source = PgWire.Source("127.0.0.1", port, db, dbUser, "vera", "counted", None)
    val rdd = new PgWire.SliceRDD(spark.sparkContext, source,
      Schemas.fromDtypes(Seq("id" -> "Int64")), Seq(Some("id < 3")), None, Some(Seq(4L)))
    val e = intercept[Exception](rdd.count())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("pgwire: counted, slice id < 3: " +
      "streamed 3 rows, the snapshot's plan counted 4"), msgs)
  }

  test("sliced export: every file is in Spark's key order, and names, row " +
      "counts, rows and the manifest equal the persisted path's, in 1 job") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    // non-ASCII text, case variants; bytea with bytes >= 0x80 and one NULL
    val texts = Seq("a", "B", "b", "A", "é", "e", "E", "z", "Z", "ü", "日本",
      "😀", "ab", "a b", "Ä", "ß", "0", "~", "aé", "ae", "É", "Ω", "ω", "zz")
    val hexes = Seq(None, Some(""), Some("00"), Some("0000"), Some("01"),
      Some("7f"), Some("7fff"), Some("80"), Some("8000"), Some("80ff"),
      Some("81"), Some("c3a9"), Some("fe"), Some("ff"), Some("ff00"),
      Some("ffff"), Some("41"), Some("61"), Some("6162"), Some("e697a5"),
      Some("f09f9880"), Some("10"), Some("1f"), Some("9f"))
    val c = conn()
    try {
      c.exec("CREATE SCHEMA IF NOT EXISTS vera")
      c.exec("DROP TABLE IF EXISTS vera.keyed")
      c.exec("CREATE TABLE vera.keyed(t text, b bytea, note text)")
      c.exec("INSERT INTO vera.keyed VALUES " + texts.zip(hexes).zipWithIndex.map {
        case ((t, h), i) => s"('$t', ${h.fold("NULL")(x => s"'\\x$x'")}, 'row $i')"
      }.mkString(", "))
    } finally c.close()
    val n = texts.length
    val cfg = TableConfig("keyed", Schemas.fromDtypes(Seq(
      "t" -> "string", "b" -> "object", "note" -> "string")),
      chunkSize = 5, numChunksPerFile = 1, compression = Some("zstd"))
    def scan() = PgWire.scan(spark, "127.0.0.1", port, db, dbUser, "vera", cfg)
    def fileRows(out: String, files: Seq[Export.ExportedFile]) =
      files.map(f => plain(spark.read.parquet(s"$out/${f.fileName}").collect().toSeq))
    for (key <- Seq("t", "b")) {
      // a slice starts at every row: every key sits at a cut
      val slicedOut = Files.createTempDirectory("graft_pg_sliced").toString
      val (sliced, jobs) = jobsOf(Export.exportTable(
        Normalize(scan(), cfg), cfg, Seq(key), slicedOut, numPartitions = n))
      assert(jobs === 1, s"key $key: the sliced export ran $jobs jobs")
      // an identity withColumn keeps the rows and takes the persisted path
      val sortedOut = Files.createTempDirectory("graft_pg_sorted").toString
      val sorted = Export.exportTable(scan().withColumn(key, col(key)), cfg,
        Seq(key), sortedOut)
      assert(sliced === sorted, s"key $key")
      assert(sliced.map(_.rows) === Seq(5L, 5L, 5L, 5L, 4L), s"key $key")
      val rows = fileRows(slicedOut, sliced)
      assert(rows === fileRows(sortedOut, sorted), s"key $key")
      assert(rows.map(_.length.toLong) === sliced.map(_.rows), s"key $key")
      assert(rows.flatten === plain(spark.read.parquet(slicedOut).orderBy(key)
        .collect().toSeq), s"key $key: files out of Spark's key order")
    }
    val sliced = Export.exportAll(Seq((scan(), cfg, Seq("t"))),
      Files.createTempDirectory("graft_pg_sliced_all").toString, nowMillis = 1L)
    val sorted = Export.exportAll(Seq((scan().withColumn("t", col("t")), cfg, Seq("t"))),
      Files.createTempDirectory("graft_pg_sorted_all").toString, nowMillis = 1L)
    assert(sliced.files === sorted.files)

    // an empty table: no job, no file, no staging directory left behind
    val c2 = conn()
    try {
      c2.exec("DROP TABLE IF EXISTS vera.keyed_empty")
      c2.exec("CREATE TABLE vera.keyed_empty (LIKE vera.keyed)")
    } finally c2.close()
    val empty = cfg.copy(name = "keyed_empty")
    val emptyOut = Files.createTempDirectory("graft_pg_empty").toString
    val (none, noJobs) = jobsOf(Export.exportTable(
      PgWire.scan(spark, "127.0.0.1", port, db, dbUser, "vera", empty),
      empty, Seq("t"), emptyOut))
    assert(none.isEmpty && noJobs === 0)
    assert(Files.list(Paths.get(emptyOut)).count() === 0L)
  }

  test("a slice start on a repeated or NULL key sends the table to the " +
      "persisted path") {
    assume(serverUp, "postgres binaries/cluster unavailable")
    val c = conn()
    try {
      c.exec("CREATE SCHEMA IF NOT EXISTS vera")
      c.exec("DROP TABLE IF EXISTS vera.dups")
      c.exec("CREATE TABLE vera.dups(k bigint, v text)")
      // ordered: 0 1 1 2 3 4 5 6 — the slice starting at row 2 repeats 1
      c.exec("INSERT INTO vera.dups VALUES (0, 'a'), (1, 'b'), (1, 'c'), " +
        "(2, 'd'), (3, 'e'), (4, 'f'), (5, 'g'), (6, 'h')")
      c.exec("DROP TABLE IF EXISTS vera.nulls")
      c.exec("CREATE TABLE vera.nulls AS SELECT * FROM vera.dups")
      c.exec("UPDATE vera.nulls SET k = NULL WHERE k < 2")
    } finally c.close()
    val cfg = TableConfig("dups",
      Schemas.fromDtypes(Seq("k" -> "Int64", "v" -> "string")),
      chunkSize = 2, numChunksPerFile = 1, compression = None)
    val schema = cfg.schema
    for (t <- Seq("dups", "nulls")) {
      val source = PgWire.Source("127.0.0.1", port, db, dbUser, "vera", t, None)
      assert(PgWire.slices(spark, source, schema, "k", 2L, 4).isEmpty, t)
    }
    val out = Files.createTempDirectory("graft_pg_dups").toString
    val (files, jobs) = jobsOf(Export.exportTable(
      PgWire.scan(spark, "127.0.0.1", port, db, dbUser, "vera", cfg),
      cfg, Seq("k"), out))
    assert(jobs === 6, s"the fallback ran $jobs jobs")
    assert(files.map(_.rows) === Seq(2L, 2L, 2L, 2L))
    assert(spark.read.parquet(out).count() === 8L)
  }
}
