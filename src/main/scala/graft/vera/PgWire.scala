package graft.vera

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** S1 against a REAL PostgreSQL server with no driver jar: a minimal
  * PostgreSQL frontend/backend protocol v3 client (startup → simple
  * query → `COPY ... TO STDOUT (FORMAT binary)` stream), used as a Spark
  * source.
  *
  * Why this exists: the reference's core scenario is a server-side-cursor
  * scan of 7 Postgres tables (`main.py:197-207`). The S1 leg runs
  * end-to-end against embedded Derby via Spark's JDBC source
  * ([[Jdbc.scan]]); this class closes the remaining environment gap — a
  * PostgreSQL 15 server exists on the box but no pgjdbc jar does, and the
  * wire protocol is public and stable
  * (https://www.postgresql.org/docs/current/protocol.html) — so the
  * literal reference scenario runs for real: Postgres server → range-
  * partitioned parallel scan → Normalize → Export.
  *
  * Spark-first shape: the DRIVER never pulls rows — it sends optional
  * min/max bounds queries; each EXECUTOR partition opens its own
  * connection and streams its key-range slice via `COPY (SELECT ...) TO
  * STDOUT (FORMAT binary)`, the same rows the reference's cursor would
  * produce but N-way parallel (the same structural upgrade [[Jdbc.scan]]
  * makes on the JDBC leg). COPY's stream is backpressured by the socket,
  * so there is no fetchsize knob to tune and no whole-table buffering
  * anywhere; memory per task is one row plus one read buffer.
  *
  * Binary format, server-side casts: the slice's SELECT casts every column
  * to the wire type of its DECLARED Spark type (`bool`, `int4`, `int8`,
  * `float8`, `text`, `bytea`, `timestamp`), so Postgres does every
  * conversion and the client reads fixed layouts straight from the
  * CopyData bytes ([[BinaryRows]]): one UTF-8 decode per text value and
  * no escape decoding of any kind, a copy per bytea, big-endian reads
  * for numbers, int64 microseconds for timestamps. A declared type that
  * does not fit the source column (an `Int32` over a bigint holding
  * 3000000000) fails on the server, and the error names the table and
  * the slice. Every session starts with `TimeZone=UTC`, so a
  * `timestamptz` column casts to its UTC wall clock, the naive form the
  * VerA contract stores (the reference's `tz_convert('UTC')`,
  * `main.py:117-119`); the client refuses a server whose
  * `integer_datetimes` is not `on`.
  *
  * Scope: trust/no-auth logins (the test cluster's config; adding MD5 or
  * SASL is orthogonal plumbing) and the closed VerA dtype vocabulary
  * ([[Schemas.sparkType]]) — bool, Int32, Int64, string, bytea, naive
  * timestamp, json-as-text.
  */
object PgWire {

  // ---------------------------------------------------------------- wire

  /** One protocol-v3 connection (blocking socket, single-threaded use). */
  final class Conn(host: String, port: Int, db: String, user: String)
      extends AutoCloseable {
    private val socket = new Socket(host, port)
    socket.setTcpNoDelay(true)
    private val in = new DataInputStream(
      new BufferedInputStream(socket.getInputStream, 1 << 16))
    private val out = new DataOutputStream(
      new BufferedOutputStream(socket.getOutputStream, 1 << 14))

    startup()

    private def cstr(s: String): Array[Byte] = {
      val b = s.getBytes(UTF_8)
      java.util.Arrays.copyOf(b, b.length + 1) // trailing NUL
    }

    /** StartupMessage: Int32 len, Int32 196608 (v3.0), key\0value\0 pairs,
      * final \0. No leading type byte (the one message without it). The
      * session runs in `TimeZone=UTC`, so a server-side `::timestamp` cast
      * of a `timestamptz` gives its UTC wall clock. */
    private def startup(): Unit = {
      val body = cstr("user") ++ cstr(user) ++ cstr("database") ++
        cstr(db) ++ cstr("TimeZone") ++ cstr("UTC") ++ Array[Byte](0)
      out.writeInt(8 + body.length)
      out.writeInt(196608)
      out.write(body)
      out.flush()
      // Auth handshake: 'R' AuthenticationOk(0) under trust; then
      // ParameterStatus/BackendKeyData until ReadyForQuery.
      var integerDatetimes = "(not reported)"
      var ready = false
      while (!ready) {
        val (tpe, payload) = readMessage()
        tpe match {
          case 'R' =>
            val code = java.nio.ByteBuffer.wrap(payload).getInt
            require(code == 0,
              s"pgwire: unsupported auth method $code (trust-only client)")
          case 'S' =>
            val end = payload.indexOf(0.toByte)
            if (new String(payload, 0, end, UTF_8) == "integer_datetimes")
              integerDatetimes =
                new String(payload, end + 1, payload.length - end - 2, UTF_8)
          case 'K' | 'N' => () // cancel key, notices
          case 'Z' => ready = true
          case 'E' => throw pgError(payload)
          case other =>
            throw new IllegalStateException(
              s"pgwire: unexpected startup message '${other.toChar}'")
        }
      }
      // binary timestamps are int64 microseconds only under this setting
      if (integerDatetimes != "on") {
        socket.close()
        throw new IllegalStateException(
          s"pgwire: server integer_datetimes is $integerDatetimes, not on")
      }
    }

    private def payload(len: Int): Array[Byte] = {
      val b = new Array[Byte](len)
      in.readFully(b)
      b
    }

    private def readMessage(): (Char, Array[Byte]) = {
      val tpe = in.readByte().toChar
      (tpe, payload(in.readInt() - 4))
    }

    private def pgError(payload: Array[Byte]): RuntimeException = {
      // ErrorResponse: repeated (Byte1 code, CString value), final \0
      val fields = scala.collection.mutable.Map[Char, String]()
      var i = 0
      while (i < payload.length && payload(i) != 0) {
        val code = payload(i).toChar
        val end = payload.indexOf(0.toByte, i + 1)
        fields(code) = new String(payload, i + 1, end - i - 1, UTF_8)
        i = end + 1
      }
      new ServerError("pgwire: " + fields.getOrElse('S', "ERROR") + ": " +
        fields.getOrElse('M', "(no message)"))
    }

    private def sendQuery(sql: String): Unit = {
      val body = cstr(sql)
      out.writeByte('Q')
      out.writeInt(4 + body.length)
      out.write(body)
      out.flush()
    }

    /** Run a command (DDL/DML), discard result rows, throw on error. */
    def exec(sql: String): Unit = {
      sendQuery(sql)
      var err: RuntimeException = null
      var done = false
      while (!done) {
        val (tpe, payload) = readMessage()
        tpe match {
          case 'Z' => done = true
          case 'E' => err = pgError(payload)
          case _ => () // 'T'/'D'/'C'/'N'/... — drained
        }
      }
      if (err != null) throw err
    }

    /** Column (name, type OID) pairs off a RowDescription — issued as a
      * `LIMIT 0` so no rows cross the wire. */
    def describe(sql: String): Seq[(String, Int)] = {
      sendQuery(s"SELECT * FROM ($sql) _g LIMIT 0")
      var cols: Seq[(String, Int)] = Nil
      var err: RuntimeException = null
      var done = false
      while (!done) {
        val (tpe, payload) = readMessage()
        tpe match {
          case 'T' =>
            val bb = java.nio.ByteBuffer.wrap(payload)
            val n = bb.getShort.toInt
            cols = (0 until n).map { _ =>
              val sb = new StringBuilder
              var b = bb.get()
              while (b != 0) { sb.append(b.toChar); b = bb.get() }
              bb.getInt; bb.getShort // table oid, attnum
              val typeOid = bb.getInt
              bb.getShort; bb.getInt; bb.getShort // typlen, typmod, fmt
              (sb.toString, typeOid)
            }
          case 'Z' => done = true
          case 'E' => err = pgError(payload)
          case _ => ()
        }
      }
      if (err != null) throw err
      cols
    }

    /** One scalar text value (first row, first column; null-safe). */
    def scalar(sql: String): Option[String] = {
      sendQuery(sql)
      var v: Option[String] = None
      var first = true
      var err: RuntimeException = null
      var done = false
      while (!done) {
        val (tpe, payload) = readMessage()
        tpe match {
          case 'D' if first =>
            first = false
            val bb = java.nio.ByteBuffer.wrap(payload)
            bb.getShort // field count
            val len = bb.getInt
            if (len >= 0) {
              val b = new Array[Byte](len)
              bb.get(b)
              v = Some(new String(b, UTF_8))
            }
          case 'Z' => done = true
          case 'E' => err = pgError(payload)
          case _ => ()
        }
      }
      if (err != null) throw err
      v
    }

    /** Send `COPY (sql) TO STDOUT (FORMAT binary)` and return its CopyData
      * payloads as a [[CopyFeed]]. The feed must be read to its end: that
      * drains the protocol through ReadyForQuery. A server error is thrown
      * as a [[ServerError]] once ReadyForQuery has arrived. */
    def copyBinary(sql: String): CopyFeed = {
      sendQuery(s"COPY ($sql) TO STDOUT (FORMAT binary)")
      new CopyFeed {
        private var finished = false
        def nextLength(): Int = {
          var len = -1
          var err: RuntimeException = null
          while (len < 0 && !finished) {
            val tpe = in.readByte().toChar
            val n = in.readInt() - 4
            tpe match {
              case 'd' => len = n
              case 'Z' => in.skipNBytes(n); finished = true
              case 'E' => err = pgError(payload(n))
              // CopyOutResponse, CopyDone, CommandComplete, and the
              // asynchronous notice, parameter and notification messages
              case 'H' | 'c' | 'C' | 'N' | 'S' | 'A' => in.skipNBytes(n)
              case other => throw new IllegalStateException(
                s"pgwire: unexpected COPY message '$other'")
            }
          }
          if (err != null) throw err
          len
        }
        def read(dst: Array[Byte], off: Int, len: Int): Unit =
          in.readFully(dst, off, len)
      }
    }

    // idempotent: the executor scan closes BOTH eagerly (iterator
    // exhaustion) and unconditionally (task-completion listener) — the
    // second call must be a no-op, never a double-Terminate
    private var closed = false
    override def close(): Unit = if (!closed) {
      closed = true
      try {
        out.writeByte('X'); out.writeInt(4); out.flush() // Terminate
      } catch { case _: Throwable => () }
      socket.close()
    }
  }

  // ----------------------------------------------- binary COPY decoding

  /** A server ErrorResponse, as `pgwire: SEVERITY: message`. */
  final class ServerError(msg: String, cause: Throwable = null)
      extends RuntimeException(msg, cause)

  /** The CopyData payloads of one COPY TO stream, in order. Payload
    * boundaries carry no meaning: a tuple may span several payloads. */
  private[graft] trait CopyFeed {
    /** Byte length of the next payload, or -1 after the last one. */
    def nextLength(): Int
    /** Read the payload [[nextLength]] announced into `dst(off until off + len)`. */
    def read(dst: Array[Byte], off: Int, len: Int): Unit
  }

  /** The decode kind of a declared type: the index of its server-side
    * cast in [[WireTypes]], the binary layout [[BinaryRows]] reads. */
  private def wireKind(dt: DataType): Int = dt match {
    case BooleanType => 0
    case IntegerType => 1
    case LongType => 2
    case DoubleType => 3
    case StringType => 4
    case BinaryType => 5
    case TimestampNTZType => 6
    case other =>
      throw new IllegalArgumentException(
        s"Type not supported: $other") // the closed VerA vocabulary
  }

  private val WireTypes =
    Array("bool", "int4", "int8", "float8", "text", "bytea", "timestamp")

  /** Postgres timestamps count microseconds from 2000-01-01 00:00. */
  private val PgEpochMicros = 946684800L * 1000000L

  /** `PGCOPY\n\377\r\n\0`, the first 11 bytes of every binary COPY stream. */
  private val Signature =
    "PGCOPY\n".getBytes(UTF_8) ++ Array[Byte](-1, 13, 10, 0)

  /** The rows of one binary COPY stream (`PGCOPY` signature, flags and
    * header extension; tuples; the int16 -1 trailer), decoded by DECLARED
    * Spark type straight from the payload bytes: text is one UTF-8 decode
    * with no escapes, bytea a copy, integers and float8 big-endian reads,
    * bool one byte, timestamp int64 microseconds. Each column must arrive
    * in its [[WireTypes]] layout. Every malformed-stream error names
    * `table`, and the column where there is one. */
  private[graft] final class BinaryRows(
      table: String, schema: StructType, feed: CopyFeed) extends Iterator[Row] {
    private val names = schema.fieldNames
    private val kinds = schema.fields.map(f => wireKind(f.dataType))
    private var buf = new Array[Byte](1 << 16)
    private var pos = 0
    private var lim = 0
    private var pending: Row = null
    private var done = false

    private def fail(msg: String): Nothing =
      throw new IllegalStateException(s"pgwire: $table: $msg")

    /** Make `n` bytes readable at `pos`, appending payloads from the feed. */
    private def need(n: Int, what: => String): Unit = if (lim - pos < n) {
      System.arraycopy(buf, pos, buf, 0, lim - pos)
      lim -= pos
      pos = 0
      while (lim < n) {
        val len = feed.nextLength()
        if (len < 0) fail(s"COPY stream ends inside $what")
        if (lim + len > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, lim + len))
        feed.read(buf, lim, len)
        lim += len
      }
    }

    private def int32At(p: Int): Int =
      (buf(p) << 24) | ((buf(p + 1) & 0xff) << 16) |
        ((buf(p + 2) & 0xff) << 8) | (buf(p + 3) & 0xff)

    private def int64At(p: Int): Long =
      (int32At(p).toLong << 32) | (int32At(p + 4) & 0xffffffffL)

    private def int32(): Int = { pos += 4; int32At(pos - 4) }

    locally { // the header
      need(Signature.length + 8, "the header")
      if (!java.util.Arrays.equals(buf, 0, Signature.length, Signature, 0, Signature.length))
        fail("not a binary COPY stream (bad PGCOPY signature)")
      pos = Signature.length
      // flags bits 16-31 are critical (bit 16: OIDs included); none is asked for
      val flags = int32()
      if ((flags >>> 16) != 0) fail(f"unsupported binary COPY flags 0x$flags%08x")
      val extension = int32()
      if (extension < 0) fail(s"header extension length $extension")
      need(extension, "the header extension")
      pos += extension
    }

    private def readTuple(): Row = {
      need(2, "a tuple header")
      val nf = ((buf(pos) << 8) | (buf(pos + 1) & 0xff)).toShort.toInt
      pos += 2
      if (nf == -1) {
        // the trailer ends the data; the feed must end with it
        var more = lim - pos
        while (more == 0) more = feed.nextLength()
        if (more > 0) fail("data after the COPY trailer")
        done = true
        return null
      }
      if (nf != kinds.length)
        fail(s"tuple has $nf fields, expected ${kinds.length} (${names.mkString(", ")})")
      val values = new Array[Any](nf)
      var i = 0
      while (i < nf) {
        need(4, s"column ${names(i)}")
        val len = int32()
        if (len >= 0) {
          need(len, s"column ${names(i)}")
          values(i) = decode(i, len)
          pos += len
        } else if (len != -1) fail(s"column ${names(i)}: field length $len")
        i += 1
      }
      Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(values))
    }

    /** The value of column `i` from its `len` bytes at `pos`. */
    private def decode(i: Int, len: Int): Any = {
      def width(w: Int): Unit = if (len != w)
        fail(s"column ${names(i)}: $len bytes for a ${schema(i).dataType.simpleString}")
      kinds(i) match { // wireKind's numbering
        case 0 => width(1); buf(pos) != 0
        case 1 => width(4); int32At(pos)
        case 2 => width(8); int64At(pos)
        case 3 => width(8); java.lang.Double.longBitsToDouble(int64At(pos))
        case 4 => new String(buf, pos, len, UTF_8)
        case 5 => java.util.Arrays.copyOfRange(buf, pos, pos + len)
        case _ =>
          width(8)
          val us = int64At(pos)
          if (us == Long.MaxValue || us == Long.MinValue)
            fail(s"column ${names(i)}: timestamp " +
              s"${if (us > 0) "infinity" else "-infinity"} has no NTZ value")
          val epochUs = us + PgEpochMicros
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(epochUs, 1000000L),
            Math.floorMod(epochUs, 1000000L).toInt * 1000,
            java.time.ZoneOffset.UTC)
      }
    }

    def hasNext: Boolean = {
      if (pending == null && !done) pending = readTuple()
      pending != null
    }

    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      r
    }
  }

  // ------------------------------------------------------- Spark source

  /** Range-partitioned parallel scan — the [[Jdbc.scan]] twin over the
    * wire protocol. Partition predicates mirror Spark's JDBC source:
    * stride slices of [lowerBound, upperBound), first slice taking
    * everything below (and NULL keys), last everything above. OFFSET
    * (S2) wraps the relation exactly like the JDBC leg's subquery.
    */
  def scan(
      spark: SparkSession,
      host: String, port: Int, db: String, dbUser: String,
      schemaName: String,
      cfg: TableConfig,
      partitionColumn: Option[String] = None,
      lowerBound: Long = 0L,
      upperBound: Long = 0L,
      numPartitions: Int = 1,
      offset: Option[Long] = None): DataFrame = {
    val relation = offset match {
      case Some(n) =>
        s"(SELECT * FROM $schemaName.${cfg.name} OFFSET $n) _o"
      case None => s"$schemaName.${cfg.name}"
    }
    // Postgres does every conversion: each column arrives in the binary
    // layout of its declared type
    val colList = cfg.schema.fields
      .map(f => s"${f.name}::${WireTypes(wireKind(f.dataType))} AS ${f.name}")
      .mkString(", ")
    val preds: Seq[Option[String]] = partitionColumn match {
      case Some(c) if numPartitions > 1 && upperBound > lowerBound =>
        val stride = math.max(1L, (upperBound - lowerBound) / numPartitions)
        (0 until numPartitions).map { i =>
          val lo = lowerBound + i * stride
          val hi = lowerBound + (i + 1) * stride
          if (i == 0) Some(s"$c < $hi OR $c IS NULL")
          else if (i == numPartitions - 1) Some(s"$c >= $lo")
          else Some(s"$c >= $lo AND $c < $hi")
        }
      case _ => Seq(None)
    }
    val table = cfg.name
    val schema = cfg.schema
    val rdd = spark.sparkContext
      .parallelize(preds, math.max(1, preds.size))
      .mapPartitions { it =>
        it.flatMap { pred =>
          val sql = s"SELECT $colList FROM $relation" + pred.fold("")(p => s" WHERE $p")
          // a server error names the table and the slice it broke
          def inSlice[T](body: => T): T =
            try body catch {
              case e: ServerError => throw new ServerError(
                s"pgwire: $table, slice ${pred.getOrElse("(whole table)")}: " +
                  e.getMessage.stripPrefix("pgwire: "), e)
            }
          val conn = new Conn(host, port, db, dbUser)
          // r20 (r19 ADVICE): full-consumption close alone leaks the
          // socket when Spark stops pulling early (limit/take, task kill,
          // a decode exception mid-stream) — a task-completion listener
          // closes unconditionally on success, failure, AND interruption;
          // the eager close below still releases the socket at exhaustion
          // without waiting for task end (close is idempotent)
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ => conn.close()))
          val rows = inSlice(new BinaryRows(table, schema, conn.copyBinary(sql)))
          new Iterator[Row] {
            def hasNext: Boolean = {
              val h = inSlice(rows.hasNext)
              if (!h) conn.close()
              h
            }
            def next(): Row = inSlice(rows.next())
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Driver-side MIN/MAX of a partition column (the bounds [[scan]]
    * needs), one tiny aggregate query — never a row scan. */
  def bounds(host: String, port: Int, db: String, dbUser: String,
      schemaName: String, table: String, column: String): (Long, Long) = {
    val conn = new Conn(host, port, db, dbUser)
    try {
      val lo = conn.scalar(
        s"SELECT min($column)::text FROM $schemaName.$table")
      val hi = conn.scalar(
        s"SELECT max($column)::text FROM $schemaName.$table")
      (lo.map(_.toLong).getOrElse(0L), hi.map(_.toLong).getOrElse(0L))
    } finally conn.close()
  }
}
