package graft

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.types._

/** PostgreSQL wire-protocol entry point — the reference's second front door
  * (reference: src/lib/server/server.hpp:32 listener; per-connection handler
  * src/lib/server/postgres_protocol_handler.hpp:28; message catalogue
  * postgres_message_type.hpp; row serialization result_serializer.cpp). One
  * session per connection, every statement dispatched through the SAME
  * [[Pipeline]] as the [[Console]].
  *
  * Implements protocol 3.0's SIMPLE and EXTENDED query flows — both flows the
  * reference's handler serves (postgres_protocol_handler.hpp:28,
  * query_handler.cpp): Startup/SSLRequest negotiation, AuthenticationOk
  * (trust), ParameterStatus, BackendKeyData, then either
  * Query → RowDescription + DataRow* + CommandComplete + ReadyForQuery, or
  * Parse → Bind ($n text parameters substituted as quoted literals, the
  * reference's placeholder binding: prepared_plan.hpp) → Describe →
  * Execute → Sync. Per-statement ErrorResponse keeps the session alive;
  * after an extended-flow error, messages are discarded until Sync (the
  * protocol's error-recovery rule). Transaction status ('I' idle / 'T' in
  * transaction) reports the pipeline's BEGIN/COMMIT/ROLLBACK state.
  *
  * Result values travel in text format (format code 0) by default; the
  * extended flow also honours Bind's RESULT format codes (format 1 = binary)
  * with the standard binary encodings — int2/int4/int8 big-endian, float4/
  * float8 IEEE, bool single byte, date as days since 2000-01-01, timestamp as
  * microseconds since 2000-01-01, numeric in base-10000 digit groups — the
  * same wire forms libpq's binary cursors and JDBC's binary transfer expect
  * (reference serializes text-only: result_serializer.cpp; binary is the
  * beyond-ref half of the protocol). Binary PARAMETERS are explicitly
  * rejected (Parse discards param type OIDs, so binary params cannot be
  * decoded — text params cover every client we drive). Result fetches are
  * BOUNDED: each result is read with `limit(maxRows + 1)`, so the driver
  * materializes at most `maxRows + 1` rows and the extra row only tells that
  * the result was cut; oversized results close with a NOTICE-equivalent
  * suffix in the command tag (the client still gets well-formed frames).
  */
final class PgServer(makePipeline: () => Pipeline, port: Int = 0, maxRows: Int = 10000) {

  private val running = new AtomicBoolean(false)
  @volatile private var socket: ServerSocket = _

  // CancelRequest registry: backend pid -> (secret, cancel action). A cancel
  // arrives on a NEW connection carrying the pid+secret from BackendKeyData;
  // the action cancels the backend's Spark job group (interrupt-on-cancel),
  // so the in-flight collect aborts and the session answers with an ERROR
  // frame then recovers — postgres semantics.
  private val pidGen = new java.util.concurrent.atomic.AtomicInteger(1)
  // one shared daemon scheduler for the statement governor — a Timer per
  // governed statement would create/destroy a full thread on the hot path
  private val governor = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
    (r: Runnable) => { val t = new Thread(r, "graft-pg-governor"); t.setDaemon(true); t })
  private val rng = new java.security.SecureRandom()
  private val backends =
    scala.collection.concurrent.TrieMap.empty[Int, (Int, () => Unit)]

  def start(): Int = {
    socket = new ServerSocket(port)
    running.set(true)
    val acceptor = new Thread(() => {
      while (running.get()) {
        try {
          val client = socket.accept()
          val t = new Thread(() => try serve(client) catch { case _: Throwable => () }
            finally client.close(), "graft-pg-conn")
          t.setDaemon(true)
          t.start()
        } catch { case _: SocketException => () }
      }
    }, "graft-pg-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    socket.getLocalPort
  }

  def stop(): Unit = {
    running.set(false)
    if (socket != null) socket.close()
  }

  // ------------------------------------------------------------ frame output

  private def msg(out: DataOutputStream, tpe: Char)(body: DataOutputStream => Unit): Unit = {
    val buf = new java.io.ByteArrayOutputStream()
    body(new DataOutputStream(buf))
    out.writeByte(tpe)
    out.writeInt(4 + buf.size())
    buf.writeTo(out)
  }

  private def cstr(o: DataOutputStream, s: String): Unit = { o.write(s.getBytes(UTF_8)); o.writeByte(0) }

  /** PostgreSQL type OIDs for the text-format row description (pg_type.dat). */
  private def typeOid(dt: DataType): Int = dt match {
    case BooleanType => 16
    case ShortType => 21
    case IntegerType => 23
    case LongType => 20
    case FloatType => 700
    case DoubleType => 701
    case _: DecimalType => 1700
    case DateType => 1082
    case TimestampType => 1114
    case _ => 25 // text
  }

  private def sendError(out: DataOutputStream, message: String): Unit =
    msg(out, 'E') { o =>
      o.writeByte('S'); cstr(o, "ERROR")
      o.writeByte('C'); cstr(o, "XX000")
      o.writeByte('M'); cstr(o, message.replaceAll("\\R", " ").take(500))
      o.writeByte(0)
    }

  private def sendReady(out: DataOutputStream, p: Pipeline): Unit = {
    msg(out, 'Z')(_.writeByte(if (p.inTransaction) 'T' else 'I'))
    out.flush()
  }

  /** Resolve Bind's result-format list against a column count (protocol rule:
    * empty = all text, one entry = applies to every column, else per-column). */
  private def resolveFormats(fmts: Seq[Int], nCols: Int): IndexedSeq[Int] =
    fmts match {
      case Seq()  => IndexedSeq.fill(nCols)(0)
      case Seq(f) => IndexedSeq.fill(nCols)(f)
      case many   => (0 until nCols).map(i => if (i < many.length) many(i) else 0)
    }

  private def sendRowDescription(out: DataOutputStream, schema: StructType,
                                 fmts: Seq[Int] = Nil): Unit = {
    val resolved = resolveFormats(fmts, schema.length)
    msg(out, 'T') { o =>
      o.writeShort(schema.length)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        cstr(o, f.name)
        o.writeInt(0)               // table oid
        o.writeShort(0)             // attribute number
        o.writeInt(typeOid(f.dataType))
        o.writeShort(-1)            // typlen (variable)
        o.writeInt(-1)              // typmod
        // binary only where we truly encode binary — else declare text
        o.writeShort(if (resolved(i) == 1 && binaryEncodable(f.dataType)) 1 else 0)
      }
    }
  }

  /** Days between the PG epoch (2000-01-01) and the Unix epoch. */
  private val PgEpochDays = 10957L
  /** Microseconds between the PG epoch and the Unix epoch. */
  private val PgEpochMicros = 946684800000000L

  private def binaryEncodable(dt: DataType): Boolean = dt match {
    case BooleanType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | _: DecimalType | StringType => true
    case _ => false // arrays/structs/maps keep their text rendering
  }

  /** NUMERIC binary form (pg_type 1700): i16 ndigits, i16 weight, i16 sign
    * (0x0000 +, 0x4000 -), i16 dscale, then base-10000 digit groups aligned
    * at the decimal point — value = Σ digits(i) · 10000^(weight−i). */
  private[graft] def numericBytes(bd0: java.math.BigDecimal): Array[Byte] = {
    val neg = bd0.signum() < 0
    val bd = bd0.abs()
    val dscale = math.max(0, bd0.scale())
    val plain = bd.toPlainString
    val dot = plain.indexOf('.')
    val (intPart0, fracPart0) = if (dot < 0) (plain, "") else (plain.take(dot), plain.drop(dot + 1))
    val intPart = "0" * ((4 - intPart0.length % 4) % 4) + intPart0
    val fracPart = fracPart0 + "0" * ((4 - fracPart0.length % 4) % 4)
    var groups = (intPart + fracPart).grouped(4).map(_.toInt).toVector
    var weight = intPart.length / 4 - 1
    while (groups.headOption.contains(0) && groups.length > 1) { groups = groups.tail; weight -= 1 }
    while (groups.lastOption.contains(0) && groups.length > 1) groups = groups.init
    if (groups == Vector(0)) { groups = Vector.empty; weight = 0 }
    val b = java.nio.ByteBuffer.allocate(8 + 2 * groups.length)
    b.putShort(groups.length.toShort)
    b.putShort(weight.toShort)
    b.putShort(if (neg) 0x4000.toShort else 0.toShort)
    b.putShort(dscale.toShort)
    groups.foreach(g => b.putShort(g.toShort))
    b.array()
  }

  /** The standard binary wire form of one non-null value. */
  private def binValue(dt: DataType, v: Any): Array[Byte] = (dt, v) match {
    case (BooleanType, x: java.lang.Boolean) => Array[Byte](if (x) 1 else 0)
    case (ShortType, x: java.lang.Short) =>
      java.nio.ByteBuffer.allocate(2).putShort(x).array()
    case (IntegerType, x: java.lang.Integer) =>
      java.nio.ByteBuffer.allocate(4).putInt(x).array()
    case (LongType, x: java.lang.Long) =>
      java.nio.ByteBuffer.allocate(8).putLong(x).array()
    case (FloatType, x: java.lang.Float) =>
      java.nio.ByteBuffer.allocate(4).putFloat(x).array()
    case (DoubleType, x: java.lang.Double) =>
      java.nio.ByteBuffer.allocate(8).putDouble(x).array()
    case (DateType, d: java.sql.Date) =>
      java.nio.ByteBuffer.allocate(4).putInt((d.toLocalDate.toEpochDay - PgEpochDays).toInt).array()
    case (DateType, d: java.time.LocalDate) =>
      java.nio.ByteBuffer.allocate(4).putInt((d.toEpochDay - PgEpochDays).toInt).array()
    case (TimestampType, t: java.sql.Timestamp) =>
      // getTime already folds in the whole milliseconds of getNanos — rebuild
      // from the seconds part + full nano field to avoid double counting
      val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      java.nio.ByteBuffer.allocate(8).putLong(micros - PgEpochMicros).array()
    case (TimestampType, t: java.time.Instant) =>
      val micros = t.getEpochSecond * 1000000L + t.getNano / 1000L
      java.nio.ByteBuffer.allocate(8).putLong(micros - PgEpochMicros).array()
    case (_: DecimalType, x: java.math.BigDecimal) => numericBytes(x)
    case (_: DecimalType, x: scala.math.BigDecimal) => numericBytes(x.bigDecimal)
    case _ => String.valueOf(v).getBytes(UTF_8) // StringType & anything declared text
  }

  private def sendDataRow(out: DataOutputStream, row: org.apache.spark.sql.Row,
                          schema: StructType = null, fmts: Seq[Int] = Nil): Unit = {
    val resolved = if (fmts.isEmpty || schema == null) null else resolveFormats(fmts, row.length)
    msg(out, 'D') { o =>
      o.writeShort(row.length)
      (0 until row.length).foreach { i =>
        if (row.isNullAt(i)) o.writeInt(-1)
        else {
          val dt = if (schema == null) null else schema(i).dataType
          val bytes =
            if (resolved != null && resolved(i) == 1 && binaryEncodable(dt))
              binValue(dt, row.get(i))
            else String.valueOf(row.get(i)).getBytes(UTF_8)
          o.writeInt(bytes.length)
          o.write(bytes)
        }
      }
    }
  }

  private def sendComplete(out: DataOutputStream, tag: String): Unit =
    msg(out, 'C')(cstr(_, tag))

  // --------------------------------------------------------------- sessions

  private def serve(client: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(client.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(client.getOutputStream))

    // startup negotiation: answer SSL/GSS probes with 'N' until StartupMessage
    var started = false
    while (!started) {
      val len = in.readInt()
      val code = in.readInt()
      code match {
        case 80877103 | 80877104 => out.writeByte('N'); out.flush() // no SSL / no GSS
        case 80877102 => // CancelRequest: pid + secret, then close (no response)
          val pid = in.readInt(); val secret = in.readInt()
          backends.get(pid).filter(_._1 == secret).foreach(_._2())
          return
        case 196608 => // protocol 3.0: key/value parameters (user/database) ignored
          val rest = new Array[Byte](len - 8); in.readFully(rest); started = true
        case other => sendError(out, s"unsupported protocol code $other"); out.flush(); return
      }
    }

    val pipeline = makePipeline()
    val pid = pidGen.getAndIncrement()
    val secret = rng.nextInt()
    val sc = pipeline.catalog.spark.sparkContext
    val jobGroup = s"graft-pg-$pid"
    // every statement this connection runs executes on THIS thread — one
    // thread-local job group covers them all; cancel interrupts running tasks
    sc.setJobGroup(jobGroup, s"pgwire backend $pid", interruptOnCancel = true)
    backends.put(pid, (secret, () => sc.cancelJobGroup(jobGroup)))
    msg(out, 'R')(_.writeInt(0)) // AuthenticationOk (trust)
    msg(out, 'S') { o => cstr(o, "server_version"); cstr(o, "15.0 (graft)") }
    msg(out, 'S') { o => cstr(o, "client_encoding"); cstr(o, "UTF8") }
    msg(out, 'K') { o => o.writeInt(pid); o.writeInt(secret) } // BackendKeyData
    sendReady(out, pipeline)

    // extended-protocol session state (reference: prepared_plan.hpp storage)
    val statements = scala.collection.mutable.Map.empty[String, String] // name -> SQL with $n
    // name -> (bound SQL, result format codes from Bind)
    val portals = scala.collection.mutable.Map.empty[String, (String, Seq[Int])]
    var errorUntilSync = false // after an extended-flow error, discard until Sync

    try while (running.get()) {
      val tpe = in.read()
      if (tpe < 0) return
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      val t = tpe.toChar
      // statement governor: `spark.graft.statementTimeoutMs` (set via
      // UPDATE meta_settings) arms a timer that cancels this backend's job
      // group — a runaway statement aborts with an ERROR frame instead of
      // holding the connection forever.
      def governed[A](f: => A): A =
        pipeline.catalog.spark.conf.getOption("spark.graft.statementTimeoutMs")
          .map(_.toLong).filter(_ > 0) match {
          case None => f
          case Some(ms) =>
            val task = governor.schedule(new Runnable {
              def run(): Unit = sc.cancelJobGroup(jobGroup)
            }, ms, java.util.concurrent.TimeUnit.MILLISECONDS)
            try f finally task.cancel(false)
        }
      if (errorUntilSync && t != 'S' && t != 'X') () // protocol error recovery
      else t match {
        case 'Q' =>
          val sql = new String(body, 0, math.max(0, body.length - 1), UTF_8)
          governed(runScript(pipeline, sql, out))
          sendReady(out, pipeline)
        case 'P' => // Parse: name\0 query\0 nParamTypes (oid...)
          try {
            val b = reader(body)
            val name = b.cstring()
            val query = b.cstring()
            statements(name) = query
            msg(out, '1')(_ => ()) // ParseComplete
          } catch { case e: Throwable =>
            sendError(out, s"malformed Parse message: ${e.getClass.getSimpleName}")
            errorUntilSync = true
          }
        case 'B' => // Bind: portal\0 stmt\0 fmts params resultFmts
          try {
            val b = reader(body)
            val portal = b.cstring()
            val stmt = b.cstring()
            val nFmt = b.u16()
            val paramFmts = (0 until nFmt).map(_ => b.u16())
            if (paramFmts.contains(1))
              sys.error("binary-format parameters are not supported; send params as text")
            val nParams = b.u16()
            val params = (0 until nParams).map { _ =>
              val plen = b.i32()
              if (plen < 0) null else new String(b.bytes(plen), UTF_8)
            }
            val nRes = b.u16()
            val resFmts = (0 until nRes).map(_ => b.u16())
            val template = statements.getOrElse(stmt, sys.error(s"unknown statement '$stmt'"))
            portals(portal) = (bindParams(template, params), resFmts)
            msg(out, '2')(_ => ()) // BindComplete
          } catch { case e: Throwable =>
            sendError(out, String.valueOf(e.getMessage)); errorUntilSync = true
          }
        case 'D' => // Describe: 'S'|'P' + name
          try {
            val b = reader(body)
            val kind = b.u8().toChar
            val name = b.cstring()
            val (sql, fmts) =
              (if (kind == 'P') portals.get(name).map(p => (p._1, p._2))
               else statements.get(name).map((_, Seq.empty[Int])))
                .getOrElse(sys.error(s"unknown ${if (kind == 'P') "portal" else "statement"} '$name'"))
            describeSql(pipeline, sql) match {
              case Some(schema) => sendRowDescription(out, schema, fmts)
              case None => msg(out, 'n')(_ => ()) // NoData
            }
          } catch { case e: Throwable =>
            sendError(out, String.valueOf(e.getMessage)); errorUntilSync = true
          }
        case 'E' => // Execute: portal\0 maxRows i32 (0 = all, we cap regardless)
          try {
            val b = reader(body)
            val portal = b.cstring()
            val limit = b.i32()
            val (sql, fmts) = portals.getOrElse(portal, sys.error(s"unknown portal '$portal'"))
            governed(
              executePortal(pipeline, sql, if (limit > 0) math.min(limit, maxRows) else maxRows,
                out, fmts))
          } catch { case e: Throwable =>
            sendError(out, String.valueOf(e.getMessage)); errorUntilSync = true
          }
        case 'C' => // Close statement/portal
          val b = reader(body)
          val kind = b.u8().toChar
          val name = b.cstring()
          if (kind == 'P') portals.remove(name) else statements.remove(name)
          msg(out, '3')(_ => ()) // CloseComplete
        case 'H' => out.flush() // Flush
        case 'S' => // Sync: end of extended-flow batch
          errorUntilSync = false
          sendReady(out, pipeline)
        case 'X' => return // Terminate
        case other =>
          sendError(out, s"'$other' message not supported " +
            "(reference scope: postgres_protocol_handler.hpp simple+extended flows)")
          sendReady(out, pipeline)
      }
    } finally backends.remove(pid)
  }

  // ------------------------------------------------------- extended protocol

  private final class Reader(body: Array[Byte]) {
    private val b = java.nio.ByteBuffer.wrap(body)
    def cstring(): String = {
      val sb = new StringBuilder
      var c = b.get()
      while (c != 0) { sb += c.toChar; c = b.get() }
      sb.toString
    }
    def u8(): Int = b.get() & 0xff
    def u16(): Int = b.getShort() & 0xffff
    def i32(): Int = b.getInt()
    def bytes(n: Int): Array[Byte] = { val a = new Array[Byte](n); b.get(a); a }
  }
  private def reader(body: Array[Byte]) = new Reader(body)

  /** Substitute $1..$n with quoted text literals (params must arrive in text
    * format — Bind rejects format-code-1 params explicitly, since Parse
    * discards the param type OIDs needed to decode binary; Spark coerces
    * string literals in comparisons). NULL params become the NULL literal. */
  private def bindParams(template: String, params: Seq[String]): String =
    params.zipWithIndex.foldLeft(template) { case (sql, (v, i)) =>
      val lit = if (v == null) "NULL" else "'" + v.replace("'", "''") + "'"
      sql.replace(s"$$${i + 1}", lit)
    }

  /** Schema of a bound statement without executing it: only SELECT-shaped
    * statements have a row description (analysis is lazy — no job runs). */
  private def describeSql(pipeline: Pipeline, sql: String): Option[StructType] = {
    val head = sql.trim.split("\\s+").headOption.getOrElse("").toUpperCase
    if (head == "SELECT" || head == "WITH" || head == "VALUES")
      Some(pipeline.catalog.spark.sql(sql).schema)
    else None
  }

  private def executePortal(pipeline: Pipeline, sql: String, limit: Int, out: DataOutputStream,
                            fmts: Seq[Int] = Nil): Unit = {
    val results = pipeline.run(sql)
    results.foreach { r =>
      r.status match {
        case pipeline.Ok =>
          r.df.filter(_.columns.nonEmpty) match {
            case Some(df) =>
              val rows = df.limit(limit + 1).collect()
              val sent = if (rows.length > limit) rows.take(limit) else rows
              // extended flow: no RowDescription here (Describe already sent it)
              sent.foreach(sendDataRow(out, _, df.schema, fmts))
              if (rows.length > limit) msg(out, 's')(_ => ()) // PortalSuspended
              else sendComplete(out, commandTag(r.sql, sent.length.toLong))
            case None => sendComplete(out, commandTag(r.sql, 0L))
          }
        case pipeline.Failed(err) => sys.error(err)
      }
    }
  }

  private def commandTag(sql: String, rows: Long): String = {
    val head = sql.trim.split("\\s+").headOption.getOrElse("").toUpperCase
    head match {
      case "SELECT" | "WITH" | "EXECUTE" => s"SELECT $rows"
      case "INSERT" => "INSERT 0 0"
      case "" => "EMPTY"
      case other => other
    }
  }

  private def runScript(pipeline: Pipeline, sql: String, out: DataOutputStream): Unit = {
    val results =
      try pipeline.run(sql)
      catch { case e: Throwable => sendError(out, String.valueOf(e.getMessage)); return }
    if (results.isEmpty) msg(out, 'I')(_ => ()) // EmptyQueryResponse
    results.foreach { r =>
      r.status match {
        case pipeline.Ok =>
          r.df.filter(_.columns.nonEmpty) match {
            case Some(df) =>
              try {
                val rows = df.limit(maxRows + 1).collect()
                val sent = if (rows.length > maxRows) rows.take(maxRows) else rows
                sendRowDescription(out, df.schema)
                sent.foreach(sendDataRow(out, _))
                sendComplete(out, commandTag(r.sql, sent.length.toLong))
              } catch { case e: Throwable => sendError(out, String.valueOf(e.getMessage)) }
            case None => sendComplete(out, commandTag(r.sql, 0L))
          }
        case pipeline.Failed(err) => sendError(out, err)
      }
    }
  }
}
