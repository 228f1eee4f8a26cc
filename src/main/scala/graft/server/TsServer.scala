package graft.server

import java.io.{InputStream, OutputStream}
import java.net.{ServerSocket, Socket}

import graft.catalog.TsCatalog
import graft.engine.{ExecResult, StatementExecutor}
import graft.protocol.{Wire, WireResponse}

/** TCP front-end over the statement executor — the Spark-native analog
  * of the reference server loop (src/server.c:160-266): accept
  * connections, decode `$<len>\r\n<query>\r\n` requests, execute, and
  * answer in the text protocol (string `$`/`!`, array `#`, stream `~`).
  *
  * Differences from the reference, by design:
  *  - a thread per connection instead of a single-threaded select()
  *    loop — Spark's driver schedules concurrent jobs safely, and each
  *    connection carries its own [[graft.engine.TsSession]] so one
  *    client's `USE` cannot redirect another client's statements (the
  *    reference's process-global active db is safe only because its
  *    select() loop runs one statement at a time);
  *  - results with more than one 1000-record batch stream as `~` chunks
  *    (the reference streams full scans the same way,
  *    src/statement_execute.c:332, batch bound src/timeseries.c:1040);
  *    anything that fits one batch answers as a `#` array;
  *  - rows never materialize on the driver beyond the current batch
  *    (`toLocalIterator`), so an arbitrarily large scan streams in
  *    bounded memory; answers already on the driver (aggregates, and
  *    scans and `latest` inside the driver-row bound) are read back
  *    with no job ([[ExecResult.rowIterator]]);
  *  - protocol records are strictly (timestamp, value) pairs
  *    (reference src/encoding.c:125-159 has no wider record), so
  *    SAMPLE BY results serialize their first two columns
  *    (sample_ts, aggregate) and drop n_points on the wire — the
  *    interactive `cli.Repl` renders it, the protocol cannot.
  */
final class TsServer(exec: StatementExecutor, port: Int = 0) {

  private val server = new ServerSocket(port)
  @volatile private var running = true

  /** Actual bound port (useful with port = 0 → ephemeral). */
  def boundPort: Int = server.getLocalPort

  private val acceptThread = new Thread(() => acceptLoop(), "graft-server-accept")
  acceptThread.setDaemon(true)

  def start(): TsServer = { acceptThread.start(); this }

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: java.io.IOException => () }
  }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), "graft-server-conn")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: java.io.IOException => if (!running) return
      }
    }

  /** Counts bytes written, so an execution failure can tell whether a
    * response frame already started (in which case an error frame
    * would corrupt the stream and closing is the only safe move). */
  private final class CountingOutputStream(inner: OutputStream)
      extends java.io.FilterOutputStream(inner) {
    var count: Long = 0L
    override def write(b: Int): Unit = { inner.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      inner.write(b, off, len); count += len
    }
  }

  private def handle(sock: Socket): Unit = {
    val in = new java.io.BufferedInputStream(sock.getInputStream)
    val out = new CountingOutputStream(
      new java.io.BufferedOutputStream(sock.getOutputStream))
    // per-connection session: this client's USE/CREATEDB set ITS active
    // db only — concurrent clients never observe each other's state
    val session = new graft.engine.TsSession
    try {
      var open = true
      while (open) readRequestBytes(in) match {
        case None => open = false // client closed
        case Some(raw) =>
          Wire.decodeRequest(raw) match {
            case Left(err) =>
              // a malformed frame means the byte stream can no longer
              // be framed reliably — answer the error and close
              send(out, WireResponse.Str(1, s"bad request: $err"))
              open = false
            case Right((query, _)) =>
              // execution-time failures (Spark job errors inside the
              // collect, non-numeric values, render errors) must answer
              // like the reference's per-statement error string, not
              // drop the connection silently
              val before = out.count
              // per-STATEMENT escaped-cache scope: any operator that
              // persists an escaping intermediate during this
              // statement registers in a scope released right after
              // the response is written — one client's cleanup can
              // never evict another in-flight statement's caches
              // (graft.core.EscapedCaches scoping; the tsql surface
              // has no such operator today, so this is
              // correct-by-construction wiring for the ones that do).
              // A THROWING statement is covered too: scoped() releases
              // its own scope on the exception path before rethrowing,
              // so failing statements cannot orphan cache blocks
              try {
                val (_, scope) = graft.core.EscapedCaches.scoped(
                  respond(out, exec.executeSql(query, session)))
                scope.release()
              }
              catch {
                case scala.util.control.NonFatal(e) =>
                  if (out.count == before) {
                    // Spark exception texts routinely exceed the frame
                    // bound (they embed plan fragments) — truncate so
                    // the client still sees the leading cause instead
                    // of a generic encode failure. The bound is UTF-8
                    // BYTES (the wire limit), not chars: multi-byte
                    // text at a char bound could still overflow.
                    var msg = "execution error: " +
                      Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
                    while (msg.getBytes("UTF-8").length > Wire.MaxQuerySize - 16)
                      msg = msg.take(msg.length - math.max(1, msg.length / 8))
                    send(out, WireResponse.Str(1, msg))
                  }
                  // mid-stream failure: the peer's framing is already
                  // broken — close so it sees EOF instead of a hang
                  open = false
              }
          }
          out.flush()
      }
    } catch {
      case _: java.io.IOException => () // connection dropped
    } finally {
      try sock.close() catch { case _: java.io.IOException => () }
    }
  }

  /** Read one framed request off the socket: the `$<len>\r\n` header
    * byte-by-byte, then exactly len + CRLF payload bytes. Returns the
    * raw frame (validated by Wire.decodeRequest) or None on EOF.
    * A malformed header (no digits) is returned as-is so decoding
    * produces the protocol error instead of hanging. */
  private def readRequestBytes(in: InputStream): Option[Array[Byte]] = {
    val header = new scala.collection.mutable.ArrayBuffer[Byte]
    val first = in.read()
    if (first < 0) return None
    header += first.toByte
    var prev = -1
    var done = false
    while (!done) {
      val b = in.read()
      if (b < 0) return None
      header += b.toByte
      if (prev == '\r' && b == '\n') done = true
      prev = b
      if (header.length > 32) return Some(header.toArray) // runaway header
    }
    val lenText = new String(header.toArray, 1, header.length - 3, "US-ASCII")
    val len = try lenText.toInt catch {
      case _: NumberFormatException => return Some(header.toArray)
    }
    if (len < 0 || len >= Wire.MaxQuerySize) return Some(header.toArray)
    val rest = new Array[Byte](len + 2)
    var off = 0
    while (off < rest.length) {
      val n = in.read(rest, off, rest.length - off)
      if (n < 0) return None
      off += n
    }
    Some(header.toArray ++ rest)
  }

  private def send(out: OutputStream, r: WireResponse): Unit =
    Wire.encodeResponse(r) match {
      case Right(bytes) => out.write(bytes)
      case Left(err) =>
        Wire.encodeResponse(WireResponse.Str(1, s"encode error: $err"))
          .foreach(out.write)
    }

  private def rowsToRecords(rows: Iterator[org.apache.spark.sql.Row],
      max: Int): Seq[(Long, Double)] = {
    val b = Seq.newBuilder[(Long, Double)]
    var i = 0
    while (i < max && rows.hasNext) {
      val r = rows.next()
      val v = r.get(1) match {
        case d: Double => d
        case n: Number => n.doubleValue()
        case other => sys.error(s"non-numeric value column: $other")
      }
      b += ((r.getLong(0), v))
      i += 1
    }
    b.result()
  }

  private def respond(out: OutputStream, res: ExecResult): Unit = res match {
    case ExecResult.Ack(msg) => send(out, WireResponse.Str(0, msg))
    case ExecResult.Err(code, msg) => send(out, WireResponse.Str(1, s"$code: $msg"))
    case ExecResult.Listing(names) =>
      send(out, WireResponse.Str(0, names.mkString(" ")))
    case ExecResult.Scalar(df) =>
      // scalar results (avg) have no (ts, value) shape — answer as a
      // string of the single row's fields (the reference stubs avg, so
      // there is no wire precedent to mirror)
      send(out, WireResponse.Str(0, df.collect()(0).toSeq.mkString(" ")))
    case ExecResult.Rows(df) =>
      val it = ExecResult.rowIterator(df)
      val first = rowsToRecords(it, Wire.StreamBatchSize)
      if (!it.hasNext) send(out, WireResponse.Arr(first))
      else {
        send(out, WireResponse.StreamChunk(first, isFinal = false))
        out.flush() // batches reach the client as they are produced
        while (it.hasNext) {
          val batch = rowsToRecords(it, Wire.StreamBatchSize)
          send(out, WireResponse.StreamChunk(batch, isFinal = !it.hasNext))
          out.flush()
        }
      }
  }
}

/** Standalone server entry point.
  * Run: sbt "runMain graft.server.ServerMain [port] [catalogRoot]" */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(6767)
    val root = args.lift(1).getOrElse(
      sys.props("java.io.tmpdir") + "/graft_server_catalog")
    val spark = graft.core.GraftSession.build("graft-server")
    spark.sparkContext.setLogLevel("ERROR")
    val server = new TsServer(
      new StatementExecutor(spark, new TsCatalog(spark, root)), port).start()
    println(s"graft server listening on ${server.boundPort}, catalog at $root")
    Thread.currentThread().join() // serve until killed
  }
}
