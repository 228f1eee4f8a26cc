package graft.server

import java.net.Socket
import java.nio.file.Files

import org.apache.spark.graft.ListenerBridge.jobsOf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.catalog.TsCatalog
import graft.engine.{ErrCode, StatementExecutor}
import graft.protocol.{Wire, WireResponse}

/** End-to-end wire-protocol test: a real TCP client process boundary —
  * the server runs in its own threads, the client talks over a socket
  * with nothing shared but bytes (the in-JVM analog of the reference's
  * server + tcc client pair, src/server.c + src/tcc.c). */
class ServerSpec extends AnyFunSuite with BeforeAndAfterAll with GraftSpark {

  private val tmpRoot = Files.createTempDirectory("graft-server-spec").toString
  private lazy val catalog = new TsCatalog(spark, tmpRoot)
  private var server: TsServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = new TsServer(
      new StatementExecutor(spark, catalog), port = 0).start()
  }

  override def afterAll(): Unit = {
    server.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpRoot))
    super.afterAll()
  }

  /** Minimal protocol client: frame a query, read until one complete
    * response decodes (streams: until the final chunk). */
  private final class Client(port: Int = server.boundPort) {
    private val sock = new Socket("127.0.0.1", port)
    private val in = sock.getInputStream
    private val out = sock.getOutputStream
    private var buf = Array.emptyByteArray

    def sendRaw(bytes: Array[Byte]): Unit = { out.write(bytes); out.flush() }

    def send(query: String): Unit =
      sendRaw(Wire.encodeRequest(query).fold(e => fail(e), identity))

    private def readMore(): Unit = {
      val chunk = new Array[Byte](4096)
      val n = in.read(chunk)
      if (n < 0) fail("server closed connection mid-response")
      buf = buf ++ chunk.take(n)
    }

    def readResponse(): WireResponse = {
      var result: Option[(WireResponse, Int)] = None
      while (result.isEmpty) {
        Wire.decodeResponse(buf) match {
          case Right(ok) => result = Some(ok)
          case Left(_) => readMore()
        }
      }
      val (r, n) = result.get
      buf = buf.drop(n)
      r
    }

    /** Read a whole stream: concatenated chunk records until final.
      * (A non-final chunk's `~0` may arrive in a later TCP segment, so
      * re-read the chunk until it either has records+final flag or more
      * data arrives — decodeResponse handles both framings.) */
    def readStream(first: WireResponse): Seq[(Long, Double)] = {
      var records = Seq.newBuilder[(Long, Double)]
      var cur = first
      var done = false
      while (!done) cur match {
        case WireResponse.StreamChunk(rs, fin) =>
          records ++= rs
          if (fin) done = true else cur = readResponse()
        case other => fail(s"expected stream chunk, got $other")
      }
      records.result()
    }

    def close(): Unit = sock.close()
  }

  test("DDL + INSERT + SELECT answer with protocol markers end-to-end") {
    val c = new Client
    try {
      c.send("CREATEDB wiredb")
      assert(c.readResponse() == WireResponse.Str(0, "database 'wiredb' created"))
      c.send("USE wiredb")
      assert(c.readResponse() == WireResponse.Str(0, "using 'wiredb'"))
      c.send("CREATE cpu")
      assert(c.readResponse() == WireResponse.Str(0, "timeseries 'cpu' created"))
      c.send("INSERT INTO cpu VALUES (1000, 1.5), (2000, 2.5), (3000, 0.5)")
      assert(c.readResponse() == WireResponse.Str(0, "3 point(s) inserted, 0 error(s)"))
      c.send("SELECT value FROM cpu BETWEEN 1000 AND 2000")
      assert(c.readResponse() ==
        WireResponse.Arr(Seq((1000L, 1.5), (2000L, 2.5))))
      c.send("SELECT min(value) FROM cpu")
      assert(c.readResponse() == WireResponse.Arr(Seq((3000L, 0.5))))
    } finally c.close()
  }

  test("errors come back as ! responses; malformed frames error then close cleanly") {
    val c = new Client
    try {
      c.send("USE nope")
      c.readResponse() match {
        case WireResponse.Str(rc, msg) => assert(rc == 1 && msg.contains("DbNotFound"))
        case other => fail(s"expected error string, got $other")
      }
      c.send("bogus query")
      c.readResponse() match {
        case WireResponse.Str(rc, _) => assert(rc == 1)
        case other => fail(s"expected parse error, got $other")
      }
      // malformed frame: declared length mismatches payload — the
      // server answers the error and closes (framing is unrecoverable)
      c.sendRaw("$4\r\nhello\r\n".getBytes)
      c.readResponse() match {
        case WireResponse.Str(rc, msg) => assert(rc == 1 && msg.contains("bad request"))
        case other => fail(s"expected bad-request error, got $other")
      }
    } finally c.close()
    // a fresh connection works fine afterwards
    val c2 = new Client
    try {
      c2.send(".databases")
      c2.readResponse() match {
        case WireResponse.Str(0, msg) => assert(msg.contains("wiredb"))
        case other => fail(s"expected listing, got $other")
      }
    } finally c2.close()
  }

  test("every ErrCode renders over the wire as the reference's ! form") {
    // one statement per taxonomy code (statement_execute.h:11-26 analog);
    // the closing completeness assert means a NEW ErrCode cannot ship
    // without a wire-rendering case here
    val c = new Client
    try {
      c.send("CREATEDB errdb"); c.readResponse()
      c.send("USE errdb"); c.readResponse()
      c.send("CREATE etemp"); c.readResponse()
      c.send("INSERT INTO etemp VALUES (1000, 1.0)"); c.readResponse()
      val cases: Map[ErrCode.Value, String] = Map(
        ErrCode.ParseError -> "SELEKT nonsense",
        ErrCode.DbNotFound -> "USE missingdb",
        ErrCode.TsNotFound -> "SELECT value FROM missing",
        ErrCode.TsExists -> "CREATE etemp",
        ErrCode.EmptyResultset ->
          "SELECT min(value) FROM etemp BETWEEN 900000 AND 900100",
        ErrCode.InvalidRange -> "SELECT value FROM etemp BETWEEN 2000 AND 1000",
        ErrCode.UnknownKey -> "SELECT value FROM etemp WHERE bogus > 1",
        ErrCode.Unsupported ->
          "SELECT min(value) FROM etemp SAMPLE BY 1s FILL(prev)")
      for ((code, stmt) <- cases) {
        c.send(stmt)
        c.readResponse() match {
          case WireResponse.Str(rc, msg) =>
            assert(rc == 1 && msg.startsWith(s"$code:"),
              s"$stmt -> rc=$rc '$msg', want !$code")
          case other => fail(s"$stmt: expected ! string, got $other")
        }
      }
      // NoActiveDb needs a connection that never issued USE
      val fresh = new Client
      try {
        fresh.send("SELECT value FROM etemp")
        fresh.readResponse() match {
          case WireResponse.Str(rc, msg) =>
            assert(rc == 1 && msg.startsWith("NoActiveDb:"))
          case other => fail(s"expected NoActiveDb, got $other")
        }
      } finally fresh.close()
      assert(cases.keySet + ErrCode.NoActiveDb == ErrCode.values.toSet,
        "taxonomy drift: an ErrCode has no wire-rendering case")
    } finally c.close()
  }

  test("large scans stream in 1000-record batches with ~0 terminator") {
    val c = new Client
    try {
      c.send("USE wiredb")
      c.readResponse()
      c.send("CREATE big")
      c.readResponse()
      // bulk rows go in via the catalog (a single wire INSERT could not
      // carry them: requests are capped at QUERYSIZE=512 bytes, a real
      // protocol limit mirrored from the reference)
      val n = 2500
      import spark.implicits._
      catalog.insert("wiredb", "big",
        (0 until n).map(i => (10000L + i, i.toDouble)).toDF("timestamp", "value"))
      c.send("SELECT value FROM big")
      val first = c.readResponse()
      first match {
        case WireResponse.StreamChunk(rs, fin) =>
          assert(rs.length == Wire.StreamBatchSize && !fin)
        case other => fail(s"expected stream for $n rows, got $other")
      }
      val all = c.readStream(first)
      assert(all.length == n)
      assert(all == (0 until n).map(i => (10000L + i, i.toDouble)))
    } finally c.close()
  }

  test("concurrent clients: per-session active-db isolation, clean stream framing") {
    // shared big series for interleaved stream reads (created through
    // one bootstrap client so the path under test is the wire protocol)
    val boot = new Client
    try {
      boot.send("CREATEDB shared_stream_db"); boot.readResponse()
      boot.send("USE shared_stream_db"); boot.readResponse()
      boot.send("CREATE wide"); boot.readResponse()
      import spark.implicits._
      catalog.insert("shared_stream_db", "wide",
        (0 until 2500).map(i => (50000L + i, i.toDouble)).toDF("timestamp", "value"))
    } finally boot.close()

    val nClients = 6
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until nClients).map { i =>
      new Thread(() => {
        try {
          start.await()
          val c = new Client
          try {
            // CREATEDB must bind THIS session's active db (no USE) even
            // while peers CREATEDB/USE different databases concurrently
            c.send(s"CREATEDB conc_$i")
            assert(c.readResponse() ==
              WireResponse.Str(0, s"database 'conc_$i' created"))
            c.send("CREATE s")
            assert(c.readResponse() ==
              WireResponse.Str(0, "timeseries 's' created"))
            val base = 1000L * (i + 1)
            c.send(s"INSERT INTO s VALUES ($base, $i.5), (${base + 1}, $i.25)")
            assert(c.readResponse() ==
              WireResponse.Str(0, "2 point(s) inserted, 0 error(s)"))
            // isolation: only THIS session's rows, despite peers running
            // inserts/selects on their own active dbs at the same time
            c.send("SELECT value FROM s")
            assert(c.readResponse() ==
              WireResponse.Arr(Seq((base, i + 0.5), (base + 1, i + 0.25))))
            // interleaved streaming: a multi-chunk scan must frame
            // cleanly while other sessions' traffic shares the server
            c.send("USE shared_stream_db")
            assert(c.readResponse() ==
              WireResponse.Str(0, "using 'shared_stream_db'"))
            c.send("SELECT value FROM wide")
            val all = c.readStream(c.readResponse())
            assert(all.length == 2500)
            assert(all == (0 until 2500).map(j => (50000L + j, j.toDouble)))
            // and back: the USE above redirected only this session
            c.send(s"USE conc_$i")
            c.readResponse()
            c.send("SELECT min(value) FROM s")
            assert(c.readResponse() ==
              WireResponse.Arr(Seq((base + 1, i + 0.25))))
          } finally c.close()
        } catch { case t: Throwable => failures.add(t) }
      }, s"conc-client-$i")
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "client thread timed out")
    if (!failures.isEmpty) {
      val t = failures.peek()
      fail(t.toString + "\n" + t.getStackTrace.take(8).mkString("\n"))
    }
    // the bootstrap/global state was never touched by the six sessions:
    // a fresh client still starts with NO active db
    val fresh = new Client
    try {
      fresh.send("SELECT value FROM s")
      fresh.readResponse() match {
        case WireResponse.Str(rc, msg) =>
          assert(rc == 1 && msg.contains("NoActiveDb"))
        case other => fail(s"expected NoActiveDb error, got $other")
      }
    } finally fresh.close()
  }

  test("scalar avg answers as a string row") {
    val c = new Client
    try {
      c.send("USE wiredb")
      c.readResponse()
      c.send("SELECT avg(value) FROM cpu")
      c.readResponse() match {
        case WireResponse.Str(0, msg) => assert(msg == "1.5 3")
        case other => fail(s"expected scalar string, got $other")
      }
    } finally c.close()
  }

  test("SELECT latest(value) over TCP runs no Spark job") {
    val c = new Client
    try {
      c.send("USE wiredb")
      c.readResponse()
      // the answer is read on the driver and drained from there
      val (r, jobs) = jobsOf(spark.sparkContext) {
        c.send("SELECT latest(value) FROM cpu")
        c.readResponse()
      }
      assert(r == WireResponse.Arr(Seq((3000L, 0.5))))
      assert(jobs == 0, s"latest over TCP ran $jobs jobs")
    } finally c.close()
  }

  test("acked INSERTs read back exactly once from a fresh catalog after a stop") {
    val root = Files.createTempDirectory("graft-server-acked").toString
    try {
      val own = new TsServer(
        new StatementExecutor(spark, new TsCatalog(spark, root)), port = 0).start()
      val acked = Seq.newBuilder[(Long, Double)]
      val c = new Client(own.boundPort)
      try {
        c.send("CREATEDB ackdb")
        assert(c.readResponse() == WireResponse.Str(0, "database 'ackdb' created"))
        c.send("CREATE s")
        assert(c.readResponse() == WireResponse.Str(0, "timeseries 's' created"))
        // 300 points 7 s apart: 20 INSERTs over three 900 s buckets
        for (k <- 0 until 20) {
          val points = (0 until 15).map { i =>
            val n = k * 15 + i
            (1700000000000000000L + n * 7000000000L, n * 0.5)
          }
          c.send("INSERT INTO s VALUES " +
            points.map { case (t, v) => s"($t, $v)" }.mkString(", "))
          assert(c.readResponse() == WireResponse.Str(0, "15 point(s) inserted, 0 error(s)"))
          acked ++= points
        }
      } finally { c.close(); own.stop() }
      val back = new TsCatalog(spark, root).readSeries("ackdb", "s").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(back == acked.result())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
