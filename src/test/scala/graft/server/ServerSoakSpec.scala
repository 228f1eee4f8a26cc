package graft.server

import java.net.Socket
import java.nio.file.Files

import scala.collection.immutable.TreeMap

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.catalog.TsCatalog
import graft.engine.StatementExecutor
import graft.protocol.{Wire, WireResponse}

/** Randomized multi-client wire-protocol SOAK (round-11 hardening ask):
  * N concurrent sockets each run a ScalaCheck-generated op sequence of
  * interleaved INSERT / SELECT / range SELECT / min / max / DELETE
  * against their own database, verifying every response against a
  * session-local model — so any cross-session interleaving bug in the
  * thread-per-connection server (state bleeding between sessions,
  * frame interleaving on concurrent writes, catalog races on
  * create/drop) surfaces as a deterministic assertion diff. The
  * reference's single-threaded select loop cannot have these bugs by
  * construction; this server must prove it.
  *
  * The generator seed is LOGGED on every run and overridable via
  * GRAFT_SOAK_SEED for exact replay of a failing interleaving's op
  * sequences (the thread schedule itself is non-deterministic, but
  * every assertion is session-local, so any schedule that fails keeps
  * failing under retry with the same seed in the same neighborhood).
  */
class ServerSoakSpec extends AnyFunSuite with BeforeAndAfterAll with GraftSpark {

  private val tmpRoot = Files.createTempDirectory("graft-server-soak").toString
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

  /** Minimal protocol client (the ServerSpec shape). */
  private final class Client {
    private val sock = new Socket("127.0.0.1", server.boundPort)
    private val in = sock.getInputStream
    private val out = sock.getOutputStream
    private var buf = Array.emptyByteArray

    def send(query: String): Unit = {
      out.write(Wire.encodeRequest(query).fold(e => fail(e), identity))
      out.flush()
    }

    def readResponse(): WireResponse = {
      var result: Option[(WireResponse, Int)] = None
      while (result.isEmpty) {
        Wire.decodeResponse(buf) match {
          case Right(ok) => result = Some(ok)
          case Left(_) =>
            val chunk = new Array[Byte](4096)
            val n = in.read(chunk)
            if (n < 0) fail("server closed connection mid-response")
            buf = buf ++ chunk.take(n)
        }
      }
      val (r, n) = result.get
      buf = buf.drop(n)
      r
    }

    /** Record-bearing responses regardless of framing: a small result
      * arrives as Arr, a large one as a chunk stream. */
    def readRecords(): Seq[(Long, Double)] = readResponse() match {
      case WireResponse.Arr(rs) => rs
      case WireResponse.StreamChunk(rs, fin) =>
        var records = Seq.newBuilder[(Long, Double)]
        records ++= rs
        var done = fin
        while (!done) readResponse() match {
          case WireResponse.StreamChunk(more, f) => records ++= more; done = f
          case other => fail(s"expected stream chunk, got $other")
        }
        records.result()
      case other => fail(s"expected records, got $other")
    }

    def close(): Unit = sock.close()
  }

  // ---- op alphabet (generated once per client from the logged seed) ----
  private sealed trait Op
  private case class Insert(n: Int) extends Op
  private case object SelectAll extends Op
  /** Range fractions of the model's current ts span (sorted at gen). */
  private case class SelectRange(lo: Double, hi: Double) extends Op
  private case object MinOp extends Op
  private case object MaxOp extends Op
  /** DELETE the series and re-CREATE it: model resets to empty. */
  private case object Reset extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> Gen.choose(1, 3).map(Insert),
    3 -> Gen.const(SelectAll),
    2 -> Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0))
      .map { case (a, b) => SelectRange(math.min(a, b), math.max(a, b)) },
    2 -> Gen.const(MinOp),
    2 -> Gen.const(MaxOp),
    1 -> Gen.const(Reset))

  private val OpsPerClient = 40
  private val NClients = 6

  test("randomized soak: interleaved INSERT/SELECT/DELETE over concurrent sockets stay session-correct") {
    val masterSeed = sys.env.get("GRAFT_SOAK_SEED").map(_.toLong)
      .getOrElse(new java.util.Random().nextLong())
    info(s"soak seed = $masterSeed (replay with GRAFT_SOAK_SEED=$masterSeed)")

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until NClients).map { i =>
      new Thread(() => {
        try {
          val ops = Gen.listOfN(OpsPerClient, opGen)
            .pureApply(Gen.Parameters.default, Seed(masterSeed + i))
          start.await()
          val c = new Client
          try {
            c.send(s"CREATEDB soak_$i")
            assert(c.readResponse() ==
              WireResponse.Str(0, s"database 'soak_$i' created"))
            c.send("CREATE s")
            assert(c.readResponse() ==
              WireResponse.Str(0, "timeseries 's' created"))
            // session-local model of the series: ts → value. Timestamps
            // and values are strictly increasing and client-unique, so
            // argmin/argmax are tie-free and any cross-session bleed
            // shows up as foreign values in a result.
            var model = TreeMap.empty[Long, Double]
            var k = 0
            for (op <- ops) op match {
              case Insert(n) =>
                val pts = (0 until n).map { _ =>
                  k += 1; (1000000L + k, k + i * 0.001)
                }
                model ++= pts
                c.send("INSERT INTO s VALUES " +
                  pts.map(p => s"(${p._1}, ${p._2})").mkString(", "))
                assert(c.readResponse() ==
                  WireResponse.Str(0, s"$n point(s) inserted, 0 error(s)"),
                  s"client $i insert ack")
              case SelectAll =>
                c.send("SELECT value FROM s")
                val got = c.readRecords()
                assert(got == model.toSeq, s"client $i full scan")
              case SelectRange(loF, hiF) =>
                // map the generated fractions onto the live ts span —
                // closed BETWEEN bounds, t0 <= t1 by generator sort
                val (minTs, maxTs) =
                  if (model.isEmpty) (1000000L, 1000001L)
                  else (model.firstKey, model.lastKey)
                val span = maxTs - minTs
                val t0 = minTs + math.floor(loF * span).toLong
                val t1 = minTs + math.floor(hiF * span).toLong
                c.send(s"SELECT value FROM s BETWEEN $t0 AND $t1")
                val expect = model.rangeImpl(Some(t0), Some(t1 + 1)).toSeq
                assert(c.readRecords() == expect, s"client $i range [$t0,$t1]")
              case MinOp =>
                c.send("SELECT min(value) FROM s")
                if (model.isEmpty) c.readResponse() match {
                  case WireResponse.Str(rc, msg) =>
                    assert(rc == 1 && msg.startsWith("EmptyResultset:"),
                      s"client $i min on empty: '$msg'")
                  case other => fail(s"client $i min on empty: got $other")
                } else {
                  val (ts, v) = model.minBy(_._2)
                  assert(c.readRecords() == Seq((ts, v)), s"client $i min")
                }
              case MaxOp =>
                c.send("SELECT max(value) FROM s")
                if (model.isEmpty) c.readResponse() match {
                  case WireResponse.Str(rc, msg) =>
                    assert(rc == 1 && msg.startsWith("EmptyResultset:"),
                      s"client $i max on empty: '$msg'")
                  case other => fail(s"client $i max on empty: got $other")
                } else {
                  val (ts, v) = model.maxBy(_._2)
                  assert(c.readRecords() == Seq((ts, v)), s"client $i max")
                }
              case Reset =>
                c.send(s"DELETE s FROM soak_$i")
                assert(c.readResponse() ==
                  WireResponse.Str(0, "timeseries 's' deleted"),
                  s"client $i delete")
                c.send("CREATE s")
                assert(c.readResponse() ==
                  WireResponse.Str(0, "timeseries 's' created"),
                  s"client $i recreate")
                model = TreeMap.empty
            }
          } finally c.close()
        } catch { case t: Throwable => failures.add(t) }
      }, s"soak-client-$i")
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(300000))
    assert(threads.forall(!_.isAlive), "soak client timed out")
    if (!failures.isEmpty) {
      val t = failures.peek()
      fail(s"seed $masterSeed: " + t.toString + "\n" +
        t.getStackTrace.take(10).mkString("\n"))
    }
    // after the storm: the catalog holds exactly the six soak dbs'
    // series and a fresh session still starts with no active db
    val fresh = new Client
    try {
      fresh.send(".databases")
      fresh.readResponse() match {
        case WireResponse.Str(0, msg) =>
          (0 until NClients).foreach(i => assert(msg.contains(s"soak_$i")))
        case other => fail(s"expected listing, got $other")
      }
      fresh.send("SELECT value FROM s")
      fresh.readResponse() match {
        case WireResponse.Str(rc, msg) =>
          assert(rc == 1 && msg.contains("NoActiveDb"))
        case other => fail(s"expected NoActiveDb, got $other")
      }
    } finally fresh.close()
  }

  test("concurrent server statements never evict a funnel-family client's scoped caches") {
    // the r12 verdict's cross-release soak, at the server: TsServer
    // releases a per-STATEMENT escaped-cache scope after every
    // response — under the old process-global registry those releases
    // would have drained a concurrently-running analytics client's
    // escaped caches (recompute-only, but a p99 cliff). Here a
    // funnel-family computation holds its scoped caches while two
    // wire clients hammer statements through the server; the funnel's
    // caches must stay resident and its result stable.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.storage.StorageLevel
    val types = Seq("signup", "view", "purchase")
    val ev = {
      import spark.implicits._
      (1L to 50L).flatMap(u => (0 until 6).map(j =>
        (u, u * 1000L + j * 7L, types(j % 3))))
        .toDF("user_id", "timestamp", "event_type")
    }
    val (funnelDf, scope) = graft.core.EscapedCaches.scoped(
      graft.ops.Funnels.funnel(ev, types))
    assert(scope.registered.nonEmpty)
    val expect = funnelDf.collect().toSeq

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        try {
          val c = new Client
          try {
            c.send(s"CREATEDB xrel_$i")
            c.readResponse()
            c.send("CREATE s")
            c.readResponse()
            for (k <- 1 to 10) {
              c.send(s"INSERT INTO s VALUES ($k, $k.5)")
              assert(c.readResponse() ==
                WireResponse.Str(0, "1 point(s) inserted, 0 error(s)"))
              c.send("SELECT value FROM s")
              assert(c.readRecords().size == k)
            }
          } finally c.close()
        } catch { case t: Throwable => failures.add(t) }
      }, s"xrel-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive) && failures.isEmpty,
      s"wire clients failed: ${Option(failures.peek()).getOrElse("")}")
    // 20 statements (each releasing ITS scope) later: the funnel's
    // escaped caches are untouched and the plan answers from them
    assert(scope.registered.nonEmpty &&
      scope.registered.forall(_.storageLevel != StorageLevel.NONE),
      "server statement scopes evicted a concurrent client's caches")
    assert(funnelDf.collect().toSeq == expect)
    scope.release()
    assert(scope.registered.isEmpty)
  }
}
