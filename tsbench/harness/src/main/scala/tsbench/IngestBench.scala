package tsbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.catalog.{SeriesMeta, TsCatalog}
import graft.core.EscapedCaches
import graft.engine.{ExecResult, StatementExecutor, TsSession}
import graft.protocol.{Wire, WireResponse}
import graft.server.TsServer
import graft.tsql.Parser

/** The `tsql_ingest` workload: closed-loop clients send TSQL statements
  * to a `TsServer` over TCP, each INSERTing into its own series and
  * reading its own writes back, and every answer is checked. The
  * statement count is fixed per run, so the catalog a run ends with does
  * not depend on how fast the code is.
  *
  * A traced run alternates each client's statements between TCP and an
  * in-process replay of the server's path (decode, parse, execute, drain,
  * encode) with a span around every call. */
object IngestBench {
  val Db = "bench"
  /** Closed-loop clients, fewer than the cores: one statement's Spark
    * jobs already fan out over every local core. */
  val Clients = 2
  /** Statement cycles per client per measured second: sizes the fixed
    * statement sequence so a run takes about `--seconds` today. */
  val CyclesPerSecond = 0.3
  /** Cycles per client in the cold pass, before the measured region. The
    * cold figure is taken once per run, so it spans 20 statements to
    * average out their scatter. */
  val ColdCycles = 2

  /** Points 0 until `s.history` of `s`, as the catalog's input frame. */
  private def historyDf(spark: SparkSession, s: SeriesModel): DataFrame =
    spark.range(s.history).select(
      (lit(Gen.T0) + col("id") * Gen.NsPerS).as("timestamp"),
      (pmod(col("id") * s.a + s.b, lit(1000L)) * 0.25).as("value"))

  /** Writes the catalog into `dir` from scratch: one series per client,
    * holding its day of history. */
  private def buildCatalog(spark: SparkSession, series: Seq[SeriesModel], dir: File): TsCatalog = {
    val catalog = new TsCatalog(spark, dir.getPath)
    catalog.createDb(Db)
    series.foreach { s =>
      catalog.createSeries(Db, s.name, SeriesMeta(None))
      catalog.insert(Db, s.name, historyDf(spark, s))
    }
    catalog
  }

  private def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  /** Runs `body(c)` on one thread per client and waits for all. */
  private def onClients(body: Int => Unit): Unit = {
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => body(c), s"tsbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  private final class Tally {
    /** TCP statements of the measured region: class, latency ms less
      * stolen time, wall latency ms. */
    val tcp = new ConcurrentLinkedQueue[(String, Double, Double)]()
    /** In-process statements: op id, class, latency ms, response bytes. */
    val inProc = new ConcurrentLinkedQueue[(Long, String, Double, Long)]()
    val failures = new ConcurrentLinkedQueue[String]()
    val attempted = new AtomicLong()
    val answered = new AtomicLong()
    val ackedPoints = new AtomicLong()
    val lastEnd = new AtomicLong()

    def done(stmt: Stmt, answer: Either[String, Answer]): Unit = {
      lastEnd.accumulateAndGet(System.nanoTime(), math.max)
      answer.flatMap(a => Check(stmt.expect, a).toLeft(())) match {
        case Left(why) => fail(stmt, why)
        case Right(()) => answered.incrementAndGet(); ackedPoints.addAndGet(stmt.written)
      }
    }
    def fail(stmt: Stmt, why: String): Unit = failures.add(s"${stmt.cls}: $why [${stmt.sql.take(120)}]")
  }

  def run(ctx: Ctx): Outcome = {
    val series = Gen.series(ctx.seed, Clients)
    val spark = Sessions.server(ctx)
    val catalogDir = new File(ctx.work, "catalog")
    val catalog = buildCatalog(spark, series, catalogDir)
    val exec = new StatementExecutor(spark, catalog)
    val server = new TsServer(exec, 0).start()
    val clients = (0 until Clients).map(_ => new WireClient(server.boundPort))
    clients.foreach(c => require(new String(c.call(s"USE $Db")._1, "UTF-8").startsWith("$"), "USE failed"))
    val setup1 = Run.firstSetup(ctx)

    val tally = new Tally
    val streams = (0 until Clients).map(c => Gen.stream(ctx.seed, c, series(c)))

    def overTcp(c: Int, stmt: Stmt, record: Boolean): Unit = {
      tally.attempted.incrementAndGet()
      try {
        val h = HostTicks.now()
        val (raw, ns) = clients(c).call(stmt.sql)
        if (record) {
          val took = Run.Took.between(ns / 1e9, h, HostTicks.now())
          tally.tcp.add((stmt.cls, took.unstolenS * 1000, took.wallS * 1000))
        }
        tally.done(stmt, Answer.decode(raw))
      } catch { case scala.util.control.NonFatal(e) => tally.fail(stmt, e.toString) }
    }

    // cold pass: every client's first cycles, every client at once
    val coldPass = Run.Took.of {
      onClients(c => streams(c).take(ColdCycles * Gen.CycleLength).foreach(overTcp(c, _, record = false)))
    }
    val coldAnswered = tally.answered.get()
    val coldPoints = tally.ackedPoints.get()

    // a traced run replays every other statement in-process, with spans
    val tracer = new Tracer
    val listener = if (ctx.trace) Some(new OpListener(spark).install()) else None
    val replay = listener.map(l => new InProcess(exec, catalog, tracer, l))
    val opIds = new AtomicLong()
    val filesAdded = new ConcurrentLinkedQueue[Int]()

    val cycles = math.max(1, math.ceil(ctx.seconds * CyclesPerSecond).toInt)
    val before = Counters.snap()
    val (t0, h0) = (System.nanoTime(), HostTicks.now())
    onClients { c =>
      val session = new TsSession
      session.activeDb = Some(Db)
      val seriesDir = new File(catalogDir, s"$Db/${series(c).name}")
      streams(c).take(cycles * Gen.CycleLength).zipWithIndex.foreach {
        case (s, i) if replay.isDefined && i % 2 == 0 =>
          tally.attempted.incrementAndGet()
          def fileCount = if (s.written > 0) parquetFiles(seriesDir).size else 0
          val filesBefore = fileCount
          try {
            val op = opIds.incrementAndGet()
            val h = HostTicks.now()
            val (answer, ns, bytes) = replay.get.execute(op, s, session)
            tally.inProc.add((op, s.cls, Run.Took.between(ns / 1e9, h, HostTicks.now()).unstolenS * 1000, bytes))
            if (s.written > 0) filesAdded.add(fileCount - filesBefore)
            tally.done(s, Right(answer))
          } catch { case scala.util.control.NonFatal(e) => tally.fail(s, e.toString) }
        case (s, _) => overTcp(c, s, record = true)
      }
    }
    val region = Run.Took.between((tally.lastEnd.get() - t0) / 1e9, h0, HostTicks.now())
    val regionS = region.unstolenS
    val after = Counters.snap()
    // the listing and scan set-up every read pays, timed alone
    replay.foreach(r => series.foreach(s => r.probeRead(opIds.incrementAndGet(), s.name)))
    val liveHeap = Counters.liveHeapMb()

    val files = series.map(s => parquetFiles(new File(catalogDir, s"$Db/${s.name}")))
    // history, plus the cold cycles and the measured cycles of every client
    val userPoints = series.map(_.history.toLong).sum +
      Clients.toLong * (cycles + ColdCycles) * Gen.InsertsPerCycle * Gen.InsertRows
    val layers = listener.map { l =>
      l.remove()
      traceLayers(ctx, tracer, l, tally.inProc.asScala.toSeq, tally.tcp.asScala.toSeq.map(t => (t._1, t._2)),
        filesAdded.asScala.toSeq, files, userPoints, before, after, regionS)
    }
    clients.foreach(_.close())
    server.stop()
    spark.stop()

    val (setup, setupWall) = Run.setupMedian(setup1, () => {
      val dir = new File(ctx.work, s"catalog-${System.nanoTime()}")
      var s: SparkSession = null
      val took = Run.Took.of {
        s = Sessions.server(ctx)
        buildCatalog(s, series, dir)
      }
      s.stop()
      Run.deleteTree(dir)
      took
    })

    val timed = tally.tcp.asScala.toSeq
    val p50 = Stats.percentile(timed.map(_._2), 50)
    val reads = timed.collect { case (c, ms, _) if c != "insert" => ms }
    val inserts = timed.collect { case ("insert", ms, _) => ms }
    val measured = tally.answered.get() - coldAnswered
    val stmtsPerS = measured / regionS
    def pct(name: String, xs: Seq[Double], p: Double) = {
      val r = Stats.percentile(xs, p)
      Metric(name, r.value, "ms", r.n)
    }
    val coldN = Clients * ColdCycles * Gen.CycleLength
    val e2e = layers.getOrElse(Seq(
      setup,
      Metric("cold_pass_s", coldPass.unstolenS, "s", coldN),
      Metric("latency_ms", p50.value, "ms", p50.n),
      Metric("ops_per_s", stmtsPerS, "1/s", measured.toInt),
      Metric("live_heap_mb", liveHeap, "MB")))
    val extra = Seq(
      pct("statement_p90_ms", timed.map(_._2), 90),
      pct("insert_p50_ms", inserts, 50), pct("insert_p90_ms", inserts, 90),
      pct("read_p50_ms", reads, 50), pct("read_p90_ms", reads, 90),
      Metric("statements_per_s", stmtsPerS, "1/s", measured.toInt),
      Metric("points_per_s", (tally.ackedPoints.get() - coldPoints) / regionS, "1/s"),
      Metric("setup_first_s", setup1.unstolenS, "s"),
      // the same figures by the wall clock, stolen time included
      setupWall,
      Metric("cold_pass_wall_s", coldPass.wallS, "s", coldN),
      pct("latency_wall_ms", timed.map(_._3), 50),
      Metric("ops_per_wall_s", measured / region.wallS, "1/s", measured.toInt),
      Metric("measured_wall_s", region.wallS, "s"),
      Metric("host_stolen_share", HostTicks.stolenShare(ctx.hostStart, HostTicks.now()), "ratio"))
    Outcome(tally.attempted.get(), tally.failures.asScala.toSeq, e2e, extra,
      if (ctx.trace) Some(tracer) else None)
  }

  /** The server's statement path, called directly: the same calls
    * `TsServer` makes for one request, each inside a span. */
  private final class InProcess(exec: StatementExecutor, catalog: TsCatalog, tracer: Tracer,
      listener: OpListener) {

    private def records(rows: Iterator[Row], max: Int): Seq[(Long, Double)] = {
      val b = Seq.newBuilder[(Long, Double)]
      var i = 0
      while (i < max && rows.hasNext) {
        val r = rows.next()
        b += ((r.getLong(0), r.get(1).asInstanceOf[Number].doubleValue()))
        i += 1
      }
      b.result()
    }

    /** Runs `stmt` as op `op`; returns the decoded answer, the latency in
      * nanoseconds and the response size in bytes. */
    def execute(op: Long, stmt: Stmt, session: TsSession): (Answer, Long, Long) = {
      val frame = Wire.encodeRequest(stmt.sql).fold(e => throw new IllegalArgumentException(e), identity)
      val out = new java.io.ByteArrayOutputStream()
      val t0 = System.nanoTime()
      tracer.span("op", op) { root =>
        def encode(r: WireResponse): Unit = tracer.span("protocol.encode", op, root) { _ =>
          out.write(Wire.encodeResponse(r).fold(e => throw new IllegalStateException(e), identity))
        }
        def drain[T](f: => T): T = tracer.span("engine.drain", op, root)(_ => listener.tagged(op, "drain")(f))
        val query = tracer.span("protocol.decode", op, root)(_ => Wire.decodeRequest(frame))
          .fold(e => throw new IllegalStateException(e), _._1)
        val parsed = tracer.span("tsql.parse", op, root)(_ => Parser.parse(query))
          .fold(e => throw new IllegalStateException(e), identity)
        val (_, scope) = EscapedCaches.scoped {
          val res = tracer.span("engine.execute", op, root)(_ =>
            listener.tagged(op, "construct")(exec.execute(parsed, session)))
          res match {
            case ExecResult.Ack(msg) => encode(WireResponse.Str(0, msg))
            case ExecResult.Err(code, msg) => encode(WireResponse.Str(1, s"$code: $msg"))
            case ExecResult.Listing(names) => encode(WireResponse.Str(0, names.mkString(" ")))
            case ExecResult.Scalar(df) =>
              val row = drain(df.collect()(0))
              encode(WireResponse.Str(0, row.toSeq.mkString(" ")))
            case ExecResult.Rows(df) =>
              val it = drain(df.toLocalIterator().asScala)
              val first = drain(records(it, Wire.StreamBatchSize))
              if (!drain(it.hasNext)) encode(WireResponse.Arr(first))
              else {
                encode(WireResponse.StreamChunk(first, isFinal = false))
                while (drain(it.hasNext)) {
                  val batch = drain(records(it, Wire.StreamBatchSize))
                  encode(WireResponse.StreamChunk(batch, isFinal = !drain(it.hasNext)))
                }
              }
          }
        }
        scope.release()
      }
      val latency = System.nanoTime() - t0
      (Answer.decode(out.toByteArray).fold(e => throw new IllegalStateException(e), identity),
        latency, out.size().toLong)
    }

    /** A direct `TsCatalog.readSeries` call: the listing and scan set-up
      * every read of the series pays, timed on its own. */
    def probeRead(op: Long, series: String): Unit =
      tracer.span("catalog.read", op)(_ => listener.tagged(op, "probe")(catalog.readSeries(Db, series)))
  }

  /** Per-layer metrics of a traced run. Time metrics are means per
    * in-process statement, so they add up to its mean latency. */
  private def traceLayers(ctx: Ctx, tracer: Tracer, l: OpListener, inProc: Seq[(Long, String, Double, Long)],
      tcp: Seq[(String, Double)], filesAdded: Seq[Int], files: Seq[Seq[File]], userPoints: Long,
      before: Counters.Snap, after: Counters.Snap, wall: Double): Seq[Metric] = {
    val spans = tracer.all
    val ops = inProc.map(_._1).toSet
    val n = math.max(ops.size, 1)
    def total(name: String, ids: Set[Long] = ops) =
      spans.filter(s => s.name == name && ids.contains(s.op)).map(_.ns).sum.toDouble
    val inserts = inProc.collect { case (op, "insert", _, _) => op }.toSet
    val counts = l.perOp(_ != "probe").filter { case (op, _) => ops.contains(op) }
    val construct = l.perOp(_ == "construct")
    val probes = spans.filter(_.name == "catalog.read").map(_.ns / 1e6)
    val inProcP50 = inProc.groupBy(_._2).map { case (c, v) => c -> Stats.median(v.map(_._3)) }
    val tcpP50 = tcp.groupBy(_._1).map { case (c, v) => c -> Stats.median(v.map(_._2)) }
    val all = inProc.map(_._3) ++ tcp.map(_._2)
    val p90 = Stats.percentile(all, 90)
    val perClass = Metric("latency.p90_ms", p90.value, "ms", p90.n) +: Gen.Classes.flatMap { c =>
      Seq(
        Metric(s"engine.${c}_p50_ms", inProcP50.getOrElse(c, 0.0), "ms", inProc.count(_._2 == c)),
        Metric(s"server.${c}_unaccounted_ms",
          (for (a <- tcpP50.get(c); b <- inProcP50.get(c)) yield a - b).getOrElse(0.0), "ms",
          tcp.count(_._1 == c)))
    }
    def perInsert(f: Long => Double) =
      if (inserts.isEmpty) 0.0 else inserts.toSeq.map(f).sum / inserts.size
    Seq(
      Metric("protocol.decode_us", total("protocol.decode") / n / 1e3, "us", ops.size),
      Metric("protocol.encode_ms", total("protocol.encode") / n / 1e6, "ms", ops.size),
      Metric("protocol.bytes_out", Stats.mean(inProc.map(_._4.toDouble)), "B", ops.size),
      Metric("tsql.parse_us", total("tsql.parse") / n / 1e3, "us", ops.size),
      Metric("engine.construct_ms", total("engine.execute") / n / 1e6, "ms", ops.size),
      Metric("engine.drain_ms", total("engine.drain") / n / 1e6, "ms", ops.size),
      Metric("engine.driver_jobs_per_stmt",
        ops.toSeq.map(o => construct.get(o).map(_.jobs).getOrElse(0)).sum.toDouble / n, "count", ops.size),
      Metric("catalog.read_ms", Stats.mean(probes), "ms", probes.size),
      Metric("catalog.files_per_series", files.map(_.size).sum.toDouble / files.size, "count", files.size),
      Metric("catalog.insert_ms", perInsert(o => total("engine.execute", Set(o)) / 1e6), "ms", inserts.size),
      Metric("catalog.jobs_per_insert", perInsert(o => counts.get(o).map(_.jobs).getOrElse(0).toDouble),
        "count", inserts.size),
      Metric("catalog.files_per_insert", Stats.mean(filesAdded.map(_.toDouble)), "count", filesAdded.size),
      // parquet bytes per 16-byte (timestamp, value) point
      Metric("catalog.bytes_per_user_byte", files.flatten.map(_.length()).sum / (16.0 * userPoints), "ratio"),
    ) ++ Layers.spark(ctx, counts.values.toSeq, n, before, after, inProc.size + tcp.size,
      l.allTaskRunMs, wall) ++ perClass ++ Layers.jvm(before, after, (inProc.size + tcp.size) / wall)
  }
}
