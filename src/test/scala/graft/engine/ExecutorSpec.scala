package graft.engine

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.catalog.{SeriesMeta, TsCatalog}

/** Engine integration spec mirroring the reference's storage tests
  * (tests/timeseries_test.c:402-455) on the FIXTURES.md §1 deterministic
  * series: 90 points, value = i, seeded gaps of 0-115 ms (seed 47,
  * INTERVAL=115000 µs — tests/timeseries_test.c:8,409,422-429).
  */
class ExecutorSpec extends AnyFunSuite with BeforeAndAfterAll with GraftSpark {

  private val tmpRoot = Files.createTempDirectory("graft-exec-spec").toString
  private val FixedNow = 1700000100000000000L

  private lazy val catalog = new TsCatalog(spark, tmpRoot)
  private lazy val exec = new StatementExecutor(spark, catalog, () => FixedNow)

  // FIXTURES.md §1: deterministic variant of the reference fixture
  private val Base = 1700000000000000000L
  private val ts: Array[Long] = {
    val rnd = new scala.util.Random(47)
    val out = new Array[Long](90)
    var t = Base
    for (i <- 0 until 90) {
      t += rnd.nextLong(115000000L) // 0-115 ms in nanos
      out(i) = t
    }
    out
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  private def rowsOf(res: ExecResult): Seq[(Long, Double)] = res match {
    case ExecResult.Rows(df) => rows(df)
    case other => fail(s"expected Rows, got $other")
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    assert(exec.executeSql("CREATEDB testdb").isInstanceOf[ExecResult.Ack])
    assert(exec.executeSql("CREATE temperatures").isInstanceOf[ExecResult.Ack])
    val values = ts.zipWithIndex.map { case (t, i) => s"($t, $i.0)" }.mkString(", ")
    assert(exec.executeSql(s"INSERT INTO temperatures VALUES $values")
      .isInstanceOf[ExecResult.Ack])
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpRoot))
    super.afterAll()
  }

  /** A fresh catalog holding series `s` in database `fdb`, and an
    * executor whose clock advances 1 µs per `tick()`. */
  private def withFreshExec(
      f: (StatementExecutor, TsCatalog, () => Long) => Unit): Unit = {
    val root = Files.createTempDirectory("graft-exec-fresh").toString
    try {
      var clock = FixedNow
      val catalog = new TsCatalog(spark, root)
      val exec = new StatementExecutor(spark, catalog, () => clock)
      assert(exec.executeSql("CREATEDB fdb").isInstanceOf[ExecResult.Ack])
      assert(exec.executeSql("CREATE s").isInstanceOf[ExecResult.Ack])
      f(exec, catalog, () => { clock += 1000; clock })
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("full scan returns all points in timestamp order (timeseries_test.c:132-153)") {
    val got = rowsOf(exec.executeSql("SELECT value FROM temperatures"))
    assert(got == ts.zipWithIndex.map { case (t, i) => (t, i.toDouble) }.toSeq)
  }

  test("first/latest return points 0 and 89 (timeseries_test.c:50-82)") {
    assert(rowsOf(exec.executeSql("SELECT earliest(value, 1) FROM temperatures")) ==
      Seq((ts(0), 0.0)))
    assert(rowsOf(exec.executeSql("SELECT latest(value) FROM temperatures")) ==
      Seq((ts(89), 89.0)))
  }

  test("min/max over [ts10, ts80] return argmin/argmax records (timeseries_test.c:14-48)") {
    val q = s"BETWEEN ${ts(10)} AND ${ts(80)}"
    assert(rowsOf(exec.executeSql(s"SELECT min(value) FROM temperatures $q")) ==
      Seq((ts(10), 10.0)))
    assert(rowsOf(exec.executeSql(s"SELECT max(value) FROM temperatures $q")) ==
      Seq((ts(80), 80.0)))
  }

  test("range [a,b] is inclusive and returns exactly b-a+1 ordered points (timeseries_test.c:270-308)") {
    val rnd = new scala.util.Random(48)
    for (_ <- 0 until 25) {
      val a = rnd.nextInt(85)
      val b = a + rnd.nextInt(90 - a - 1) + 1
      val got = rowsOf(exec.executeSql(
        s"SELECT value FROM temperatures BETWEEN ${ts(a)} AND ${ts(b)}"))
      assert(got.size == b - a + 1, s"range [$a,$b]")
      assert(got == (a to b).map(i => (ts(i), i.toDouble)))
    }
  }

  test("avg over a range (declared-but-stubbed in reference; statement_execute.c:236-238)") {
    exec.executeSql(s"SELECT avg(value) FROM temperatures BETWEEN ${ts(10)} AND ${ts(19)}") match {
      case ExecResult.Scalar(df) =>
        val r = df.collect()(0)
        assert(r.getDouble(0) == 14.5) // mean of 10..19
        assert(r.getLong(1) == 10L)
      case other => fail(s"expected Scalar, got $other")
    }
  }

  test("SAMPLE BY: output timestamps are multiples of the interval; empty windows skipped (timeseries_test.c:100-123)") {
    val interval = 1000000000L // 1 s
    exec.executeSql(s"SELECT value FROM temperatures SAMPLE BY 1s") match {
      case ExecResult.Rows(df) =>
        val got = df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        assert(got.nonEmpty)
        got.foreach { case (t, _, n) =>
          assert(t % interval == 0, s"sample ts $t not aligned")
          assert(n > 0) // empty windows never emitted
        }
        // windows labeled at the END: every point falls in (label-interval, label]
        val n = got.map(_._3).sum
        assert(n == 90)
      case other => fail(s"expected Rows, got $other")
    }
  }

  test("SAMPLE BY with min/latest selectors (extension surface)") {
    exec.executeSql("SELECT min(value) FROM temperatures SAMPLE BY 1s") match {
      case ExecResult.Rows(df) =>
        val got = df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        assert(got.map(_._3).sum == 90)
        // per-window min == first value of that window (values ascend)
        got.foreach { case (t, mn, _) => assert(t % 1000000000L == 0 && mn >= 0) }
      case other => fail(s"expected Rows, got $other")
    }
    exec.executeSql("SELECT latest(value) FROM temperatures SAMPLE BY 1s") match {
      case ExecResult.Rows(df) =>
        val rows = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
        // last window's latest value is the overall last point (89)
        assert(rows.last._2 == 89.0)
      case other => fail(s"expected Rows, got $other")
    }
  }

  test("SAMPLE BY FILL: gap buckets fill per policy (dialect extension)") {
    // temperatures spans ~5 s with seeded gaps; 100 ms buckets leave
    // plenty of empty windows for the axis to fill
    exec.executeSql("SELECT avg(value) FROM temperatures SAMPLE BY 100ms FILL(prev)") match {
      case ExecResult.Rows(df) =>
        val got = df.collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getLong(2)))
        val gaps = got.filter(_._3 == 0)
        assert(gaps.nonEmpty, "fixture produced no empty buckets — weaken interval")
        // the axis is contiguous at the interval
        got.map(_._1).sliding(2).foreach {
          case Array(a, b) => assert(b - a == 100000000L)
          case _ => ()
        }
        // prev-fill: every gap after the first observation carries a value
        assert(gaps.forall(_._2.isDefined))
      case other => fail(s"expected Rows, got $other")
    }
    exec.executeSql("SELECT avg(value) FROM temperatures SAMPLE BY 100ms FILL(linear)") match {
      case ExecResult.Rows(df) =>
        val got = df.collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getLong(2)))
        // linear fill is bounded by its neighbors
        val vals = got.flatMap(_._2)
        assert(vals.nonEmpty && vals.min >= 0.0 && vals.max <= 89.0)
        assert(got.filter(_._3 == 0).forall(_._2.isDefined))
      case other => fail(s"expected Rows, got $other")
    }
    exec.executeSql("SELECT avg(value) FROM temperatures SAMPLE BY 100ms FILL(null)") match {
      case ExecResult.Rows(df) =>
        val got = df.collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getLong(2)))
        assert(got.exists(g => g._3 == 0 && g._2.isEmpty)) // gaps stay null
      case other => fail(s"expected Rows, got $other")
    }
    exec.executeSql("SELECT min(value) FROM temperatures SAMPLE BY 1s FILL(prev)") match {
      case ExecResult.Err(code, msg) =>
        assert(code == ErrCode.Unsupported && msg.contains("FILL"), s"$code $msg")
      case other => fail(s"expected Err, got $other")
    }
  }

  test("WHERE chains filter on value and timestamp (stubbed in reference; statement_execute.c:390-394)") {
    val got = rowsOf(exec.executeSql(
      s"SELECT value FROM temperatures WHERE value >= 10 AND value < 13 AND timestamp > ${ts(10)}"))
    assert(got == Seq((ts(11), 11.0), (ts(12), 12.0)))
    exec.executeSql("SELECT value FROM temperatures WHERE bogus > 1") match {
      case ExecResult.Err(ErrCode.UnknownKey, _) => ()
      case other => fail(s"expected UnknownKey, got $other")
    }
  }

  test("WHERE OR unions AND-groups (dialect extension; tokenless in reference)") {
    val got = rowsOf(exec.executeSql(
      s"SELECT value FROM temperatures WHERE value < 2 OR value >= 88 AND timestamp > ${ts(0)}"))
    assert(got == Seq((ts(0), 0.0), (ts(1), 1.0), (ts(88), 88.0), (ts(89), 89.0)))
    // unknown key inside any OR group is still rejected
    exec.executeSql("SELECT value FROM temperatures WHERE value < 2 OR bogus > 1") match {
      case ExecResult.Err(ErrCode.UnknownKey, _) => ()
      case other => fail(s"expected UnknownKey, got $other")
    }
  }

  test("LIMIT applies to ordered results (parsed-but-unapplied in reference)") {
    val got = rowsOf(exec.executeSql("SELECT value FROM temperatures LIMIT 5"))
    assert(got == (0 until 5).map(i => (ts(i), i.toDouble)))
  }

  test("invalid range (t0 > t1) is an error, not an empty result (timeseries_test.c:242-255)") {
    exec.executeSql(s"SELECT value FROM temperatures BETWEEN ${ts(5)} AND ${ts(1)}") match {
      case ExecResult.Err(ErrCode.InvalidRange, _) => ()
      case other => fail(s"expected InvalidRange, got $other")
    }
  }

  test("out-of-order inserts stay timestamp-ordered and complete (timeseries_test.c:310-355)") {
    exec.executeSql("CREATE ooo")
    val rnd = new scala.util.Random(49)
    val shuffled = rnd.shuffle((0 until 60).toList)
    val vals = shuffled.map(i => s"(${ts(i)}, $i.0)").mkString(", ")
    exec.executeSql(s"INSERT INTO ooo VALUES $vals")
    // +5 s out-of-window points (delta 5e9, timeseries_test.c:366)
    exec.executeSql(s"INSERT INTO ooo VALUES (${ts(0) + 5000000000L}, 1000.0)")
    val got = rowsOf(exec.executeSql("SELECT value FROM ooo"))
    assert(got.size == 61)
    assert(got.map(_._1) == got.map(_._1).sorted)
    assert(got.count(_._2 == 1000.0) == 1)
  }

  test("duplication policy: ignore drops duplicate timestamps, insert keeps them (timeseries.h:43)") {
    exec.executeSql("CREATE dup-ignore 0 'ignore'")
    exec.executeSql(s"INSERT INTO dup-ignore VALUES (${ts(0)}, 1.0), (${ts(0)}, 2.0)")
    exec.executeSql(s"INSERT INTO dup-ignore VALUES (${ts(0)}, 3.0)")
    assert(rowsOf(exec.executeSql("SELECT value FROM dup-ignore")).size == 1)

    exec.executeSql("CREATE dup-insert 0 'insert'")
    exec.executeSql(s"INSERT INTO dup-insert VALUES (${ts(0)}, 1.0), (${ts(0)}, 2.0)")
    exec.executeSql(s"INSERT INTO dup-insert VALUES (${ts(0)}, 3.0)")
    assert(rowsOf(exec.executeSql("SELECT value FROM dup-insert")).size == 3)
  }

  test("INSERT VALUE uses server-assigned now() (statement_parse.c:983-996)") {
    exec.executeSql("CREATE nowts")
    exec.executeSql("INSERT INTO nowts VALUE 42.5")
    assert(rowsOf(exec.executeSql("SELECT value FROM nowts")) == Seq((FixedNow, 42.5)))
  }

  test("meta commands list databases and series (stubbed in reference; statement_execute.c:467-471)") {
    exec.executeSql(".databases") match {
      case ExecResult.Listing(dbs) => assert(dbs.contains("testdb"))
      case other => fail(s"expected Listing, got $other")
    }
    exec.executeSql(".timeseries") match {
      case ExecResult.Listing(series) => assert(series.contains("temperatures"))
      case other => fail(s"expected Listing, got $other")
    }
  }

  test("DELETE series and database (stubbed in reference; statement_execute.c:461-465)") {
    exec.executeSql("CREATE doomed")
    assert(exec.executeSql("DELETE doomed FROM testdb").isInstanceOf[ExecResult.Ack])
    exec.executeSql("SELECT value FROM doomed") match {
      case ExecResult.Err(ErrCode.TsNotFound, _) => ()
      case other => fail(s"expected TsNotFound, got $other")
    }
    exec.executeSql("CREATEDB doomed-db")
    assert(exec.executeSql("DELETE doomed-db").isInstanceOf[ExecResult.Ack])
    exec.executeSql(".databases") match {
      case ExecResult.Listing(dbs) => assert(!dbs.contains("doomed-db"))
      case other => fail(s"expected Listing, got $other")
    }
  }

  test("errors: querying missing series / using missing db (statement_execute.h:11-26)") {
    exec.executeSql("SELECT value FROM nope") match {
      case ExecResult.Err(ErrCode.TsNotFound, _) => ()
      case other => fail(s"expected TsNotFound, got $other")
    }
    exec.executeSql("USE nope-db") match {
      case ExecResult.Err(ErrCode.DbNotFound, _) => ()
      case other => fail(s"expected DbNotFound, got $other")
    }
  }

  test("bucket assignment agrees with pruning at bucket boundaries (exact floorDiv)") {
    // epoch-nanos exceed 2^53: double-division bucketing rounds a point
    // 1 ns below a boundary UP into the next bucket, which range
    // pruning then skips — this is the silent-data-loss regression case
    exec.executeSql("CREATE boundary-ts")
    val bucketNs = 900L * 1000000000L
    val boundary = (Math.floorDiv(Base, bucketNs) + 1) * bucketNs
    exec.executeSql(
      s"INSERT INTO boundary-ts VALUES (${boundary - 1}, 1.0), ($boundary, 2.0)")
    val below = rowsOf(exec.executeSql(
      s"SELECT value FROM boundary-ts BETWEEN ${boundary - 10} AND ${boundary - 1}"))
    assert(below == Seq((boundary - 1, 1.0)))
    val at = rowsOf(exec.executeSql(
      s"SELECT value FROM boundary-ts BETWEEN $boundary AND ${boundary + 10}"))
    assert(at == Seq((boundary, 2.0)))
  }

  test("empty-range aggregates are EmptyResultset errors, not null records (statement_execute.h:11-26)") {
    val beyond = ts(89) + 1000000L
    for (q <- Seq(
        s"SELECT min(value) FROM temperatures BETWEEN $beyond AND ${beyond + 10}",
        s"SELECT max(value) FROM temperatures BETWEEN $beyond AND ${beyond + 10}",
        s"SELECT avg(value) FROM temperatures BETWEEN $beyond AND ${beyond + 10}",
        s"SELECT latest(value) FROM temperatures BETWEEN $beyond AND ${beyond + 10}")) {
      exec.executeSql(q) match {
        case ExecResult.Err(ErrCode.EmptyResultset, _) => ()
        case other => fail(s"$q => expected EmptyResultset, got $other")
      }
    }
  }

  test("64-bit overflow literals are errors, not exceptions") {
    assert(graft.tsql.Parser.parse(
      "SELECT value FROM t BETWEEN 99999999999999999999999 AND 1").isLeft)
    assert(graft.tsql.Parser.parse(
      "SELECT value FROM t BETWEEN 99999999999999999999d AND 1").isLeft)
    assert(graft.tsql.Parser.parse(
      "SELECT value FROM t BETWEEN 9999999999999999999d AND 1").isLeft) // scale overflow
  }

  test("retention 0 means disabled, not expire-everything") {
    exec.executeSql("CREATE ret-zero 0 'insert'")
    exec.executeSql(s"INSERT INTO ret-zero VALUES (${FixedNow - 3600L * 1000000000L}, 1.0)")
    assert(catalog.enforceRetention("testdb", "ret-zero", FixedNow) == 0)
    assert(rowsOf(exec.executeSql("SELECT value FROM ret-zero")).size == 1)
  }

  test("retention reaper drops expired whole buckets only") {
    exec.executeSql("CREATE short-lived 30m")
    val old = FixedNow - 3600L * 1000000000L // 1 h ago: beyond 30 m retention
    exec.executeSql(s"INSERT INTO short-lived VALUES ($old, 1.0), ($FixedNow, 2.0)")
    assert(catalog.enforceRetention("testdb", "short-lived", FixedNow) >= 1)
    val got = rowsOf(exec.executeSql("SELECT value FROM short-lived"))
    assert(got == Seq((FixedNow, 2.0)))
  }

  test("compaction merges small files per bucket, preserving data") {
    exec.executeSql("CREATE compact-me")
    for (i <- 0 until 10)
      exec.executeSql(s"INSERT INTO compact-me VALUES (${Base + i}, $i.0)")
    assert(catalog.compact("testdb", "compact-me", maxFilesPerBucket = 2) == 1)
    val got = rowsOf(exec.executeSql("SELECT value FROM compact-me"))
    assert(got == (0 until 10).map(i => (Base + i, i.toDouble)))
  }

  test("slidingBy: every point lands in exactly width/slide end-labeled windows") {
    import spark.implicits._
    val slide = 1000000000L // 1 s
    val width = 4 * slide
    val df = ts.zipWithIndex.map { case (t, i) => (t, i.toDouble) }
      .toSeq.toDF("timestamp", "value")
    val out = SeriesOps.slidingBy(df, width, slide).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // labels are multiples of the slide
    assert(out.forall(_._1 % slide == 0))
    // total point-window memberships = k * n
    assert(out.map(_._3).sum == 4 * ts.length)
    // each window's sum equals the brute-force sum over [e-width, e)
    for ((e, s, n) <- out.take(20)) {
      val covered = ts.zipWithIndex.filter { case (t, _) => t >= e - width && t < e }
      assert(covered.size == n, s"window $e")
      assert(s == covered.map(_._2.toDouble).sum, s"window $e")
    }
    // boundary-aligned point: included in the window STARTING at t,
    // excluded from the one ending at t
    val aligned = SeriesOps.slidingBy(
      Seq((4 * slide, 7.0)).toDF("timestamp", "value"), width, slide)
      .collect().map(_.getLong(0)).sorted
    assert(aligned.toSeq == (5L to 8L).map(_ * slide))
  }

  test("aggregate statements execute once (no emptiness pre-probe; local result)") {
    // AQE legitimately splits one query into several jobs, so the guard
    // is: ONE SQL execution inside executeSql (the old isEmpty pre-probe
    // made it two), and ZERO jobs to consume the returned result (the
    // executor collected once and rewrapped as a LocalRelation).
    // `latest` reads its points on the driver: no SQL execution at all.
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs.incrementAndGet(); ()
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      for ((q, want) <- Seq(
          "SELECT min(value) FROM temperatures" -> 1,
          "SELECT max(value) FROM temperatures" -> 1,
          "SELECT avg(value) FROM temperatures" -> 1,
          "SELECT latest(value) FROM temperatures" -> 0,
          "SELECT earliest(value, 3) FROM temperatures" -> 1)) {
        org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(sc)
        execs.set(0)
        val res = exec.executeSql(q)
        org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(sc)
        assert(execs.get() == want, s"$q ran ${execs.get()} SQL executions, want $want")
        jobs.set(0)
        res match {
          case ExecResult.Rows(df) => assert(df.collect().nonEmpty)
          case ExecResult.Scalar(df) => assert(df.collect().nonEmpty)
          case other => fail(s"$q: expected rows, got $other")
        }
        org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(sc)
        assert(jobs.get() == 0, s"consuming $q launched ${jobs.get()} jobs, want 0")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("oneShot enforces the aggregate-only bound (bounded collect, loud breach)") {
    // an unbounded relation routed to the collect-and-rewrap path must
    // fail loudly, never pull a table onto the driver
    val big = spark.range(StatementExecutor.OneShotMaxRows + 5L).toDF("v")
    val ex = intercept[IllegalStateException] {
      exec.oneShot(big)(ExecResult.Rows)
    }
    assert(ex.getMessage.contains("invariant breach"))
    // within the bound: collected once, rewrapped as a local relation
    exec.oneShot(spark.range(3).toDF("v"))(ExecResult.Rows) match {
      case ExecResult.Rows(df) => assert(df.count() == 3)
      case other => fail(s"got $other")
    }
    // empty stays the reference's EmptyResultset taxonomy error
    exec.oneShot(spark.range(3).toDF("v").filter("v < 0"))(ExecResult.Rows) match {
      case ExecResult.Err(code, _) => assert(code == ErrCode.EmptyResultset)
      case other => fail(s"got $other")
    }
  }

  test("an acked INSERT is read by the next statement (read-your-writes)") {
    withFreshExec { (exec, catalog, _) =>
      for (i <- 0 until 5) {
        assert(exec.executeSql(s"INSERT INTO s VALUES (${1000 + i}, $i.0)") ==
          ExecResult.Ack("1 point(s) inserted, 0 error(s)"))
        // on disk by the ack, with no flush step
        assert(catalog.readSeries("fdb", "s").count() == i + 1)
      }
      assert(rowsOf(exec.executeSql("SELECT value FROM s")) ==
        (0 until 5).map(i => (1000L + i, i.toDouble)))
    }
  }

  test("INSERT now() resolves at statement time") {
    withFreshExec { (exec, _, tick) =>
      tick() // advances the injected clock
      exec.executeSql("INSERT INTO s VALUE 1.5")
      tick()
      exec.executeSql("INSERT INTO s VALUE 2.5")
      val got = rowsOf(exec.executeSql("SELECT value FROM s"))
      // distinct timestamps prove each VALUE saw its own now()
      assert(got.map(_._1).distinct.size == 2)
      assert(got.map(_._2).toSet == Set(1.5, 2.5))
    }
  }

  test("per-statement error counting and unknown-series rejection") {
    withFreshExec { (exec, _, _) =>
      assert(exec.executeSql("INSERT INTO nope VALUES (1, 1.0)") ==
        ExecResult.Err(ErrCode.TsNotFound, "timeseries 'nope' not found"))
      // 64-bit overflow literal is rejected at parse; use a date the
      // evaluator rejects to exercise row-level error counting
      assert(exec.executeSql("INSERT INTO s VALUES ('9999-99-99', 1.0), (5, 2.0)") ==
        ExecResult.Ack("1 point(s) inserted, 1 error(s)"))
    }
  }

  test("ignore policy: the first occurrence wins, within and across INSERTs") {
    withFreshExec { (exec, _, _) =>
      exec.executeSql("CREATE ig 0 'ignore'")
      assert(exec.executeSql("INSERT INTO ig VALUES (5, 1.0), (7, 4.0), (7, 5.0)") ==
        ExecResult.Ack("2 point(s) inserted, 0 error(s)"))
      // a later statement repeating a stored timestamp keeps the stored value
      assert(exec.executeSql("INSERT INTO ig VALUES (5, 2.0), (6, 3.0)") ==
        ExecResult.Ack("1 point(s) inserted, 0 error(s)"))
      assert(exec.executeSql("INSERT INTO ig VALUES (5, 9.9)") ==
        ExecResult.Ack("0 point(s) inserted, 0 error(s)"))
      assert(rowsOf(exec.executeSql("SELECT value FROM ig")) ==
        Seq((5L, 1.0), (6L, 3.0), (7L, 4.0)))
    }
  }

  test("REPL statements run in a per-statement escaped-cache scope") {
    withFreshExec { (exec, _, _) =>
      import spark.implicits._
      graft.core.EscapedCaches.release() // drain anything a prior test left
      exec.executeSql("INSERT INTO s VALUES (7, 1.5)")
      val out = new java.io.ByteArrayOutputStream()
      // the real statement path goes through Repl.run -> scopedStatement
      Console.withOut(new java.io.PrintStream(out)) {
        graft.cli.Repl.run(exec, "SELECT value FROM s")
      }
      assert(out.toString.contains("(stream) 1"), s"unexpected render: $out")
      // a statement whose execution registers an escaped persist (none
      // of today's tsql operators do — emulated through the same
      // scopedStatement wrapper run() uses) must have it drained by
      // return, and nothing may land in the global scope
      var tracked: org.apache.spark.sql.DataFrame = null
      graft.cli.Repl.scopedStatement {
        tracked = graft.core.EscapedCaches.persistTracked(
          (1 to 3).toDF("x").groupBy("x").count())
        tracked.count()
      }
      assert(tracked.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "REPL statement scope failed to drain its escaped persist")
      assert(graft.core.EscapedCaches.release() == 0,
        "a REPL statement leaked a cache into the global scope")
    }
  }
}
