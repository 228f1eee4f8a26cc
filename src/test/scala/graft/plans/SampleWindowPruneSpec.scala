package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.engine.SeriesOps

/** SampleWindowPrune: a label-range filter over SAMPLE BY prunes the
  * aggregation INPUT (down to the parquet scan on a physical timestamp
  * column) without changing any result. */
class SampleWindowPruneSpec extends AnyFunSuite with BeforeAndAfterAll with GraftSpark {

  private val tmp = Files.createTempDirectory("graft-prune-spec").toString

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    super.afterAll()
  }

  private val I = 3600L // window interval
  private def series = {
    import spark.implicits._
    (0 until 50000).map(i => (i.toLong * 7, (i % 100).toDouble))
      .toDF("timestamp", "value")
  }

  /** The rule is in every session (GraftExtensions); the rule-off
    * baseline excludes it by name, the way any Spark rule is turned off.
    * `f` must plan (and run) inside the scope. */
  private def withoutRule[A](f: => A): A =
    withConf("spark.sql.optimizer.excludedRules" -> SampleWindowPrune.ruleName)(f)

  test("rule-on results are bit-identical to rule-off, all bound shapes") {
    val base = SeriesOps.sampleBy(series, I)
    val filters = Seq(
      col("sample_ts") >= 36000L && col("sample_ts") <= 180000L,
      col("sample_ts") > 36001L,
      col("sample_ts") < 180000L,
      col("sample_ts") === 72000L,
      lit(180000L) >= col("sample_ts") && col("sample_ts") =!= 0L)
    filters.foreach { pred =>
      val off = withoutRule(base.filter(pred).collect().map(_.toSeq).toSet)
      val on = base.filter(pred).collect().map(_.toSeq).toSet
      assert(on == off, s"pred $pred")
      assert(off.nonEmpty, s"pred $pred selects nothing — weak fixture")
    }
  }

  private def stored = {
    val path = s"$tmp/series"
    if (!new java.io.File(path).exists())
      series.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("the pruning filter lands below the label projection") {
    val df = SeriesOps.sampleBy(stored, I)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
    val optimized = df.queryExecution.optimizedPlan
    // the injected filter must carry raw-timestamp bounds:
    // ceil_I(36000) - I = 32400 (lower), floor_I(180000) = 180000 (upper)
    val pruneFilters = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("32400") => f
    }
    assert(pruneFilters.nonEmpty, optimized.toString)
  }

  test("on a physical timestamp column the bounds reach the parquet scan") {
    val df = SeriesOps.sampleBy(stored, I)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
    val (explained, optimized, rows) =
      (df.queryExecution.executedPlan.toString,
        df.queryExecution.optimizedPlan.toString, df.collect())
    // PushedFilters must contain the translated lower bound (the upper
    // bound is pushed too but Spark truncates the PushedFilters string;
    // both appear in full in the optimized plan's Filter, Or-ed with
    // their label-overflow wrap-zone escapes)
    assert(explained.contains("GreaterThanOrEqual(timestamp,32400)"),
      explained)
    assert(optimized.contains(">= 32400"), optimized)
    assert(optimized.contains("< 180000"), optimized)
    // and results still match the rule-off computation, whose scan
    // carries no derived bound
    val (offExplained, off) = withoutRule {
      val offDf = SeriesOps.sampleBy(stored, I)
        .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
      (offDf.queryExecution.executedPlan.toString,
        offDf.collect().map(_.toSeq).toSet)
    }
    assert(!offExplained.contains("GreaterThanOrEqual(timestamp,32400)"), offExplained)
    assert(rows.map(_.toSeq).toSet == off)
  }

  test("extreme literal bounds never flip to wrong pruning (overflow guard)") {
    // sample_ts >= Long.MinValue is always true; a wrapped ceil/−i
    // translation would turn it into an always-false scan bound
    val base = SeriesOps.sampleBy(stored, I)
    val preds = Seq(
      col("sample_ts") >= Long.MinValue,
      col("sample_ts") > Long.MinValue,
      col("sample_ts") <= Long.MaxValue,
      col("sample_ts") < Long.MaxValue,
      col("sample_ts") >= Long.MinValue && col("sample_ts") <= 180000L)
    preds.foreach { pred =>
      val off = withoutRule(base.filter(pred).collect().map(_.toSeq).toSet)
      val on = base.filter(pred).collect().map(_.toSeq).toSet
      assert(on == off, s"pred $pred")
      assert(on.nonEmpty, s"pred $pred")
    }
  }

  test("unit-projected timestamps (raw div scale) prune on the RAW column") {
    import spark.implicits._
    // nanos storage, micros view — the Tables.eventSeries pattern
    val path = s"$tmp/nanos"
    (0 until 50000).map(i => (i.toLong * 7000, (i % 100).toDouble))
      .toDF("raw_ns", "value").write.mode("overwrite").parquet(path)
    val micros = spark.read.parquet(path)
      .selectExpr("raw_ns div 1000 AS timestamp", "value")
    val df = SeriesOps.sampleBy(micros, I)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
    val (explained, rows) =
      (df.queryExecution.executedPlan.toString, df.collect())
    // bounds translated to the raw nanos column: t >= 32400 becomes
    // raw >= 32399*1000 + 1; t < 180000 becomes raw < 180000*1000
    assert(explained.contains("GreaterThanOrEqual(raw_ns,32399001)"), explained)
    assert(explained.contains("LessThan(raw_ns,180000000)"), explained)
    val off = withoutRule(SeriesOps.sampleBy(micros, I)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
      .collect().map(_.toSeq).toSet)
    assert(rows.map(_.toSeq).toSet == off && off.nonEmpty)
  }

  test("TIMESTAMP_NTZ micros projection prunes on the raw NTZ column") {
    import spark.implicits._
    // micros-as-TIMESTAMP_NTZ storage, micros-Long view — the
    // Tables.eventSeries pattern under the regenerated (r6+) fixture
    val path = s"$tmp/ntz"
    (0 until 50000).map(i => (i.toLong * 7, (i % 100).toDouble))
      .toDF("us", "value")
      .selectExpr("cast(timestamp_micros(us) as timestamp_ntz) AS ts", "value")
      .write.mode("overwrite").parquet(path)
    val raw = spark.read.parquet(path)
    val micros = raw.select(
      graft.core.Tables.tsMicrosOf(raw.schema("ts").dataType).as("timestamp"),
      col("value"))
    val df = SeriesOps.sampleBy(micros, I)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
    val (explained, rows) =
      (df.queryExecution.executedPlan.toString, df.collect())
    // exact micros projection (scale 1): t >= 32400 → ts >= ntz(32400us),
    // t < 180000 → ts < ntz(180000us) — pushed as NTZ-typed comparisons
    assert(explained.contains("GreaterThanOrEqual(ts,"), explained)
    assert(explained.contains("LessThan(ts,"), explained)
    val off = withoutRule(SeriesOps.sampleBy(micros, I)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
      .collect().map(_.toSeq).toSet)
    assert(rows.map(_.toSeq).toSet == off && off.nonEmpty)
  }

  test("sliding NTZ label bounds reach the scan through the micros projection") {
    import spark.implicits._
    val path = s"$tmp/ntz_slide"
    (0 until 50000).map(i => (i.toLong * 7, (i % 100).toDouble))
      .toDF("us", "value")
      .selectExpr("cast(timestamp_micros(us) as timestamp_ntz) AS ts", "value")
      .write.mode("overwrite").parquet(path)
    val raw = spark.read.parquet(path)
    val micros = raw.select(
      graft.core.Tables.tsMicrosOf(raw.schema("ts").dataType).as("timestamp"),
      col("value"))
    val df = SeriesOps.slidingBy(micros, I, S)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
    val (explained, rows) =
      (df.queryExecution.executedPlan.toString, df.collect())
    assert(explained.contains("GreaterThanOrEqual(ts,"), explained)
    assert(explained.contains("LessThan(ts,"), explained)
    val off = withoutRule(SeriesOps.slidingBy(micros, I, S)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
      .collect().map(_.toSeq).toSet)
    assert(rows.map(_.toSeq).toSet == off && off.nonEmpty)
  }

  test("rows in the label-overflow wrap zones are never pruned away") {
    import spark.implicits._
    // timestamps within one window of Long.MaxValue: the label
    // arithmetic overflows — whatever the engine does with that
    // (ANSI error or wrapped label), rule-on must do the SAME
    val path = s"$tmp/wrap"
    (Seq(Long.MaxValue - 1, Long.MaxValue - 3599) ++
      (0 until 1000).map(_.toLong * 7))
      .map(t => (t, 1.0)).toDF("timestamp", "value")
      .write.mode("overwrite").parquet(path)
    val wrapped = spark.read.parquet(path)
    def run(rule: Boolean): Either[String, Set[Seq[Any]]] = {
      def go = SeriesOps.sampleBy(wrapped, I)
        .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
        .collect().map(_.toSeq).toSet
      try Right(if (rule) go else withoutRule(go))
      catch { case e: Exception => Left(e.getClass.getSimpleName) }
    }
    assert(run(rule = true) == run(rule = false))
  }

  private val S = 900L // slide for the sliding-window cases (I = 4*S)

  test("sliding labels: rule-on results bit-identical, all bound shapes") {
    val base = SeriesOps.slidingBy(series, I, S)
    val filters = Seq(
      col("sample_ts") >= 36000L && col("sample_ts") <= 180000L,
      col("sample_ts") > 36001L,
      col("sample_ts") < 180000L,
      col("sample_ts") === 72000L,
      lit(180000L) >= col("sample_ts") && col("sample_ts") =!= 0L)
    filters.foreach { pred =>
      val off = withoutRule(base.filter(pred).collect().map(_.toSeq).toSet)
      val on = base.filter(pred).collect().map(_.toSeq).toSet
      assert(on == off, s"pred $pred")
      assert(off.nonEmpty, s"pred $pred selects nothing — weak fixture")
    }
  }

  test("sliding label bounds reach the scan through the unit projection") {
    import spark.implicits._
    val path = s"$tmp/nanos_slide"
    (0 until 50000).map(i => (i.toLong * 7000, (i % 100).toDouble))
      .toDF("raw_ns", "value").write.mode("overwrite").parquet(path)
    val micros = spark.read.parquet(path)
      .selectExpr("raw_ns div 1000 AS timestamp", "value")
    val df = SeriesOps.slidingBy(micros, I, S)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
    val (explained, rows) =
      (df.queryExecution.executedPlan.toString, df.collect())
    // lower: ceil_S(36000) − width(4·S=3600) = 32400 → raw ≥ 32399·1000+1;
    // upper: floor_S(180000) − 0 = 180000 → raw < 180000·1000
    assert(explained.contains("GreaterThanOrEqual(raw_ns,32399001)"), explained)
    assert(explained.contains("LessThan(raw_ns,180000000)"), explained)
    val off = withoutRule(SeriesOps.slidingBy(micros, I, S)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
      .collect().map(_.toSeq).toSet)
    assert(rows.map(_.toSeq).toSet == off && off.nonEmpty)
  }

  test("sliding wrap-zone rows are never pruned away") {
    import spark.implicits._
    val path = s"$tmp/wrap_slide"
    (Seq(Long.MaxValue - 1, Long.MaxValue - 3599) ++
      (0 until 1000).map(_.toLong * 7))
      .map(t => (t, 1.0)).toDF("timestamp", "value")
      .write.mode("overwrite").parquet(path)
    val wrapped = spark.read.parquet(path)
    def run(rule: Boolean): Either[String, Set[Seq[Any]]] = {
      def go = SeriesOps.slidingBy(wrapped, I, S)
        .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
        .collect().map(_.toSeq).toSet
      try Right(if (rule) go else withoutRule(go))
      catch { case e: Exception => Left(e.getClass.getSimpleName) }
    }
    assert(run(rule = true) == run(rule = false))
  }

  test("sliding fixpoint does not stack inserted filters") {
    val df = SeriesOps.slidingBy(stored, I, S).filter(col("sample_ts") >= 36000L)
    val optimized = df.queryExecution.optimizedPlan
    val pruneFilters = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("32400") => f
    }
    assert(pruneFilters.size == 1, optimized.toString)
  }

  test("STREAMING sliding label filter prunes the microbatch parquet scan") {
    import spark.implicits._
    // nanos-on-disk, micros-view stream: the Tables.eventSeries shape
    val srcDir = s"$tmp/stream_src"
    (0 until 50000).map(i => (i.toLong * 7000, (i % 100).toDouble))
      .toDF("raw_ns", "value").write.mode("overwrite").parquet(srcDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("raw_ns",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema).parquet(srcDir)
      .selectExpr("raw_ns div 1000 AS timestamp", "value")
    val agg = SeriesOps.slidingBy(stream, I, S)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
    val sink = "prune_stream_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(sink).start()
    val plan = try {
      q.processAllAvailable()
      org.apache.spark.sql.graft.StreamBridge.lastExecutedPlan(q)
    } finally q.stop()
    // the implied raw bounds must be pushed into the microbatch scan
    assert(plan.contains("GreaterThanOrEqual(raw_ns,32399001)"), plan)
    assert(plan.contains("LessThan(raw_ns,180000000)"), plan)
    // and the streamed result equals the batch computation (parity)
    val got = spark.table(sink).collect().map(_.toSeq).toSet
    val batch = SeriesOps.slidingBy(
      spark.read.parquet(srcDir).selectExpr("raw_ns div 1000 AS timestamp", "value"),
      I, S)
      .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
      .collect().map(_.toSeq).toSet
    assert(got == batch && got.nonEmpty)
  }

  test("no false fire: non-window aggregates and non-label filters untouched") {
    // groupBy on a plain column — the rule must not touch it
    val plain = series.groupBy("value").count().filter(col("count") > 0)
    assert(plain.count() == 100)
    // filter on the aggregate output, not the label
    val byN = SeriesOps.sampleBy(series, I).filter(col("n_points") > 100)
    assert(byN.count() > 0)
  }

  test("fixpoint batch does not stack filters (idempotency tag)") {
    val df = SeriesOps.sampleBy(stored, I).filter(col("sample_ts") >= 36000L)
    val optimized = df.queryExecution.optimizedPlan
    val pruneFilters = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("32400") => f
    }
    assert(pruneFilters.size == 1, optimized.toString)
  }
}
