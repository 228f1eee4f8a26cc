package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SeriesOps
import graft.plans.SampleWindowPrune

/** The single wiring path: `GraftExtensions` is service-loaded, so a
  * session from a plain builder — no `withExtensions`, no conf, no
  * registration call, the way the benchmark harness and every main
  * build theirs — has graft's functions and its optimizer rule from
  * the moment it exists. */
class GraftExtensionsSpec extends AnyFunSuite {

  /** A freshly built plain session: its own builder, because a plain
    * builder is what this suite tests. getOrCreate would REUSE the
    * shared session, so clear the default and active sessions, build
    * fresh over the shared SparkContext (started first, so suite order
    * never makes this builder's master the JVM's), and restore them
    * afterwards. */
  private def withPlainSession(f: SparkSession => Unit): Unit = {
    graft.TestSpark.session
    val priorDefault = SparkSession.getDefaultSession
    val priorActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
    try f(SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    finally {
      SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
      priorDefault.foreach(SparkSession.setDefaultSession)
      priorActive.foreach(SparkSession.setActiveSession)
    }
  }

  private def unresolved(spark: SparkSession): Seq[String] =
    GraftFunctions.injections.map(_._1).filterNot(
      spark.sessionState.functionRegistry.functionExists)
      .map(_.funcName)

  test("every native function resolves through the extensions path") {
    withPlainSession { spark =>
      assert(GraftFunctions.injections.size >= 29)
      assert(unresolved(spark).isEmpty)
      import spark.implicits._
      val row = Seq(("the quick brown fox jumps high", Array(1.0f, 2.0f)))
        .toDF("text", "vec")
        .selectExpr(
          "size(shingles3(text)) AS shingles",
          "dot_dec(vec, vec) AS dd",
          "text_stats_scan(text).n_tokens AS toks",
          "q8_pack(vec).scale6 AS s6",
          "dot_int(q8_pack(vec).q, q8_pack(vec).q) AS di",
          "bpe_count(text) AS bpe",
          "lang_scan(text).en_hits AS en")
        .collect()(0)
      assert(row.getAs[Int]("shingles") == 4)
      assert(row.getAs[Double]("dd") == 5.0)
      assert(row.getAs[Long]("toks") == 6L)
      assert(row.getAs[Long]("s6") == 2000000L)
      assert(row.getAs[Long]("di") > 0L)
      assert(row.getAs[Long]("bpe") > 0L)
      assert(row.getAs[Long]("en") == 1L)
      // tiny-magnitude vector: published scale clamps to 1 (not 0) so
      // integer candidate scores don't all collapse to zero
      val tiny = Seq(Tuple1(Array(1e-8f, -2e-8f))).toDF("vec")
        .selectExpr("q8_pack(vec).scale6 AS s6").collect()(0)
      assert(tiny.getAs[Long]("s6") == 1L)
      // the aggregate function needs a grouped context to resolve
      val agg = Seq(("k", 1.25), ("k", 2.25)).toDF("k", "v")
        .groupBy("k").agg(expr("sum_micro(v) AS s")).collect()(0)
      assert(agg.getAs[Double]("s") == 3.5)
    }
  }

  test("newSession() inherits the functions") {
    withPlainSession { spark =>
      val child = spark.newSession()
      assert(unresolved(child).isEmpty)
      assert(child.sql("SELECT sum_micro(CAST(v AS DOUBLE)) FROM VALUES (1.5), (2.25) AS t(v)")
        .collect()(0).getDouble(0) == 3.75)
    }
  }

  test("the optimizer holds SampleWindowPrune exactly once") {
    withPlainSession { spark =>
      val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules
      assert(rules.count(_ eq SampleWindowPrune) == 1, rules)
    }
  }

  test("a label-filtered sampleBy pushes the raw-timestamp bound to parquet") {
    withPlainSession { spark =>
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-ext-spec")
      try {
        val path = dir.resolve("series").toString
        (0 until 5000).map(i => (i.toLong * 70, (i % 100).toDouble))
          .toDF("timestamp", "value").write.parquet(path)
        val df = SeriesOps.sampleBy(spark.read.parquet(path), 3600L)
          .filter(col("sample_ts") >= 36000L && col("sample_ts") <= 180000L)
        // ceil_3600(36000) − 3600 = 32400: the rule's derived scan bound
        val explained = df.queryExecution.executedPlan.toString
        assert(explained.contains("GreaterThanOrEqual(timestamp,32400)"), explained)
        assert(df.count() == 41)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
