package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev measurement main for the quality-probe trainer (VERDICT r9
  * item 3): accuracy-vs-rounds curve plus end-to-end wall time of the
  * shipped treeAggregate fit on the sf corpus, cache cleared per rep
  * (the Bench convention). r10 measurements at sf0.1 (5k docs):
  * acc 0.769 @ 4 rounds → 0.794 @ 32; shipped path ~1.0 s steady
  * (was 5.3 s with the per-round selectExpr re-plan/re-codegen). */
object ProbeCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (iters <- Seq(4, 8, 16, 32)) {
      spark.sharedState.cacheManager.clearCache()
      val stats = graft.queries.TextSurface.queries("text_quality_gopher")(spark, sfDir)
      val t0 = System.nanoTime()
      val out = graft.ops.Probe.trainQualityProbe(stats, iters = iters).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      val nc = out(0).getLong(2); val n = out(0).getLong(3)
      val ws = out.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
      println(f"iters=$iters%2d acc=${nc.toDouble / n}%.4f time=$dt%.2fs $ws")
    }
    spark.stop()
  }
}
