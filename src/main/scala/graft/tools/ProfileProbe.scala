package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only decomposition of profile_events' per-branch cost at scale
  * (r11: a clean same-window pair at 100M events put it at 9.7x — the
  * prior window's oracle rep was anomalously slow and masked it).
  * Hypothesis: the event_id branch's EXACT countDistinct over a
  * ~100M-cardinality column exchanges every value.
  * Run: sbt "runMain graft.tools.ProfileProbe [dir]"
  */
object ProfileProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption
      .getOrElse("/root/repo/target/testdata/sf1000x")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("profile-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${32 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ev = spark.read.parquet(s"$dir/events.parquet")

    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode("overwrite").format("noop").save()
      val reps = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[profileprobe] $name%-28s ${reps.map(r => f"$r%.2f").mkString(" ")}")
    }

    for (c <- Seq("event_id", "user_id", "value", "event_type")) {
      time(s"branch_$c")(
        ev.select(col(c)).agg(count(lit(1)), count(col(c)),
          countDistinct(col(c)), min(col(c)), max(col(c))))
    }
    time("full_profile")(graft.ops.Profile.profile(ev,
      Seq("event_id", "user_id", "value"), Seq("event_type")))

    // shuffle-first exact distinct for the unique-key column: skip the
    // map-side partial dedup (pure waste at ndv ~= n; the 100M-entry
    // map-side hash tables likely spill to sort-based fallback) —
    // repartition raw by value, one local set per reducer, sum counts
    import spark.implicits._
    time("eventid_shuffle_first")({
      val counts = ev.select(col("event_id")).repartition(32, col("event_id"))
        .mapPartitions { it =>
          val seen = new java.util.HashSet[Long](8 << 20)
          var n = 0L
          while (it.hasNext) { if (seen.add(it.next().getLong(0))) n += 1 }
          Iterator.single(n)
        }
      counts.toDF("n").agg(sum("n"))
    })

    // one-pass HLL estimate of all four columns (the plan-steering
    // pass of an adaptive exact profile)
    time("all4_approx_one_pass")(
      ev.agg(approx_count_distinct("event_id"),
        approx_count_distinct("user_id"),
        approx_count_distinct("value"),
        approx_count_distinct("event_type")))

    // bitmap NDV: range-bounded partials, word-OR merge — the shape
    // profile() now uses for integral columns
    time("eventid_bitmap_ndv")(
      ev.select(col("event_id")).agg(
        call_function("bitmap_ndv", col("event_id"))))
    // parity check while we're here
    val exp = ev.agg(countDistinct(col("event_id"))).collect()(0).getLong(0)
    val got = ev.agg(call_function("bitmap_ndv", col("event_id")))
      .collect()(0).getLong(0)
    println(s"[profileprobe] parity bitmap=$got exact=$exp match=${got == exp}")
    spark.stop()
  }
}
