package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only decomposition of agg_corr's per-row cost at scale (r11:
  * the ratio curve vs the embedded referent fell 9x → 4.1x → 2.68x at
  * 600k/18M/180M rows but stalls above 2x — this isolates which stage
  * of scan → quantize → products → grouped 9-sum carries the gap).
  * Run: SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.tools.CorrProfile"
  */
object CorrProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/repo/target/testdata/sf300xl")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("corr-profile")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${32 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.length > 1 && args(1) == "events") { eventsMode(spark, dir); spark.stop(); return }
    val li = spark.read.parquet(s"$dir/lineitem.parquet")

    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      // warm once, then 2 timed reps (page cache held by the OS)
      df.write.mode("overwrite").format("noop").save()
      val reps = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[corrprofile] $name%-28s ${reps.map(r => f"$r%.2f").mkString(" ")}")
    }

    val pre = li.select(col("l_returnflag"),
        floor(col("l_quantity") * 100 + 0.5).cast("long").as("qi"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("pi"))
      .selectExpr("l_returnflag", "qi", "pi", "qi * pi AS pxy",
        "qi * qi AS pxx", "pi * pi AS pyy")

    time("scan_1col_sum")(li.select(sum("l_quantity")))
    time("scan_3col_sums")(li.select(sum("l_quantity"),
      sum("l_extendedprice"), count("l_returnflag")))
    time("quantize_global_sums")(li.select(
      sum(floor(col("l_quantity") * 100 + 0.5).cast("long")),
      sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")),
      count("l_returnflag")))
    time("products_global_9sums")(pre.select(count(lit(1)),
      sum("qi"), sum("pi"),
      sum(expr("pxy div 1000000")), sum(expr("pxy % 1000000")),
      sum(expr("pxx div 1000000")), sum(expr("pxx % 1000000")),
      sum(expr("pyy div 1000000")), sum(expr("pyy % 1000000"))))
    time("grouped_key_only")(li.groupBy("l_returnflag").count())
    time("grouped_full_corr")(pre.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"), sum("qi").as("sx"), sum("pi").as("sy"),
      sum(expr("pxy div 1000000")).as("hxy"), sum(expr("pxy % 1000000")).as("lxy"),
      sum(expr("pxx div 1000000")).as("hxx"), sum(expr("pxx % 1000000")).as("lxx"),
      sum(expr("pyy div 1000000")).as("hyy"), sum(expr("pyy % 1000000")).as("lyy")))
    time("grouped_intkey_full")(pre.withColumn("rk", ascii(col("l_returnflag")))
      .groupBy("rk").agg(
        count(lit(1)).as("n"), sum("qi").as("sx"), sum("pi").as("sy"),
        sum(expr("pxy div 1000000")).as("hxy"), sum(expr("pxy % 1000000")).as("lxy"),
        sum(expr("pxx div 1000000")).as("hxx"), sum(expr("pxx % 1000000")).as("lxx"),
        sum(expr("pyy div 1000000")).as("hyy"), sum(expr("pyy % 1000000")).as("lyy")))
    time("grouped_3sums")(pre.groupBy("l_returnflag").agg(
      count(lit(1)), sum("qi"), sum("pi")))
    time("grouped_6sums")(pre.groupBy("l_returnflag").agg(
      count(lit(1)), sum("qi"), sum("pi"),
      sum(expr("pxy div 1000000")), sum(expr("pxy % 1000000")),
      sum(expr("pxx div 1000000"))))
    // pivoted: key cardinality is tiny and KNOWN after a bounded
    // 3-row pass — 30 conditional sums in ONE global (no-key) buffer
    val keys = Seq("A", "N", "R")
    val pivotAggs = keys.flatMap { kv =>
      def s(e: String) = sum(expr(s"CASE WHEN l_returnflag = '$kv' THEN $e END"))
      Seq(s("1"), s("qi"), s("pi"),
        s("pxy div 1000000"), s("pxy % 1000000"),
        s("pxx div 1000000"), s("pxx % 1000000"),
        s("pyy div 1000000"), s("pyy % 1000000"))
    }
    time("pivoted_global_27sums")(pre.select(pivotAggs: _*))
    // salted two-stage: stage 1 sums RAW products into 7 slots keyed by
    // (rf, (qi+pi)%4096) — each salt cell stays far under int64
    // overflow — stage 2 re-splits hi/lo over the ~12k partials
    val stage1 = pre
      .groupBy(col("l_returnflag"), expr("(qi + pi) % 4096").as("salt"))
      .agg(count(lit(1)).as("n"), sum("qi").as("sqi"), sum("pi").as("spi"),
        sum("pxy").as("spxy"), sum("pxx").as("spxx"), sum("pyy").as("spyy"))
    time("salted_two_stage")(stage1.groupBy("l_returnflag").agg(
      sum("n").as("n"), sum("sqi").as("sx"), sum("spi").as("sy"),
      sum(expr("spxy div 1000000")).as("hxy"), sum(expr("spxy % 1000000")).as("lxy"),
      sum(expr("spxx div 1000000")).as("hxx"), sum(expr("spxx % 1000000")).as("lxx"),
      sum(expr("spyy div 1000000")).as("hyy"), sum(expr("spyy % 1000000")).as("lyy")))
    // per-partition primitive accumulation over InternalRows (the
    // mapPartitions tier): same per-row div/mod decomposition, 3 rows
    // out per partition, tiny final merge
    time("mappartitions_primitive") {
      val quant = li.select(col("l_returnflag"),
        floor(col("l_quantity") * 100 + 0.5).cast("long").as("qi"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("pi"))
      val partials = quant.queryExecution.toRdd.mapPartitions { it =>
        val acc = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
        while (it.hasNext) {
          val r = it.next()
          val key = r.getUTF8String(0)
          var a = acc.get(key)
          if (a == null) { a = new Array[Long](9); acc.put(key.clone(), a) }
          a(0) += 1
          if (!r.isNullAt(1) && !r.isNullAt(2)) {
            val qi = r.getLong(1); val pi = r.getLong(2)
            val pxy = qi * pi; val pxx = qi * qi; val pyy = pi * pi
            a(1) += qi; a(2) += pi
            a(3) += pxy / 1000000L; a(4) += pxy % 1000000L
            a(5) += pxx / 1000000L; a(6) += pxx % 1000000L
            a(7) += pyy / 1000000L; a(8) += pyy % 1000000L
          }
        }
        import scala.jdk.CollectionConverters._
        acc.entrySet().iterator().asScala.map { e =>
          val a = e.getValue
          org.apache.spark.sql.Row(e.getKey.toString, a(0), a(1), a(2),
            a(3), a(4), a(5), a(6), a(7), a(8))
        }
      }
      import org.apache.spark.sql.types._
      val schema = StructType(
        StructField("l_returnflag", StringType) +:
          Seq("n", "sx", "sy", "hxy", "lxy", "hxx", "lxx", "hyy", "lyy")
            .map(StructField(_, LongType, nullable = false)))
      spark.createDataFrame(partials, schema).groupBy("l_returnflag").agg(
        sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
        sum("hxy").as("hxy"), sum("lxy").as("lxy"),
        sum("hxx").as("hxx"), sum("lxx").as("lxx"),
        sum("hyy").as("hyy"), sum("lyy").as("lyy"))
    }
    spark.stop()
  }

  /** Events-side decomposition (the r11 100M-event straggler windows):
    * isolates scan, grouped sum_micro, the md5 split chain, JSON
    * extraction variants, and the incremental-rollup machinery. */
  private def eventsMode(spark: SparkSession, dir: String): Unit = {
    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode("overwrite").format("noop").save()
      val reps = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[corrprofile] $name%-28s ${reps.map(r => f"$r%.2f").mkString(" ")}")
    }
    val ev = graft.core.Tables.eventSeries(spark, dir)
    val hourUs = 3600000000L
    time("ev_scan_count")(ev.select(count(lit(1))))
    time("hour_type_count")(ev.groupBy(
        (col("timestamp") - pmod(col("timestamp"), lit(hourUs))).as("h"),
        col("event_type")).agg(count(lit(1))))
    time("hour_type_summicro")(ev.groupBy(
        (col("timestamp") - pmod(col("timestamp"), lit(hourUs))).as("h"),
        col("event_type"))
      .agg(count(lit(1)), call_function("sum_micro", col("value").cast("double"))))
    time("fine_group_user")(ev.groupBy(
        (col("timestamp") - pmod(col("timestamp"), lit(hourUs))).as("h"),
        col("event_type"), col("user_id"))
      .agg(count(lit(1)), call_function("sum_micro", col("value").cast("double"))))
    val pctNative = pmod(graft.ops.TextFns.h60(
      concat(lit("incr:"), col("event_id").cast("string"))), lit(100L))
    time("split_h60_native")(ev.select(col("event_id"))
      .select(sum((pctNative < 80).cast("long"))))
    val pctLegacy = pmod(conv(substring(md5(
      concat(lit("incr:"), col("event_id").cast("string"))), 1, 15), 16, 10)
      .cast("long"), lit(100L))
    time("split_h60_legacy")(ev.select(col("event_id"))
      .select(sum((pctLegacy < 80).cast("long"))))
    val incrDf = graft.queries.AnalyticsSurface
      .queries("agg_incremental_rollup")(spark, dir)
    val plan = incrDf.queryExecution.executedPlan.toString
    println(s"[corrprofile] incr plan: scans=${
      plan.sliding(12).count(_ == "Scan parquet")} reused=${
      plan.contains("ReusedExchange")}")
    time("incremental_full")(incrDf)
    val raw = graft.core.Tables.load(spark, dir, "events")
    time("json_get_object")(raw.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type").agg(count(lit(1)), sum("k"), min("k"), max("k")))
    time("json_long_native")(raw.select(col("event_type"),
        expr("json_long(props, 'k')").as("k"))
      .groupBy("event_type").agg(count(lit(1)), sum("k"), min("k"), max("k")))
    time("json_from_json")(raw.select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType))))("k").as("k"))
      .groupBy("event_type").agg(count(lit(1)), sum("k"), min("k"), max("k")))
    time("sketch_merge_full")(graft.queries.AnalyticsSurface
      .queries("agg_sketch_merge")(spark, dir))
  }
}
