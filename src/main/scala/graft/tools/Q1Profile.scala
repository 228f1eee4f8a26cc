package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only decomposition of the q1-class per-row cost (r11: q1_pricing
  * sits at 4.95x at 180M rows — the columnar-aggregation class). The
  * suspect: each sum_micro update routes through MicroLimbs, a
  * struct-returning static that allocates a GenericInternalRow + two
  * boxed longs PER ROW PER AGGREGATE (q1 carries 5 distinct sum_micro
  * children). This tool measures the headroom of an allocation-free
  * update by comparing against (a) plain double sums (the unsound
  * floor), (b) plain long sums of micros6(x) (exact per-row, no carry
  * buffer — overflows past ~9.2e18 micro-units so not the production
  * shape, but the alloc-free speed ceiling at 180M).
  * Run: sbt "runMain graft.tools.Q1Profile [dir]"
  */
object Q1Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption
      .getOrElse("/root/repo/target/testdata/sf300xl")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("q1-profile")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${32 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))

    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode("overwrite").format("noop").save()
      val reps = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[q1profile] $name%-28s ${reps.map(r => f"$r%.2f").mkString(" ")}")
    }

    val q  = col("l_quantity")
    val p  = col("l_extendedprice")
    val dp = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val ch = dp * (lit(1) + col("l_tax"))
    val di = col("l_discount")

    // the committed q1 shape (sum_micro = MicroLimbs struct per row)
    time("q1_sum_micro_current")(
      li.groupBy("l_returnflag", "l_linestatus").agg(
        call_function("sum_micro", q).as("s1"),
        call_function("sum_micro", p).as("s2"),
        call_function("sum_micro", dp).as("s3"),
        call_function("sum_micro", ch).as("s4"),
        call_function("sum_micro", di).as("s5"),
        count(lit(1)).as("n")))

    // unsound floor: plain double sums (order-dependent, but the
    // cheapest possible keyed 5-sum — the referent's vectorized shape)
    time("q1_double_sums")(
      li.groupBy("l_returnflag", "l_linestatus").agg(
        sum(q), sum(p), sum(dp), sum(ch), sum(di), count(lit(1))))

    // alloc-free exact per-row: long sums of micros6(x) — no carry
    // buffer, so only valid below 9.2e18 total micro-units (OK at 180M)
    time("q1_micros6_long_sums")(
      li.groupBy("l_returnflag", "l_linestatus").agg(
        sum(call_function("micros6", q)),
        sum(call_function("micros6", p)),
        sum(call_function("micros6", dp)),
        sum(call_function("micros6", ch)),
        sum(call_function("micros6", di)),
        count(lit(1))))

    // alloc-free with the SAME carry-limb buffer arithmetic expressed
    // over the single long (div/mod instead of the struct): measures
    // the expression-side cost of the carry without the allocation
    val LIMB = graft.functions.MicroSumOps.LIMB
    def limbed(c: org.apache.spark.sql.Column) = {
      val m = call_function("micros6", c)
      struct((m / LIMB).cast("long").as("hi"), (m % LIMB).as("lo"))
    }
    time("q1_micros6_divmod_sums")(
      li.groupBy("l_returnflag", "l_linestatus").agg(
        sum(limbed(q).getField("hi")), sum(limbed(q).getField("lo")),
        sum(limbed(p).getField("hi")), sum(limbed(p).getField("lo")),
        sum(limbed(dp).getField("hi")), sum(limbed(dp).getField("lo")),
        sum(limbed(ch).getField("hi")), sum(limbed(ch).getField("lo")),
        count(lit(1))))

    // isolation: plain long sums of the SAME hiLimb/loLimb statics the
    // aggregate calls (full domain incl. the rare big path), matched
    // buffer width (11 slots) — separates static-call cost from the
    // skip/carry expression overhead inside SumMicro's update
    def hl(c: org.apache.spark.sql.Column) = Seq(
      sum(call_function("hi_limb", c)), sum(call_function("lo_limb", c)))
    time("q1_hilo_plain_sums")(
      li.groupBy("l_returnflag", "l_linestatus").agg(
        hl(q).head, (hl(q)(1) +: (Seq(p, dp, ch, di).flatMap(hl) :+ count(lit(1)))): _*))

    // scan+filter floor
    time("scan_filter_count")(li.select(count(lit(1)).as("n")))

    spark.stop()
  }
}
