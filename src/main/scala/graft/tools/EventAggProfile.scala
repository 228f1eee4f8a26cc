package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only decomposition of the two slowest remaining event-side
  * constants at 100M events (bench_pair_events_1000x_r11d.json:
  * agg_hourly_rollup 5.34x, agg_funnel 4.41x) — isolates which stage
  * carries each gap and measures the candidate rework shapes before
  * any query changes:
  *
  *  - funnel: the 3-scan + 2-join frontier chain vs a single-scan
  *    grouped sorted-fold automaton (the win_sessionize_agg twin
  *    pattern applied to the funnel).
  *  - hourly: the (long, STRING, long) fine-group key vs all-primitive
  *    key shapes — HashAggregateExec's generated fast hash map
  *    (twolevel) only engages for fixed-width key schemas, so the
  *    event_type string may be evicting the fine phase from the fast
  *    path on every one of the 100M rows.
  *
  * Run: sbt "runMain graft.tools.EventAggProfile <sfDir>"
  */
object EventAggProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/testdata/sf1000x")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("event-agg-profile")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${32 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // GRAFT_EVPROFILE_ONLY=prefix1,prefix2 filters timed entries
    val only = sys.env.get("GRAFT_EVPROFILE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def time(name: String)(df: => DataFrame): Unit = {
      if (only.exists(ps => !ps.exists(name.startsWith))) return
      if (sys.env.contains("GRAFT_EVPROFILE_EXPLAIN")) {
        println(s"==== $name ===="); df.explain("formatted")
      }
      df.write.mode("overwrite").format("noop").save()
      val reps = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[evprofile] $name%-28s ${reps.map(r => f"$r%.2f").mkString(" ")}")
    }

    val ev = graft.core.Tables.eventSeries(spark, dir)
    val hourUs = 3600000000L
    val steps = Seq("signup", "view", "purchase")

    // ---- funnel decomposition ----
    time("f_current")(graft.ops.Funnels.funnel(ev, steps))
    time("f_scan_filter3")(ev.filter(col("event_type").isin(steps: _*))
      .select(col("user_id"), col("timestamp")))
    time("f_step1_frontier")(ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("timestamp").as("t")))
    // single-scan sorted-fold automaton (candidate twin)
    def foldFunnel: DataFrame = {
      val coded = ev.filter(col("event_type").isin(steps: _*))
        .select(col("user_id"),
          struct(col("timestamp").as("ts"),
            when(col("event_type") === steps(0), 1L)
              .when(col("event_type") === steps(1), 2L)
              .otherwise(3L).as("step")).as("e"))
      val reached = coded.groupBy("user_id")
        .agg(sort_array(collect_list(col("e"))).as("evs"))
        .select(expr(
          """aggregate(evs,
             named_struct('r', CAST(0 AS BIGINT), 'f', CAST(-1 AS BIGINT)),
             (acc, e) -> IF(e.step = acc.r + 1 AND e.ts > acc.f,
               named_struct('r', acc.r + 1, 'f', e.ts), acc),
             acc -> acc.r)""").as("reached"))
      val counts = reached.groupBy("reached").agg(count(lit(1)).as("c"))
      val stepRel = spark.range(1, steps.size + 1).select(col("id").as("step"))
      stepRel.join(counts, counts("reached") >= stepRel("step"))
        .groupBy("step").agg(sum("c").as("n_users"))
    }
    time("f_fold_twin")(foldFunnel)

    // r12 candidates: ONE user-key shuffle of the funnel-typed rows,
    // all per-user work after that single exchange.
    val codedBase = ev.filter(col("event_type").isin(steps: _*))
      .select(col("user_id"), col("timestamp").as("ts"),
        when(col("event_type") === steps(0), 0)
          .when(col("event_type") === steps(1), 1)
          .otherwise(2).as("sp"))

    // (a) window chain: three unordered-frame conditional minima over
    // partitionBy(user) — f1 reads f0's column, f2 reads f1's.
    def windowChain: DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val f = codedBase
        .withColumn("f0", min(when(col("sp") === 0, col("ts"))).over(w))
        .withColumn("f1",
          min(when(col("sp") === 1 && col("ts") > col("f0"), col("ts"))).over(w))
        .withColumn("f2",
          min(when(col("sp") === 2 && col("ts") > col("f1"), col("ts"))).over(w))
      val per = f.groupBy("user_id")
        .agg(max("f0").as("f0"), max("f1").as("f1"), max("f2").as("f2"))
      per.agg(count("f0").as("n1"), count("f1").as("n2"), count("f2").as("n3"))
        .select(expr("stack(3, CAST(1 AS BIGINT), n1, CAST(2 AS BIGINT), n2, CAST(3 AS BIGINT), n3) AS (step, n_users)"))
    }
    time("f_window_chain")(windowChain)

    // (b) sorted single-pass automaton: repartition(user) +
    // sortWithinPartitions(user, ts), one O(1)-state pass emitting a
    // per-partition reached histogram (users are partition-local).
    def automaton: DataFrame = {
      import spark.implicits._
      val hist = codedBase.as[(Long, Long, Int)]
        .repartition(col("user_id"))
        .sortWithinPartitions("user_id", "ts")
        .mapPartitions { it =>
          val h = new Array[Long](4)
          var cur = 0L; var have = false; var r = 0; var f = 0L
          for ((u, ts, sp) <- it) {
            if (!have || u != cur) { if (have) h(r) += 1; cur = u; have = true; r = 0; f = 0L }
            if (sp == r && r < 3 && (r == 0 || ts > f)) { r += 1; f = ts }
          }
          if (have) h(r) += 1
          (0 to 3).iterator.map(i => (i.toLong, h(i)))
        }.toDF("reached", "c")
      val stepRel = spark.range(1, steps.size + 1).select(col("id").as("step"))
      stepRel.join(hist, hist("reached") >= stepRel("step"))
        .groupBy("step").agg(sum("c").as("n_users"))
    }
    time("f_automaton")(automaton)

    // (c) two-phase interval trick (3 steps only): reached>=3 iff a
    // view exists strictly inside (minSignup, maxPurchase) — one
    // groupBy(user) for (f0, maxV, maxP), one co-partitioned recount
    // of view rows against the open interval; the user-key exchange
    // canonicalizes identically in both branches, so it's shuffled
    // once and reused.
    def twoPhase: DataFrame = {
      val stats = codedBase.groupBy("user_id").agg(
        min(when(col("sp") === 0, col("ts"))).as("f0"),
        max(when(col("sp") === 1, col("ts"))).as("mv"),
        max(when(col("sp") === 2, col("ts"))).as("mp"))
      val s3 = codedBase.filter(col("sp") === 1).join(stats, "user_id")
        .groupBy("user_id")
        .agg(max(when(col("ts") > col("f0") && col("ts") < col("mp"), 1L)).as("h3"))
      stats.join(s3, Seq("user_id"), "left")
        .agg(count("f0").as("n1"),
          count(when(col("mv") > col("f0"), 1L)).as("n2"),
          count(when(col("h3") === 1L, 1L)).as("n3"))
        .select(expr("stack(3, CAST(1 AS BIGINT), n1, CAST(2 AS BIGINT), n2, CAST(3 AS BIGINT), n3) AS (step, n_users)"))
    }
    time("f_twophase")(twoPhase)

    // (c') two-phase with the per-user stats BROADCAST into the view
    // recount: the stats relation is user-count-sized, so the probe
    // side never shuffles — both passes are map-side-combined
    // aggregates over straight parquet scans.
    def twoPhaseBc: DataFrame = {
      val stats = codedBase.groupBy("user_id").agg(
        min(when(col("sp") === 0, col("ts"))).as("f0"),
        max(when(col("sp") === 1, col("ts"))).as("mv"),
        max(when(col("sp") === 2, col("ts"))).as("mp"))
      val s3 = codedBase.filter(col("sp") === 1)
        .join(broadcast(stats.filter(col("f0").isNotNull && col("mp").isNotNull)
          .select("user_id", "f0", "mp")), "user_id")
        .filter(col("ts") > col("f0") && col("ts") < col("mp"))
        .select("user_id").distinct()
      val n3d = s3.agg(count(lit(1)).as("n3"))
      stats.agg(count("f0").as("n1"),
          count(when(col("mv") > col("f0"), 1L)).as("n2"))
        .crossJoin(n3d)
        .select(expr("stack(3, CAST(1 AS BIGINT), n1, CAST(2 AS BIGINT), n2, CAST(3 AS BIGINT), n3) AS (step, n_users)"))
    }
    time("f_twophase_bc")(twoPhaseBc)
    time("f_stats_only")(codedBase.groupBy("user_id").agg(
      min(when(col("sp") === 0, col("ts"))).as("f0"),
      max(when(col("sp") === 1, col("ts"))).as("mv"),
      max(when(col("sp") === 2, col("ts"))).as("mp")))

    // (d) general m-1-scan frontier chain: pass 1 = per-user stats
    // (f0 + per-step maxima, map-side combined, tiny shuffle);
    // passes 2..m-1 = one recount per INTERMEDIATE step joining the
    // user-sized previous frontier (AQE broadcasts it); the LAST step
    // needs no event pass: exists p > f_{m-2} iff maxP > f_{m-2}.
    def chainBc: DataFrame = {
      val stats = ev.filter(col("event_type").isin(steps: _*))
        .groupBy("user_id").agg(
          min(when(col("event_type") === steps(0), col("timestamp"))).as("f0"),
          max(when(col("event_type") === steps(1), col("timestamp"))).as("m1"),
          max(when(col("event_type") === steps(2), col("timestamp"))).as("m2"))
      val f1 = ev.filter(col("event_type") === steps(1))
        .select(col("user_id"), col("timestamp").as("ts"))
        .join(stats.filter(col("f0").isNotNull).select("user_id", "f0"), "user_id")
        .filter(col("ts") > col("f0"))
        .groupBy("user_id").agg(min("ts").as("f1"))
      val n1 = stats.agg(count("f0").as("n"))
      val n2 = f1.agg(count(lit(1)).as("n"))
      val n3 = f1.join(stats.select("user_id", "m2"), "user_id")
        .agg(count(when(col("m2") > col("f1"), 1L)).as("n"))
      n1.select(lit(1L).as("step"), col("n").as("n_users"))
        .unionByName(n2.select(lit(2L).as("step"), col("n").as("n_users")))
        .unionByName(n3.select(lit(3L).as("step"), col("n").as("n_users")))
    }
    time("f_chain_bc")(chainBc)

    // ---- rollup_fold constant (r12 weak #3): string fine key vs
    // hash-coded fine key with a state-sized string recovery join ----
    time("r_fold_current")(graft.ops.Incremental.merge(
      graft.ops.Incremental.hourlyPartials(ev)))
    def foldHashKey: DataFrame = {
      val fine = ev.select(xxhash64(col("event_type")).as("tc"),
          (col("timestamp") - col("timestamp") % hourUs).as("hour_ts"),
          col("value"))
        .groupBy("tc", "hour_ts")
        .agg(count(lit(1)).as("n"),
          expr("sum(micros6(CAST(value AS DOUBLE)) div 1000000)").as("h6"),
          expr("sum(micros6(CAST(value AS DOUBLE)) % 1000000)").as("l6"))
      val names = ev.select(col("event_type")).distinct()
        .select(xxhash64(col("event_type")).as("tc"), col("event_type"))
      fine.join(broadcast(names), "tc").drop("tc")
        .select(col("event_type"), col("hour_ts"), col("n").cast("long").as("n"),
          round(((col("h6").cast("decimal(20,0)") * lit(1000000L).cast("decimal(7,0)") +
            col("l6").cast("decimal(20,0)")) *
            lit(new java.math.BigDecimal("0.000001"))).cast("double"), 4).as("sum_value"))
    }
    time("r_fold_hashkey")(foldHashKey)
    // how much is the micros6/limb arithmetic vs the key?
    // micros6 projected ONCE below the aggregate vs inline in both
    // limb sums (does codegen CSE the duplicate conversion?)
    def foldProjected: DataFrame = {
      val fine = ev.select(col("event_type"),
          (col("timestamp") - col("timestamp") % hourUs).as("hour_ts"),
          expr("micros6(CAST(value AS DOUBLE))").as("m6"))
        .groupBy("event_type", "hour_ts")
        .agg(count(lit(1)).as("n"),
          expr("sum(m6 div 1000000)").as("h6"),
          expr("sum(m6 % 1000000)").as("l6"))
      fine.select(col("event_type"), col("hour_ts"), col("n").cast("long").as("n"),
        round(((col("h6").cast("decimal(20,0)") * lit(1000000L).cast("decimal(7,0)") +
          col("l6").cast("decimal(20,0)")) *
          lit(new java.math.BigDecimal("0.000001"))).cast("double"), 4).as("sum_value"))
    }
    time("r_fold_projected")(foldProjected)
    time("r_fold_countonly")(ev.groupBy(col("event_type"),
      (col("timestamp") - col("timestamp") % hourUs).as("hour_ts"))
      .agg(count(lit(1)).as("n")))

    // ---- incremental-rollup premium over the fold (r13, verdict #1):
    // the gate pays fold + split hash per row + split-widened state +
    // a state-sized merge regroup; which part carries the 1.9x? ----
    val isNew = pmod(xxhash64(col("event_id"), lit("incr")), lit(100L)) < 20
    // (a) the shipped r13 branch-free shape (= the gate)
    time("r_incr_current")(graft.ops.Incremental.merge(
      graft.ops.Incremental.hourlyPartialsBy(ev, isNew).drop("split")))
    // (b) hash computed per row but kept OUT of the group key (rides
    // as a max() aggregate instead): isolates the pure per-row
    // xxhash64+pmod cost over the fold
    time("r_incr_hash_nokey")(graft.ops.Incremental.merge(
      graft.ops.Incremental.hourlyPartials(
        ev.withColumn("value", col("value") +
          (pmod(xxhash64(col("event_id"), lit("incr")), lit(100L)) * 0.0)))))
    // (c) split in the key, merge regroup OMITTED (finalize the
    // doubled state directly): isolates the merge stage's cost
    time("r_incr_nomerge")(graft.ops.Incremental.finalizeRollup(
      graft.ops.Incremental.hourlyPartialsBy(ev, isNew).drop("split")))
    // (d) REJECTED alternative — the r12 filtered-branch shape with
    // its forced persist + eager count (the branches' exchanges don't
    // canonicalize to a reuse, so without the persist the corpus
    // aggregates twice)
    var prevBranchCache: Option[DataFrame] = None
    def incrBranches: DataFrame = {
      // evict the PREVIOUS rep's identical-plan cache entry first:
      // persist() on an equal plan reuses the live entry, which made
      // every rep after the warm-up cache-warm (0.5 s of a 2.2 s
      // query at 100M) — each rep must pay the persist+count it ships
      prevBranchCache.foreach(df =>
        try df.unpersist(true) catch { case scala.util.control.NonFatal(_) => () })
      val bySplit = graft.ops.Incremental.hourlyPartialsBy(ev, isNew)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      prevBranchCache = Some(bySplit)
      bySplit.count()
      val out = graft.ops.Incremental.merge(
        bySplit.filter(!col("split")).drop("split"),
        bySplit.filter(col("split")).drop("split"))
      out
    }
    time("r_incr_branches_r12")(incrBranches)
    // each rep of (d) persisted a fresh state relation; drop them all
    spark.sharedState.cacheManager.clearCache()

    // ---- hourly decomposition ----
    def hourly(fineKey: Seq[org.apache.spark.sql.Column]): DataFrame =
      ev.groupBy(fineKey: _*)
        .agg(count(lit(1)).as("n_u"),
          call_function("sum_micro", col("value").cast("double")).as("s_u"))
    val hourTs = (col("timestamp") - pmod(col("timestamp"), lit(hourUs))).as("hour_ts")
    val typeCode = when(col("event_type") === "signup", 0)
      .when(col("event_type") === "purchase", 1)
      .when(col("event_type") === "view", 2)
      .when(col("event_type") === "click", 3)
      .otherwise(4).as("tc")
    time("h_current_fine")(hourly(Seq(hourTs, col("event_type"), col("user_id"))))
    time("h_fine_primitive")(hourly(Seq(hourTs, typeCode, col("user_id"))))
    time("h_fine_nostring_notype")(hourly(Seq(hourTs, col("user_id"))))
    time("h_fine_count_only")(
      ev.groupBy(hourTs, col("event_type"), col("user_id")).agg(count(lit(1)).as("n_u")))
    time("h_fine_prim_count_only")(
      ev.groupBy(hourTs, typeCode, col("user_id")).agg(count(lit(1)).as("n_u")))
    // full query, current vs primitive-code fine phase
    def hourlyFull(code: Boolean): DataFrame = {
      val fine =
        if (code) hourly(Seq(hourTs, typeCode, col("user_id")))
          .groupBy("hour_ts", "tc")
          .agg(sum("n_u").cast("long").as("n"), count(lit(1)).as("n_users"),
            round(call_function("sum_micro", col("s_u")), 4).as("sum_value"))
          .select(col("hour_ts"),
            element_at(array(lit("signup"), lit("purchase"), lit("view"),
              lit("click"), lit("error")), col("tc") + 1).as("event_type"),
            col("n"), col("n_users"), col("sum_value"))
        else hourly(Seq(hourTs, col("event_type"), col("user_id")))
          .groupBy("hour_ts", "event_type")
          .agg(sum("n_u").cast("long").as("n"), count(lit(1)).as("n_users"),
            round(call_function("sum_micro", col("s_u")), 4).as("sum_value"))
      fine.filter(col("n") >= 2)
    }
    time("h_full_current")(hourlyFull(code = false))
    time("h_full_primitive")(hourlyFull(code = true))
    // r12: ONE grouped pass with bitmap-NDV for the distinct-user
    // count under ALL-PRIMITIVE keys (r11 only measured bitmap under
    // the string key, where the ObjectHashAggregate string path lost)
    def hourlyBitmapPrim: DataFrame = {
      val fine = ev.groupBy(hourTs, typeCode)
        .agg(count(lit(1)).as("n"),
          expr("bitmap_ndv(user_id)").as("n_users"),
          round(call_function("sum_micro", col("value").cast("double")), 4)
            .as("sum_value"))
      fine.select(col("hour_ts"),
          element_at(array(lit("signup"), lit("purchase"), lit("view"),
            lit("click"), lit("error")), col("tc") + 1).as("event_type"),
          col("n"), col("n_users"), col("sum_value"))
        .filter(col("n") >= 2)
    }
    time("h_full_bitmap_prim")(hourlyBitmapPrim)
    // same plan with the ObjectHashAggregate sort-based fallback OFF:
    // the default threshold (128 groups per partition) silently turns
    // the one-pass bitmap into a 300M-row SORT once the (hour, type)
    // group count passes it — the r13 suspicion for why the "floor"
    // shape stopped winning past 100M
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
    time("h_full_bitmap_prim_nofb")(hourlyBitmapPrim)
    spark.conf.unset(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    // shippable form: no hardcoded type list — xxhash64 key + a
    // distinct-map recovery join (state-sized, broadcast)
    def hourlyBitmapHash: DataFrame = {
      val fine = ev.groupBy(hourTs, xxhash64(col("event_type")).as("tc"))
        .agg(count(lit(1)).as("n"),
          expr("bitmap_ndv(user_id)").as("n_users"),
          round(call_function("sum_micro", col("value").cast("double")), 4)
            .as("sum_value"))
      val names = ev.select(col("event_type")).distinct()
        .select(xxhash64(col("event_type")).as("tc"), col("event_type"))
      fine.join(broadcast(names), "tc")
        .select(col("hour_ts"), col("event_type"), col("n"), col("n_users"),
          col("sum_value"))
        .filter(col("n") >= 2)
    }
    time("h_full_bitmap_hash")(hourlyBitmapHash)

    // ---- dict-kernel decomposition (r13): scan + packed projection
    // floor vs the full kernel — how much does the imperative pass
    // add over just materializing its input rows? ----
    val dictTypes = Seq("signup", "purchase", "view", "click", "error")
    time("d_kernel_full")(graft.ops.DictRollup.hourlyRollup(ev, dictTypes))
    val dcode = dictTypes.zipWithIndex.tail
      .foldLeft(when(col("event_type") === dictTypes.head, 0)) {
        case (acc, (v, i)) => acc.when(col("event_type") === v, i)
      }.otherwise(lit(dictTypes.size))
    val dHourStart = col("timestamp") - pmod(col("timestamp"), lit(hourUs))
    time("d_proj_only")(ev.filter(col("timestamp").isNotNull)
      .select((expr(s"((timestamp - pmod(timestamp, ${hourUs}L)) div ${hourUs}L)") * 6
          + dcode.cast("long")).as("k"),
        col("user_id"),
        expr("micros6(CAST(value AS DOUBLE))").as("m6")))
    time("d_scan_count")(ev.select(col("timestamp"), col("event_type"),
      col("user_id"), col("value")).groupBy().count())

    // ---- r14 (verdict #5): FALSIFICATION TEST of the row-decode
    // floor. The dict kernel's 1B residual was pinned as ~90% input
    // projection (11.5-12.6 s of 12.5-15.3 s), and the claim "no
    // single-node aggregation strategy can cross it" rests on that
    // projection being a floor. But toRdd's rows are materialized
    // through ColumnarToRow + a codegen'd projection — a per-row
    // UnsafeRow write/read boundary the kernel itself never needed.
    // This variant folds the SAME slots (packed key, micro-limbs,
    // user bitmap) straight off the vectorized reader's ColumnarBatch
    // vectors: no UnsafeRow, no projection operator — pack, micros6
    // (the identical MicroSumOps.toMicros call the codegen'd
    // expression makes), and the when-chain (UTF8String equality)
    // run inside the kernel loop. If this beats d_proj_only, the
    // floor was the ROW BOUNDARY, not the scan; if it matches
    // d_kernel_full, the floor is confirmed and weak #3 retires.
    def columnarKernel: DataFrame = {
      import org.apache.spark.sql.types._
      val raw = spark.read.parquet(s"$dir/events.parquet")
        .select(col("ts"), col("event_type"), col("user_id"), col("value"))
      val scans = raw.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      require(scans.size == 1 && scans.head.supportsColumnar,
        s"expected one columnar parquet scan, got $scans")
      val scan = scans.head
      val names = scan.output.map(_.name)
      val (iTs, iTy, iUid, iVal) = (names.indexOf("ts"),
        names.indexOf("event_type"), names.indexOf("user_id"),
        names.indexOf("value"))
      // ts arrives as TIMESTAMP_NTZ (micros in the vector) on this
      // fixture generation; the nanos-as-long generation would need
      // a /1000 — assert instead of silently mis-bucketing
      require(scan.output(iTs).dataType == TimestampNTZType,
        s"probe expects TIMESTAMP_NTZ ts, got ${scan.output(iTs).dataType}")
      val dictU = dictTypes.map(
        org.apache.spark.unsafe.types.UTF8String.fromString).toArray
      val m = dictTypes.size + 1
      val partialSchema = StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("h6", LongType, nullable = false),
        StructField("l6", LongType, nullable = false),
        StructField("bm", BinaryType, nullable = false)))
      final class Slot {
        var n = 0L; var h6 = 0L; var l6 = 0L
        val bm = new graft.functions.NdvBitmap
      }
      val partials = scan.executeColumnar().mapPartitions { it =>
        val slots = new scala.collection.mutable.LongMap[Slot](64)
        var lastK = Long.MinValue
        var lastSlot: Slot = null
        var empty = true
        while (it.hasNext) {
          val batch = it.next()
          val (vTs, vTy, vUid, vVal) = (batch.column(iTs), batch.column(iTy),
            batch.column(iUid), batch.column(iVal))
          var i = 0
          val nRows = batch.numRows()
          while (i < nRows) {
            if (vTs.isNullAt(i)) throw new IllegalArgumentException(
              "columnar probe: null timestamp")
            val ts = vTs.getLong(i)
            var code = dictU.length // quarantine
            if (!vTy.isNullAt(i)) {
              val s = vTy.getUTF8String(i)
              var c = 0
              while (c < dictU.length && code == dictU.length) {
                if (dictU(c).equals(s)) code = c
                c += 1
              }
            }
            val k = Math.floorDiv(ts, hourUs) * m + code
            var slot = if (!empty && k == lastK) lastSlot else null
            if (slot == null) {
              slot = slots.getOrNull(k)
              if (slot == null) { slot = new Slot; slots.update(k, slot) }
              lastK = k; lastSlot = slot; empty = false
            }
            slot.n += 1
            if (!vVal.isNullAt(i)) {
              val x = vVal.getDouble(i)
              if (!java.lang.Double.isNaN(x) && !java.lang.Double.isInfinite(x)) {
                val m6 = graft.functions.MicroSumOps.toMicros(x)
                slot.h6 += m6 / 1000000L
                slot.l6 += m6 % 1000000L
              }
            }
            if (!vUid.isNullAt(i)) slot.bm.add(vUid.getLong(i))
            i += 1
          }
        }
        slots.iterator.map { case (k, s) =>
          org.apache.spark.sql.Row(k, s.n, s.h6, s.l6, s.bm.serialize())
        }
      }
      val merged = spark.createDataFrame(partials, partialSchema)
        .groupBy("k")
        .agg(sum("n").cast("long").as("n"),
          sum("h6").as("h6"), sum("l6").as("l6"),
          expr("bitmap_merge_ndv(bm)").as("n_users"))
      val sv = (col("h6").cast("decimal(20,0)") *
        lit(new java.math.BigDecimal(1000000)).cast("decimal(7,0)") +
        col("l6").cast("decimal(20,0)")) *
        lit(new java.math.BigDecimal("0.000001"))
      val decode = array((dictTypes.map(lit) :+ lit(null.asInstanceOf[String])): _*)
      merged.select(
          expr(s"((k - pmod(k, ${m}L)) div ${m}L) * ${hourUs}L").as("hour_ts"),
          element_at(decode, pmod(col("k"), lit(m.toLong)).cast("int") + 1)
            .as("event_type"),
          col("n"), col("n_users"),
          round(sv.cast("double"), 4).as("sum_value"))
        .filter(col("n") >= 2)
    }
    time("d_kernel_columnar")(columnarKernel)
    // the columnar scan alone (batch iteration, no per-row reads):
    // the true I/O+decompress floor under the kernel
    def columnarScanOnly: DataFrame = {
      import org.apache.spark.sql.types._
      val raw = spark.read.parquet(s"$dir/events.parquet")
        .select(col("ts"), col("event_type"), col("user_id"), col("value"))
      val scan = raw.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.head
      val counts = scan.executeColumnar().mapPartitions { it =>
        var n = 0L
        while (it.hasNext) n += it.next().numRows()
        Iterator.single(org.apache.spark.sql.Row(n))
      }
      spark.createDataFrame(counts,
        StructType(Seq(StructField("n", LongType, nullable = false))))
        .agg(sum("n").as("rows"))
    }
    time("d_columnar_scan_only")(columnarScanOnly)

    // ---- r15 (verdict #2): decompose the incremental columnar twin's
    // premium over the fold twin (1B bands 1.96-2.01x vs 1.35-1.38x;
    // the residual was pinned as "event_id decode + split hash" but
    // never split apart). Variants, all the 3-long SumSlot fold:
    //   i_split_none        no split (the fold twin — baseline)
    //   i_split_xxh_single  xxhash split, SINGLE last-key memo (the
    //                       shipped r14 shape)
    //   i_split_xxh_dual    xxhash split, one memo PER SPLIT BIT —
    //                       split bits alternate pseudo-randomly row
    //                       to row, so a single memo misses ~32% of
    //                       rows (P[same bit twice] = .8²+.2² = .68)
    //                       and pays a LongMap probe each miss
    //   i_split_cheap_dual  event_id decoded, split by one multiply
    //                       mix instead of the two-stage xxhash chain
    //                       (isolates the hash arithmetic)
    //   i_split_nodecode    split from the row INDEX (no event_id
    //                       column read at all — isolates the decode)
    def splitKernel(mode: Int): DataFrame = {
      import org.apache.spark.sql.types._
      val withId = mode != 4
      val cols = if (withId) Seq("ts", "event_id", "event_type", "value")
        else Seq("ts", "event_type", "value")
      val raw = spark.read.parquet(s"$dir/events.parquet")
        .select(cols.map(col): _*)
      val scan = raw.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.head
      val names = scan.output.map(_.name)
      val (iTs, iTy, iVal) = (names.indexOf("ts"),
        names.indexOf("event_type"), names.indexOf("value"))
      val iId = names.indexOf("event_id")
      require(scan.output(iTs).dataType == TimestampNTZType)
      val dictU = dictTypes.map(
        org.apache.spark.unsafe.types.UTF8String.fromString).toArray
      val m = dictTypes.size + 1
      val partialSchema = StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("h6", LongType, nullable = false),
        StructField("l6", LongType, nullable = false)))
      final class SumSlot { var n = 0L; var h6 = 0L; var l6 = 0L }
      val partials = scan.executeColumnar().mapPartitions { it =>
        val slots = new scala.collection.mutable.LongMap[SumSlot](64)
        var lastK0 = Long.MinValue; var lastSlot0: SumSlot = null
        var lastK1 = Long.MinValue; var lastSlot1: SumSlot = null
        var empty = true
        while (it.hasNext) {
          val batch = it.next()
          val (vTs, vTy, vVal) =
            (batch.column(iTs), batch.column(iTy), batch.column(iVal))
          val vId = if (withId) batch.column(iId) else null
          var i = 0
          val nRows = batch.numRows()
          while (i < nRows) {
            val ts = vTs.getLong(i)
            var code = dictU.length
            if (!vTy.isNullAt(i)) {
              val s = vTy.getUTF8String(i)
              var c = 0
              while (c < dictU.length && code == dictU.length) {
                if (dictU(c).equals(s)) code = c
                c += 1
              }
            }
            var k = (ts - ts % hourUs) / hourUs * m + code
            var split = 0L
            if (mode >= 1) {
              mode match {
                case 1 | 2 =>
                  var h = 42L
                  if (!vId.isNullAt(i))
                    h = org.apache.spark.sql.catalyst.expressions.XXH64
                      .hashLong(vId.getLong(i), h)
                  h = org.apache.spark.sql.catalyst.expressions.XXH64
                    .hashInt(graft.ops.DictRollup.SaltIncrLE, h)
                  if (Math.floorMod(h, 100L) < 20L) split = 1L
                case 3 =>
                  if (!vId.isNullAt(i)) {
                    var h = vId.getLong(i) * -7046029254386353131L
                    h ^= h >>> 32
                    if (Math.floorMod(h, 100L) < 20L) split = 1L
                  }
                case _ => split = i & 1L
              }
              k = k * 2 + split
            }
            var slot =
              if (mode == 1) { if (!empty && k == lastK0) lastSlot0 else null }
              else if (split == 0L) { if (!empty && k == lastK0) lastSlot0 else null }
              else { if (!empty && k == lastK1) lastSlot1 else null }
            if (slot == null) {
              slot = slots.getOrNull(k)
              if (slot == null) { slot = new SumSlot; slots.update(k, slot) }
              if (mode == 1 || split == 0L) { lastK0 = k; lastSlot0 = slot }
              else { lastK1 = k; lastSlot1 = slot }
              empty = false
            }
            slot.n += 1
            if (!vVal.isNullAt(i)) {
              val x = vVal.getDouble(i)
              if (!java.lang.Double.isNaN(x) && !java.lang.Double.isInfinite(x)) {
                val m6 = graft.functions.MicroSumOps.toMicros(x)
                slot.h6 += m6 / 1000000L
                slot.l6 += m6 % 1000000L
              }
            }
            i += 1
          }
        }
        slots.iterator.map { case (k, s) =>
          org.apache.spark.sql.Row(k, s.n, s.h6, s.l6) }
      }
      spark.createDataFrame(partials, partialSchema)
        .groupBy("k")
        .agg(sum("n").cast("long").as("n"),
          sum("h6").as("h6"), sum("l6").as("l6"))
    }
    time("i_split_none")(splitKernel(0))
    time("i_split_xxh_single")(splitKernel(1))
    time("i_split_xxh_dual")(splitKernel(2))
    time("i_split_cheap_dual")(splitKernel(3))
    time("i_split_nodecode")(splitKernel(4))

    // ---- string-key tax at SMALL group counts (5 groups) ----
    time("g_string_5grp")(ev.groupBy("event_type").agg(count(lit(1)).as("n")))
    time("g_code_5grp")(ev.groupBy(typeCode).agg(count(lit(1)).as("n")))
    time("g_hash_5grp")(ev.groupBy(xxhash64(col("event_type")).as("tc"))
      .agg(count(lit(1)).as("n")))
    // xxhash64 as the fine key (no when-chain; string recovered by a
    // state-sized join at finalize)
    time("h_fine_xxhash")(hourly(Seq(hourTs, xxhash64(col("event_type")).as("tc"),
      col("user_id"))))
    // funnel with the filtered projection persisted once (3 branches
    // filter the SAME projection differently — the persist-discipline
    // case) vs the 3-parquet-scan chain
    def funnelPersisted: DataFrame = {
      val base = ev.filter(col("event_type").isin(steps: _*))
        .select(col("user_id"), col("timestamp"), col("event_type"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = graft.ops.Funnels.funnel(base, steps)
      out
    }
    time("f_persisted")(funnelPersisted)

    spark.stop()
  }
}
