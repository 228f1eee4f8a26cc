package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query and total
  * wall-clock seconds.
  *
  * Queries are fully materialized through the `noop` sink (all
  * partitions computed, nothing collected to the driver) — the honest
  * distributed cost, unlike `count()` which can short-circuit column
  * reads. A single tiny warm-up action amortizes JVM/codegen startup so
  * numbers reflect steady-state query cost.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3); the JSON
  * reports the per-query MEDIAN, so one-off scheduler/GC hiccups (the
  * ~15% run-to-run drift seen in round 2) can't masquerade as plan
  * regressions. The SQL cache is cleared before every rep: any
  * persist() inside a query plan (e.g. the shared shingle relation in
  * dedup_minhash) is part of that ONE query's cost, never carried
  * between reps or queries.
  *
  * Output channels (the r4/r5 `parsed: null` fix): stdout carries ONE
  * compact JSON line — medians only, no spread/raw, so the full line
  * fits inside the driver's bounded tail capture even with sbt's
  * trailing "[success]" line after it — and the complete record
  * (median/best/spread plus every raw rep) is written to
  * SPARK_GRAFT_BENCH_OUT (default ./bench_out.json) for forensics.
  */
object Bench {

  /** Headline set: time-series core, relational joins/aggregations,
    * window functions, dedup, similarity, text analysis. */
  private val headline = Seq(
    "ts_range", "ts_range_min", "ts_sample_by", "ts_where",
    "q1_pricing", "q3_top_revenue", "q5_region_volume",
    "win_top3_per_user", "win_sessionize", "agg_hourly_rollup",
    "text_stats", "dedup_exact", "dedup_minhash", "dedup_simhash",
    "sim_topk_brute", "sim_topk_lsh", "sim_topk_ivf",
    "asof_join", "range_join", "session_window_agg", "dedup_clusters",
    // best-of-3 shows the AMORTIZED bucketed-join cost: rep 1 pays the
    // one-time bucketed write, reps 2-3 are the exchange-free join
    // every repeated fact-join enjoys after the layout decision
    "join_bucketed_revenue",
    // round-4 additions: fused quality scan, gram-hash decontamination,
    // z-key layout arithmetic, batch-vs-corpus incremental dedup
    "text_quality_gopher", "decontam_overlap", "zorder_layout",
    "dedup_incremental", "pack_sequences", "mix_plan", "mm_frame_sample",
    "sim_topk_mrl",
    // round-5 additions: SemDeDup cells, PII scrub scan, block-dup
    // fraction, bloom-prefiltered blocklist suppression
    "dedup_semantic", "text_pii_redact", "text_dup_blocks",
    "dedup_blocklist", "text_similar_rare", "pack_length_buckets",
    "events_json_extract", "agg_rollup_sets", "agg_incremental_rollup",
    "pipeline_curate_corpus",
    // round-6 additions: unigram-LM perplexity-band filter, IVF-PQ ADC
    "text_lm_surprisal", "sim_topk_ivf_pq", "text_lm_bigram",
    // round-7 additions: zero-shuffle top-n-gram repetition scan,
    // scan-speed hashed-linear classifier inference, keyed-window EWMA,
    // reset-aware counter increase
    "text_rep_ngram", "text_classifier", "win_ewma", "ts_counter_increase",
    // bounded-buffer top-k aggregate vs its ranking-window twin
    "win_top3_agg",
    // round-8 additions: the r7 monitoring wave promoted (rolling
    // z-score, rolling median+p90, correlation, nearest as-of,
    // streaming top-k), containment dedup, context-window chunking,
    // day-partial HLL merge
    "win_anomaly", "win_rolling_median", "agg_corr", "asof_join_nearest",
    "stream_top3", "dedup_containment", "pack_chunk_overlap",
    "agg_sketch_merge", "agg_funnel", "emb_pca", "pipeline_pretrain_shards",
    // round-8 late wave: HTML strip + mojibake regex scans, anchored
    // LTTB grid selection, IVF-backed triplet mining
    "text_strip_html", "text_fix_mojibake", "ts_sample_lttb",
    "sim_hard_negatives", "profile_events", "text_ttr",
    "text_quality_calibrated", "pipeline_web_ingest",
    // round-9 additions: hot-band-capped skew dedup, graph analytics
    // over the near-dup graph, posting-list search, provenance mixing,
    // the JPEG pixel-decode tier
    "dedup_minhash_skew", "graph_pagerank", "graph_triangles",
    "text_bm25", "search_fuzzy", "mix_hosts", "mm_jpeg_pixels",
    // cluster-side model TRAINING: the linear quality probe
    "probe_train_quality",
    // round-10 additions: train/serve split scoring, compressed-index
    // recall evaluation
    "probe_holdout_quality", "sim_recall_pq",
    // round-11 additions: the hot-band cap's measured pair recall on
    // the planted-skew corpus, the placed-vs-rebuilt staleness pair
    // of the incrementally-maintained ANN index, and the bitmap-NDV
    // exact distinct over the integral ID columns
    "dedup_recall_minhash_capped", "sim_recall_incremental",
    "agg_bitmap_distinct",
    // the maintained fold without its verification harness — the
    // apples-to-apples twin of agg_incremental_rollup
    "agg_rollup_fold",
    // round-11 close: crawl-container ingest (WARC framing walk +
    // gzip members + HTTP parse, mm-class parse-vs-closed-form pair)
    "warc_extract",
    // round-12 additions: the bounded-state segmented sessionize (the
    // scale path past a whole-user grouped array's OOM boundary) and
    // the windowed funnel, now on the zero-row-shuffle recount shape
    "win_sessionize_seg", "agg_funnel_gap", "session_window_seg",
    // round-13 addition: the dictionary-declared hourly rollup (the
    // one-pass bitmap-NDV plan a declared category dictionary unlocks)
    "agg_hourly_rollup_dict",
    // round-14 addition: the production-shaped sketch-only rollup
    "agg_sketch_rollup",
    // the columnar dict kernel — the r14 falsification outcome: the
    // r13 "projection floor" was the row-decode boundary
    "agg_hourly_rollup_dict_col",
    // late-r14: corpus-trained BPE merge table (data-scale word count,
    // vocab-bounded driver fold, oracle replays the greedy loop)
    "text_bpe_train",
    // round-15: the INFERRED-dictionary kernels — the undeclared-corpus
    // exit for the last >2x-at-1B generic forms (scan-time dictionary
    // discovery off the parquet dictionary ids)
    "agg_rollup_fold_inferred", "agg_incremental_rollup_inferred",
    "agg_sketch_rollup_inferred",
    // round-16: the composed-input tier — filter-only plans run ON the
    // inferred kernels (FilterExec residual re-evaluated in the scan
    // loop); the fixture filter is a ~63%-selective raw-ts range
    "agg_rollup_fold_inferred_filtered",
    "agg_sketch_rollup_inferred_filtered")

  /** The bench fleet, for tooling (PlanDump) — same order as timed. */
  def headlineKeys: Seq[String] = headline

  /** One JVM telemetry snapshot as a JSON object string — the
    * fleet-drift instrumentation (r13 verdict #4): same-code fleets
    * degraded monotonically Spark-side (1.097 → 1.315 over four
    * back-to-back fleets, partial idle recovery) and "box floor
    * drift" names the symptom, not the mechanism. Candidates are all
    * JVM-lifetime state: JIT code-cache occupancy (eviction →
    * re-interpretation), heap growth after full GC (leaked driver
    * state), cumulative GC time, metaspace (generated classes from
    * ~90 codegen'd plans/fleet). Snapshots at fleet start/end make
    * the curve visible across a fleet sequence. */
  private def jvmTelemetry(): String = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.{ManagementFactory => mf}
    val gc = mf.getGarbageCollectorMXBeans.asScala
    val pools = mf.getMemoryPoolMXBeans.asScala
    def poolUsed(frag: String): Long = pools
      .filter(_.getName.toLowerCase.contains(frag)).map(_.getUsage.getUsed).sum
    def poolMax(frag: String): Long = pools
      .filter(_.getName.toLowerCase.contains(frag))
      .map(p => math.max(p.getUsage.getMax, 0L)).sum
    val heap = mf.getMemoryMXBean.getHeapMemoryUsage
    val classes = mf.getClassLoadingMXBean
    val comp = Option(mf.getCompilationMXBean)
    s"""{"uptime_ms":${mf.getRuntimeMXBean.getUptime},""" +
      s""""gc_count":${gc.map(_.getCollectionCount).sum},""" +
      s""""gc_time_ms":${gc.map(_.getCollectionTime).sum},""" +
      s""""heap_used_mb":${heap.getUsed / 1048576},""" +
      s""""heap_committed_mb":${heap.getCommitted / 1048576},""" +
      s""""codecache_used_mb":${poolUsed("codeheap") + poolUsed("code cache") >> 20},""" +
      s""""codecache_max_mb":${poolMax("codeheap") + poolMax("code cache") >> 20},""" +
      s""""metaspace_used_mb":${poolUsed("metaspace") >> 20},""" +
      s""""classes_loaded":${classes.getTotalLoadedClassCount},""" +
      s""""classes_unloaded":${classes.getUnloadedClassCount},""" +
      s""""jit_time_ms":${comp.filter(_.isCompilationTimeMonitoringSupported)
        .map(_.getTotalCompilationTime).getOrElse(-1L)},""" +
      s""""load1":${mf.getOperatingSystemMXBean.getSystemLoadAverage},""" +
      s""""os":${osTelemetry()}}"""
  }

  /** OS-side counters (/proc/meminfo) — the state that CAN persist
    * across fleets, since `run / fork := true` gives every fleet a
    * fresh benched JVM: page-cache pressure, dirty writeback backlog,
    * and actually-available memory are the box-floor candidates the
    * cross-fleet drift adjudication needs. -1 on non-Linux. */
  private def osTelemetry(): String = {
    val keys = Map("MemAvailable" -> "avail_mb", "Cached" -> "cached_mb",
      "Dirty" -> "dirty_mb", "MemFree" -> "free_mb",
      "SwapFree" -> "swap_free_mb", "Buffers" -> "buffers_mb")
    val got = try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().flatMap { l =>
        val p = l.split("[:\\s]+")
        keys.get(p(0)).map(name => name -> p(1).toLong / 1024)
      }.toMap
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Map.empty[String, Long] }
    keys.values.toSeq.sorted
      .map(n => s""""$n":${got.getOrElse(n, -1L)}""").mkString("{", ",", "}")
  }

  /** Self-describing box-state stamp (r15 verdict nit: BENCH_r15 was
    * captured on a post-burn box and its per-key numbers read as code
    * regressions to anyone diffing BENCH_r*.json without BASELINE.md).
    * `label` comes from GRAFT_BOX_STATE (the runner declares
    * "first-after-idle" / "post-burn" / etc.; "unspecified" when the
    * driver runs unlabeled) and the load/memory fields let a reader
    * judge the box cold from the artifact alone. */
  private def boxState(): String = {
    val label = sys.env.getOrElse("GRAFT_BOX_STATE", "unspecified")
    val esc = label.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"label":"$esc",""" +
      s""""load1":${java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage},""" +
      s""""os":${osTelemetry()}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // dev-only subset filter for iterating on one query's plan
    val only: String => Boolean =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet: String => Boolean)
        .getOrElse(_ => true)
    val spark = graft.core.GraftSession.build("graft-bench",
      Some(new java.io.File(sfDir)))
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = jvmTelemetry()

    // warm-up: session + parquet reader + the codegen paths every query
    // shares (scan, sort, hash aggregate) — so the FIRST timed query
    // isn't charged for one-time JVM/Janino initialization. No headline
    // query plan is executed here. A failed warm-up must DEGRADE to
    // cold-start timings, never kill the run (r6: one bad table
    // definition here zeroed the whole round's perf signal).
    try {
      spark.read.parquet(s"$sfDir/region.parquet").count()
      val evWarm = graft.core.Tables.eventSeries(spark, sfDir)
      evWarm.orderBy("timestamp").limit(1).collect()
      evWarm.groupBy((org.apache.spark.sql.functions.col("timestamp") % 2).as("k"))
        .count().write.mode("overwrite").format("noop").save()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] warm-up failed (continuing cold): ${e.getMessage}")
    }

    // a failed query records the sentinel -1 (and lands in "errors")
    // instead of its near-zero elapsed time — a crash must never make
    // the benchmark look faster
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        name: String): Double = {
      // drain the escaped-cache registry BEFORE the block sweep (r12
      // advice): clearCache() alone unpins blocks but leaves the
      // registry holding DataFrame/plan references forever in a
      // long-lived process — release() drops both
      graft.core.EscapedCaches.release()
      spark.sharedState.cacheManager.clearCache()
      // per-rep memo hygiene (r10 advice): without this, every IVF-family
      // rep after the first — and sim_recall_pq entirely, since it shares
      // a codebook key with sim_topk_ivf_pq — excluded k-means/PQ
      // training while the DuckDB oracle paid its full kmeans CTE chain
      // per run, so paired ratios partially measured caching policy.
      // Timings are TRAIN-INCLUSIVE on both engines.
      graft.ops.Similarity.clearCodebookMemo()
      // cleanup hygiene (r7 finding: pack_length_buckets degraded
      // monotonically ACROSS reps inside the full fleet while running
      // clean in isolation): dropping the SQL cache only unpins blocks
      // — the broadcast vars and shuffle files of ~40 preceding queries
      // stay resident until ContextCleaner processes their weak refs,
      // which needs a GC to enqueue them. Force that collection OUTSIDE
      // the timed region so every rep starts from a drained heap
      // instead of inheriting the fleet's accumulated pressure.
      // TWO collections with a breath between: the first enqueues the
      // weak refs, the async cleaner drains them, the second reclaims
      // what the drain released (one GC left a rep-3 2.6x spike on the
      // fleet's tail queries — 67-query window, dedup_containment).
      System.gc()
      Thread.sleep(150)
      System.gc()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9 }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
      }
    }

    // BENCH_ONLY may also name non-headline gate keys (scale-proof
    // sweeps over families the headline set doesn't carry) — they run
    // the same way; the default full-fleet run is unchanged
    val extras = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filterNot(headline.contains)
        .filter(SparkEntry.queries.contains))
      .getOrElse(Nil)
    val queryRuns: Seq[(String, Seq[Double])] =
      (headline ++ extras).filter(only).flatMap { name =>
        SparkEntry.queries.get(name).map { fn =>
          name -> (1 to reps).map(_ => timeOnce(fn, name))
        }
      }

    // write-path throughput: bulk-append the events series into a fresh
    // bucketed catalog (the reference's ts_insert analog)
    def ingestOnce(): Double = try {
      val root = java.nio.file.Files.createTempDirectory("graft_bench_ingest").toString
      val cat = new graft.catalog.TsCatalog(spark, root, bucketNs = 86400L * 1000000L)
      cat.createDb("b")
      cat.createSeries("b", "ev", graft.catalog.SeriesMeta(None))
      val pts = graft.core.Tables.eventSeries(spark, sfDir)
        .select("timestamp", "value")
      val t0 = System.nanoTime()
      cat.insert("b", "ev", pts)
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      dt
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] ingest failed: ${e.getMessage}"); -1.0
    }
    val runs = queryRuns ++
      (if (only("ingest_events")) Seq("ingest_events" -> (1 to reps).map(_ => ingestOnce()))
       else Nil)

    def median(rs: Seq[Double]): Double = { val ok = rs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0 }
    def best(rs: Seq[Double]): Double = { val ok = rs.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min }
    def spread(rs: Seq[Double]): Double = { val ok = rs.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.max - ok.min }
    def objOf(f: Seq[Double] => Double): String =
      runs.map { case (k, rs) => "\"" + k + f"""\":${f(rs)}%.3f""" }
        .mkString("{", ",", "}")
    val errors = runs.collect { case (k, rs) if rs.exists(_ < 0) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = runs.map(r => median(r._2)).filter(_ >= 0).sum
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$reps,"queries":${objOf(median)},"errors":$errors,"box_state":${boxState()},"sf":"$sfDir"}"""
    val raw = runs.map { case (k, rs) =>
      "\"" + k + "\":" + rs.map(r => f"$r%.3f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$reps,"queries":${objOf(median)},"best":${objOf(best)},"spread":${objOf(spread)},"raw":$raw,"errors":$errors,"jvm_start":$jvmStart,"jvm_end":${jvmTelemetry()},"box_state":${boxState()},"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    spark.stop()
  }
}
