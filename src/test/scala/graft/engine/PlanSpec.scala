package graft.engine

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.catalog.{SeriesMeta, TsCatalog}

/** Physical-plan regression guards (see docs/PLANS.md): these lock the
  * scan/join properties the 100 TB design depends on, so a refactor
  * that silently turns a pruned scan into a full scan (or an equality
  * join into a cross product) fails CI instead of only showing up as a
  * cluster bill. */
class PlanSpec extends AnyFunSuite with GraftSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("ts_range pushes the range predicate to the parquet scan in the raw column's unit") {
    val p = plan("ts_range")
    assert(p.contains("GreaterThanOrEqual(ts,"), p.take(2000))
    assert(p.contains("LessThan(ts,"), p.take(2000))
  }

  test("catalog range reads prune bucket partitions at plan time") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-plan-spec").toString
    try {
      val cat = new TsCatalog(spark, root)
      cat.createDb("p"); cat.createSeries("p", "s", SeriesMeta(None))
      // one point per 900 s bucket: 48 buckets, past Spark's parallel
      // listing threshold (32) for a whole-root read
      val bucketNs = 900L * 1000000000L
      val first = Math.floorDiv(1700000000000000000L, bucketNs)
      cat.insert("p", "s", (0 until 48).map(i =>
        ((first + i) * bucketNs + 7L, i.toDouble)).toDF("timestamp", "value"))
      val (t0, t1) = ((first + 10) * bucketNs, (first + 12) * bucketNs + 10L)
      val (df, jobs) = org.apache.spark.graft.ListenerBridge.jobsOf(spark.sparkContext)(
        cat.readSeries("p", "s", Some((t0, t1))))
      assert(jobs == 0, s"building the frame ran $jobs Spark job(s)")
      val scans = df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.size == 1, df.queryExecution.sparkPlan.toString)
      val scan = scans.head
      assert(scan.relation.location.rootPaths.map(_.getName).toSet ==
        (10 to 12).map(b => s"bucket=${first + b}").toSet,
        scan.relation.location.rootPaths.mkString(", "))
      assert(scan.partitionFilters.nonEmpty, scan.toString)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("GreaterThanOrEqual(timestamp,"), p.take(2000))
      assert(df.collect().map(_.getDouble(1)).toSeq.sorted == Seq(10.0, 11.0, 12.0))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("q5 star join broadcasts dimensions (no shuffle of dims, no cross product)") {
    val p = plan("q5_region_volume")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("minhash LSH candidate generation never degrades to a nested-loop join") {
    val p = plan("dedup_minhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("simhash pair blocking is an equality join (no nested loop / cross product)") {
    val p = plan("dedup_simhash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("semantic dedup's pairwise stage is an equality join on the cell id") {
    val p = plan("dedup_semantic")
    // the r10 assignment shape: the corpus crossed with the BROADCAST
    // CODEBOOK (k rows of model state, plan O(1) in k) — a
    // BuildRight Cross nested-loop whose build side is bounded, cached
    // once and textually repeated per InMemoryRelation reference in
    // explain output. The quadratic hazard — the pairwise stage — must
    // stay an equality join ON THE CELL ID, and no unbounded cross
    // join may appear anywhere
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("BuildRight, Cross")), p.take(2000))
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell#".r
      .findFirstIn(p).isDefined, p.take(2000))
    spark.catalog.clearCache()
  }

  test("IVF-PQ candidate generation and rerank are equality joins only") {
    val p = plan("sim_topk_ivf_pq")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    spark.catalog.clearCache()
  }

  test("incremental join delta broadcasts every delta side (bases never shuffle)") {
    val p = plan("join_incremental")
    // three BroadcastHashJoins (one per delta term); a SortMergeJoin
    // would mean a base was shuffled for delta-sized work
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("bigram LM model reuses the frequency exchange across branches") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val q = graft.ops.Terms.bigramSurprisal(docs, 415L, 445L)
    q.collect() // AQE reuse only appears in the final adaptive plan
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), p.take(3000))
  }

  test("block-dup stats derive the block relation once (cached, not re-scanned)") {
    val p = plan("text_dup_blocks")
    // both consumers (per-block doc counts, per-doc rollup) read the
    // cached block relation back — the Generate feeds the cache once
    // (the cached plan's own text reprints under each InMemoryTableScan,
    // so count the cache READS, not word_blocks occurrences)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
    spark.catalog.clearCache()
  }

  test("blocklist suppression joins only bloom candidates (constant sketch prefilter)") {
    val p = plan("dedup_blocklist")
    assert(p.contains("might_contain"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    // the anti join sits under the candidate filter branch: the
    // miss branch is a pure projection of the cache
    assert(p.contains("InMemoryTableScan"), p.take(2000))
    spark.catalog.clearCache()
  }

  test("bucketed join reads bucket-aligned — no shuffle exchange feeds the join") {
    // pin SMJ (a broadcast side would also be exchange-free, but the
    // claim under test is the bucket layout alignment)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (ot, lt) = graft.ops.Bucketed.ensurePair(spark, sfDir)
      val joined = spark.table(lt).join(spark.table(ot),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(!p.contains("Exchange"), // no shuffle above either scan
        p.take(3000))
    }
  }

  test("scan-shaped text ops have ZERO exchanges (repetition, classifier)") {
    Seq("text_rep_ngram", "text_classifier").foreach { k =>
      val p = plan(k)
      assert(!p.contains("Exchange"), s"$k:\n" + p.take(2000))
    }
  }

  test("keyed-window series ops pay exactly ONE shuffle (ewma, median, counter)") {
    Seq("win_ewma", "win_rolling_median", "ts_counter_increase").foreach { k =>
      val p = plan(k)
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n == 1, s"$k has $n exchanges:\n" + p.take(3000))
    }
  }

  test("bounded top-k aggregate combines map-side (no Window, partial agg below the exchange)") {
    val p = plan("win_top3_agg")
    assert(!p.contains("Window"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    // partial aggregation below the exchange is the point: the shuffle
    // carries <= k rows per (group, upstream partition), not every event
    assert(p.contains("partial_topk_records"), p.take(3000))
  }

  test("agg_percentiles never buffers a group in an aggregate (sort-rank plan)") {
    val p = plan("agg_percentiles")
    // the percentile() TypedImperativeAggregate materializes whole
    // groups in one buffer (OOM on a hot group at scale); the exact
    // plan must be window-sort + hash aggregate instead
    assert(!p.toLowerCase.contains("percentile"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
    assert(!p.contains("ObjectHashAggregate"), p.take(3000))
  }

  test("grouping sets derive levels from fine state: no Expand, corpus scanned once") {
    // r11 rework: .rollup()/.cube() plan an Expand (every input row
    // duplicated per grouping set); the fine-state form must not —
    // and AQE exchange reuse must serve every level from ONE corpus
    // pass (asserted from EXECUTED metrics: plan-text scan counts
    // double-count reused subtree printouts)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scanRows(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
      case s: FileSourceScanExec =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case q: QueryStageExec => scanRows(q.plan)
      case _: ReusedExchangeExec => 0L
      case other => other.children.map(scanRows).sum
    }
    val total = spark.read.parquet(s"$sfDir/events.parquet").count()
    for (key <- Seq("agg_rollup_sets", "agg_cube")) {
      val df = graft.SparkEntry.queries(key)(spark, sfDir)
      df.collect() // executes THIS queryExecution, so its metrics fill
      val plan = df.queryExecution.executedPlan
      assert(!plan.toString.contains("Expand"), s"$key plans an Expand")
      val rows = scanRows(plan)
      assert(rows == total, s"$key scanned $rows rows, table has $total " +
        "— the level union re-read the corpus instead of reusing the exchange")
    }
  }
}
