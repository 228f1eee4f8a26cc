package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Steady-state streaming throughput bench (dev/evidence tool — the
  * r8 VERDICT's streaming `weak`): the correctness gates prove
  * stream ≡ batch SEMANTICS but time only session startup + ONE
  * micro-batch + sink drain; this harness measures what the gates
  * cannot — sustained rows/s and state growth across MANY
  * micro-batches, with startup separated out.
  *
  * Protocol: the events (or documents) fixture is split into K
  * equal-row slice files (serial event_id/doc_id ranges — arrival
  * order, no global sort needed) staged under a temp dir with
  * strictly increasing file mtimes; the streaming file source reads
  * them with `maxFilesPerTrigger=1`, so the query executes exactly K
  * micro-batches of real fixture data. Per query we record, from
  * `StreamingQuery.recentProgress` (the engine's own per-trigger
  * accounting):
  *
  *  - `startup_s`  — the FIRST trigger's wall time (codegen + state
  *    store init + source listing; the part the gate timings conflate
  *    with throughput);
  *  - `rows_s`     — steady-state throughput: Σ inputRows / Σ
  *    triggerExecution over batches 3..K (the first two dropped as
  *    warm-up);
  *  - `state_rows` / `state_bytes` — the state store's row count and
  *    memory at the LAST trigger, plus `state_rows_per_batch`, the
  *    full per-batch trajectory (bounded-state evidence: keyed state
  *    must plateau at the key population, never track input volume);
  *  - `out_rows`   — total sink rows (sanity: the operator did work).
  *
  * Sink is `noop` — pure operator cost, no memory-table append.
  * Output: ONE compact JSON line on stdout; the full record (per-batch
  * arrays) to SPARK_GRAFT_STREAMBENCH_OUT (default
  * stream_bench_out.json). Env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_STREAM_BATCHES (default 12), SPARK_GRAFT_STREAM_ONLY.
  */
object StreamBench {

  private val eventsSliceSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("timestamp", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Slice `df` into `k` equal-row parquet files by ranges of the
    * serial `idCol` (arrival order in both fixtures), staged with
    * strictly increasing mtimes so the file source replays them in
    * order, one per trigger. */
  private def stageSlices(df: DataFrame, idCol: String, k: Int,
      tag: String): String = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_streambench_$tag")
    org.apache.commons.io.FileUtils.deleteDirectory(root)
    root.mkdirs()
    val b = df.agg(min(col(idCol)), max(col(idCol)), count(lit(1)))
      .collect()(0)
    val (lo, hi, n) = (b.getLong(0), b.getLong(1), b.getLong(2))
    require(n > 0, s"empty fixture for $tag")
    val per = (hi - lo + 1 + k - 1) / k
    val tmp = new java.io.File(root, "_build")
    (0 until k).foreach { i =>
      val sliceDir = new java.io.File(tmp, s"s$i")
      df.filter(col(idCol) >= lo + i * per && col(idCol) < lo + (i + 1) * per)
        .coalesce(1).write.mode("overwrite").parquet(sliceDir.toString)
      val part = sliceDir.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(root, f"slice_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    root.toString
  }

  private case class Bench(name: String, mode: String,
      build: (SparkSession, String, String) => DataFrame,
      source: String) // "events" | "documents"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "12").toInt
    val only: String => Boolean =
      sys.env.get("SPARK_GRAFT_STREAM_ONLY").map(_.split(",").toSet: String => Boolean)
        .getOrElse(_ => true)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-stream-bench")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.metricsEnabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.core.Tables
    import graft.streaming.StreamingIngest

    // ---- staging (events normalized to micros; documents as-is) ----
    val evRaw = Tables.load(spark, sfDir, "events")
    val ev = evRaw.select(col("event_id"), Tables.tsMicros(evRaw).as("timestamp"),
      col("user_id"), col("event_type"), col("value"))
    val evDir = stageSlices(ev, "event_id", k, "events")
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val docDir = stageSlices(docs, "doc_id", k, "documents")

    def evStream(s: SparkSession, dir: String): DataFrame =
      s.readStream.schema(eventsSliceSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
    def docStream(s: SparkSession, dir: String): DataFrame =
      s.readStream.schema(documentsSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)

    val benches = Seq(
      Bench("stream_anomaly", "append", (s, d, _) =>
        StreamingIngest.rollingZScoreStream(
          evStream(s, d).select("timestamp", "user_id", "event_id", "value")
            .as[StreamingIngest.ZEvent]).toDF(), "events"),
      Bench("stream_asof_join", "append", (s, d, _) =>
        StreamingIngest.asOfAnnotate(
          evStream(s, d).select("timestamp", "user_id", "event_type", "value")
            .as[StreamingIngest.AsOfEvent]).toDF(), "events"),
      Bench("stream_funnel", "append", (s, d, _) =>
        StreamingIngest.funnelStream(
          evStream(s, d).select("timestamp", "user_id", "event_type")
            .as[StreamingIngest.FunnelEvent],
          Seq("signup", "view", "purchase")).toDF(), "events"),
      Bench("stream_retention", "append", (s, d, _) =>
        StreamingIngest.retentionStream(
          evStream(s, d).select("timestamp", "user_id")
            .as[StreamingIngest.RetEvent]).toDF(), "events"),
      Bench("stream_dedup_watermarked", "append", (s, d, _) =>
        evStream(s, d)
          .select(timestamp_micros(col("timestamp")).as("event_time"),
            col("user_id"), col("event_type"), col("value"))
          .withWatermark("event_time", "1 hour")
          .dropDuplicatesWithinWatermark("user_id", "event_type", "value"),
        "events"),
      Bench("stream_top3", "complete", (s, d, _) =>
        evStream(s, d).groupBy("user_id")
          .agg(call_function("topk_records",
            col("value"), col("timestamp"), lit(3)).as("top")), "events"),
      Bench("stream_sample_by", "complete", (s, d, _) =>
        graft.engine.SeriesOps.sampleBy(
          evStream(s, d).select("timestamp", "value"), 3600000000L), "events"),
      // the r14 rollup twins: state = (type, hour) fold partials /
      // (type, day) HLL registers — bounded by the key population (and
      // lgK), never by value cardinality; the batch oracles apply
      // verbatim (associative merge / duplicate-insensitive updates)
      Bench("stream_hourly_rollup", "complete", (s, d, _) =>
        graft.ops.Incremental.hourlyPartials(
          evStream(s, d).select("event_type", "timestamp", "value")), "events"),
      Bench("stream_sketch_rollup", "complete", (s, d, _) =>
        evStream(s, d)
          .groupBy(col("event_type"),
            expr("timestamp div 86400000000").as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk")), "events"),
      Bench("stream_dedup_incremental", "complete", (s, _, dd) => {
        val isIn = graft.ops.Sampling.uniformHashPredicate(col("doc_id"), 20, "ingest")
        val existing = s.read.schema(documentsSchema)
          .parquet(s"$sfDir/documents.parquet").filter(!isIn)
        graft.ops.Dedup.suppressAgainstIndex(
          existing, docStream(s, dd).filter(isIn), 0.8)
      }, "documents"))

    def runOne(b: Bench): (String, String) = {
      // drain the escaped-cache registry before the block sweep (the
      // graft.Bench rule): clearCache alone leaves registry references
      graft.core.EscapedCaches.release()
      spark.sharedState.cacheManager.clearCache()
      System.gc(); Thread.sleep(150); System.gc()
      val df = b.build(spark, evDir, docDir)
      val q = df.writeStream.outputMode(b.mode).format("noop").start()
      try q.processAllAvailable() finally q.stop()
      val ps = q.recentProgress.filter(_.numInputRows > 0)
      val durs = ps.map(_.durationMs.get("triggerExecution").toLong / 1000.0)
      val rows = ps.map(_.numInputRows)
      val steady = ps.drop(2)
      val steadyDur = steady.map(_.durationMs.get("triggerExecution").toLong / 1000.0).sum
      val steadyRows = steady.map(_.numInputRows).sum
      val rowsS = if (steadyDur > 0) steadyRows / steadyDur else -1.0
      val lastState = ps.lastOption.flatMap(_.stateOperators.headOption)
      val stateRows = lastState.map(_.numRowsTotal).getOrElse(0L)
      val stateBytes = lastState.map(_.memoryUsedBytes).getOrElse(0L)
      val stateTraj = ps.map(_.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L))
      val outRows = ps.map(p => math.max(0L, p.sink.numOutputRows)).sum
      val compact = f""""${b.name}":{"batches":${ps.length},"rows":${rows.sum},""" +
        f""""startup_s":${durs.headOption.getOrElse(-1.0)}%.3f,"rows_s":$rowsS%.0f,""" +
        f""""state_rows":$stateRows,"state_bytes":$stateBytes,""" +
        f""""bytes_per_key":${if (stateRows > 0) stateBytes / stateRows else 0}}"""
      val full = compact.dropRight(1) +
        s""","out_rows":$outRows,"batch_s":[${durs.map(d => f"$d%.3f").mkString(",")}],""" +
        s""""batch_rows":[${rows.mkString(",")}],""" +
        s""""state_rows_per_batch":[${stateTraj.mkString(",")}]}"""
      (compact, full)
    }

    val results = benches.filter(b => only(b.name)).map { b =>
      try runOne(b)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[stream-bench] ${b.name} failed: ${e.getMessage}")
        (s""""${b.name}":{"error":true}""", s""""${b.name}":{"error":true}""")
      }
    }
    val head = s""""metric":"stream_steady","batches":$k,"sf":"$sfDir""""
    println("{" + head + ",\"queries\":{" + results.map(_._1).mkString(",") + "}}")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAMBENCH_OUT", "stream_bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      ("{" + head + ",\"queries\":{" + results.map(_._2).mkString(",") + "}}\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
