package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.engine.SeriesOps
import graft.ops.Multimodal

/** Streaming + multimodal entries for the correctness gate.
  *
  * `stream_sample_by` runs a REAL Structured Streaming query (parquet
  * file source → complete-mode tumbling aggregation → memory sink) and
  * returns the sink table; the oracle is the equivalent batch SQL —
  * this locks stream/batch semantic parity, Spark's core streaming
  * guarantee. `mm_features` runs the REAL multimodal header decoders
  * (BMP/PPM/WAV) over planted payloads; the oracle recomputes every
  * decoded feature in closed form from the fixture's generative
  * arithmetic (id-derived geometry + constant fill byte), including the
  * whole-payload byte checksum via little-endian byte-sum identities.
  */
object StreamSurface {

  /** Bounded-state gap-session DETAIL (see the queries-map entry):
    * phase 1 sessionizes within (user, 1 h bucket) partitions — the
    * window buffers ONE bucket, not a user's history — emitting
    * per-bucket session stubs (start, end, n); phase 2 sorts each
    * user's stubs (≤ span/gap + buckets of them — a session needs
    * > gap of trailing silence, so their count is TIME-bounded) and
    * folds, merging a stub into the open session when its start is
    * within `gapUs` of the running end (session_window coalesces an
    * event landing EXACTLY at prev + gap — the `> gap` break rule).
    * Output: (user_id, session_start, n). */
  private def sessionWindowSeg(ev: DataFrame, gapUs: Long = 1800000000L,
      bucketUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "bkt").orderBy("timestamp")
    val stubs = ev
      .select(col("user_id"), col("timestamp"),
        expr(s"timestamp div ${bucketUs}L").as("bkt"))
      .withColumn("prev", lag("timestamp", 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("timestamp") - col("prev") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "bkt", "sid")
      .agg(min("timestamp").as("start"), max("timestamp").as("end"),
        count(lit(1)).as("n"))
    stubs.groupBy("user_id")
      .agg(sort_array(collect_list(struct(
        col("start"), col("end"), col("n")))).as("ss"))
      .select(col("user_id"), explode(expr(s"""
        aggregate(ss,
          named_struct(
            'out', CAST(array() AS ARRAY<STRUCT<start: BIGINT, n: BIGINT>>),
            'cs', CAST(0 AS BIGINT), 'ce', CAST(0 AS BIGINT),
            'cn', CAST(0 AS BIGINT), 'fst', true),
          (acc, s) -> IF(acc.fst,
            named_struct('out', acc.out, 'cs', s.start, 'ce', s.end,
              'cn', s.n, 'fst', false),
            IF(s.start - acc.ce <= ${gapUs}L,
              named_struct('out', acc.out, 'cs', acc.cs, 'ce', s.end,
                'cn', acc.cn + s.n, 'fst', false),
              named_struct(
                'out', concat(acc.out,
                  array(named_struct('start', acc.cs, 'n', acc.cn))),
                'cs', s.start, 'ce', s.end, 'cn', s.n, 'fst', false))),
          acc -> IF(acc.fst, acc.out,
            concat(acc.out, array(named_struct('start', acc.cs, 'n', acc.cn)))))
        """)).as("s"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.n").as("n"))
  }

  private val HOUR_US = 3600000000L

  import org.apache.spark.sql.types._

  /** Shared source schemas (the streaming file source cannot infer).
    * `ts`'s type is taken from the staged file's OWN footer (nanos
    * fixtures read as Long, micros fixtures as TIMESTAMP_NTZ): a
    * hand-declared LongType over a micros fixture would silently read
    * the raw int64 and compress time 1000× — the r6 failure mode. */
  private def eventsSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Stage one parquet file into a per-(sfDir, file) temp DIRECTORY
    * (the streaming file source requires one). ALWAYS overwrites: a
    * stale copy after a regenerated fixture would silently diverge
    * from what the batch oracle reads. */
  private def stageParquet(dir: String, fname: String): String = synchronized {
    val safe = (dir + "_" + fname).replaceAll("[^A-Za-z0-9]", "_")
    val stageDir = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_stream_src_$safe")
    stageDir.mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/$fname"),
      new java.io.File(stageDir, fname).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    stageDir.toString
  }

  /** Stage the deterministic WARC fixture (built from `documents`) as
    * a parquet directory a file stream can tail — the arrival shape of
    * a live crawl: whole files land, records explode statelessly. */
  private def stagedWarc(s: SparkSession, dir: String): String = synchronized {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val staged = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_stream_warc_$safe").toString
    graft.sources.Warc.filesFromDocuments(Tables.load(s, dir, "documents"))
      .write.mode("overwrite").parquet(staged)
    staged
  }

  /** Streaming crawl ingest: WARC files arrive as a stream and the
    * record walk ([[graft.sources.Warc.records]]) runs as a pure
    * stateless flatMap — zero streaming state, append mode, so the
    * batch warc_extract oracle applies verbatim (stream ≡ batch on
    * the same fixture). */
  private def streamWarcIngest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val staged = stagedWarc(s, dir)
    val schema = new StructType()
      .add("file_id", LongType).add("payload", BinaryType)
    val recs = graft.sources.Warc.records(
      s.readStream.schema(schema).parquet(staged))
    runToTable(s, recs.filter(col("rec_type") === "response")
      .select(substring_index(col("url"), "/", -1).cast("long").as("doc_id"),
        col("url"), col("http_status"), col("content_mime"),
        col("body_bytes"), col("body")), "append")
  }

  /** Run a finite stream into a uniquely-named memory sink; return the
    * sink table.
    *
    * State-store width is sized from the SOURCE BYTES (optimization
    * r16, guide §2.2 "fewer, larger partitions"): a stateful operator
    * creates one state store per shuffle partition per micro-batch —
    * provider init, commit and snapshot are per-store fixed costs
    * independent of data volume — so a few-MB staged fixture paying
    * 32 stores per stage was pure overhead (measured: stream_top3
    * 2.26 s at 32 partitions vs 1.65 s at 4, values identical; at
    * cluster volumes the byte-derived count rises to the core count,
    * so nothing changes at scale). Aggregation results are
    * partition-count-independent. The conf override is scoped to the
    * streaming query (a started stream snapshots its conf; saved/
    * restored around the eager run). */
  private def runToTable(s: SparkSession,
      stream: DataFrame, mode: String): DataFrame = {
    val sinkName = "graft_stream_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val widthOverride = byteSizedWidth(s, stream)
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    widthOverride.foreach(v => s.conf.set("spark.sql.shuffle.partitions", v))
    try {
      val q = stream.writeStream.outputMode(mode)
        .format("memory").queryName(sinkName).start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      if (widthOverride.isDefined)
        s.conf.set("spark.sql.shuffle.partitions", saved)
    }
    s.table(sinkName)
  }

  /** Shuffle width from the file-stream sources' on-disk bytes:
    * ceil(bytes / 16 MB) clamped to [1, defaultParallelism]. None when
    * the source paths can't be read (leave the session width alone). */
  private def byteSizedWidth(s: SparkSession,
      stream: DataFrame): Option[String] = {
    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.filter(_.isFile).map(_.length()).sum)
        .getOrElse(0L)
    }
    try {
      val paths = stream.queryExecution.logical.collect {
        case sr: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
          sr.dataSource.options.get("path")
      }.flatten
      if (paths.isEmpty) None
      else {
        val bytes = paths.map(dirBytes).sum
        val par = s.sparkContext.defaultParallelism
        val w = math.max(1L, math.min(par.toLong,
          (bytes + (16L << 20) - 1) / (16L << 20)))
        Some(w.toString)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Stage the events file and probe its footer for the actual `ts`
    * encoding (one driver-side schema read, no data scan) — the stream
    * source needs an explicit schema that MATCHES the file. */
  private def stagedEvents(s: SparkSession, dir: String): (String, DataType) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val staged = stageParquet(dir, "events.parquet")
    (staged, s.read.parquet(staged).schema("ts").dataType)
  }

  /** The staged events file as a (timestamp micros, value) stream —
    * shared by every windowed streaming gate. */
  private def eventSeriesStream(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(Tables.tsMicrosOf(tsType).as("timestamp"), col("value"))
  }

  private def streamSampleBy(s: SparkSession, dir: String): DataFrame =
    runToTable(s, SeriesOps.sampleBy(eventSeriesStream(s, dir), HOUR_US), "complete")

  /** The delta/rate SAMPLE BY selectors as continuous queries — the
    * monitoring-counter primitives running on the live stream. Same
    * [[SeriesOps.sampleByFn]] plan as the batch gates (struct min/max
    * first/last records are ordinary aggregates, so the stateful
    * window state stays one struct pair per open window — bounded,
    * mergeable across micro-batches). */
  private def streamSampleDelta(s: SparkSession, dir: String): DataFrame =
    runToTable(s,
      SeriesOps.sampleByFn(eventSeriesStream(s, dir), HOUR_US, "delta"), "complete")

  private def streamSampleRate(s: SparkSession, dir: String): DataFrame =
    runToTable(s,
      SeriesOps.sampleByFn(eventSeriesStream(s, dir), HOUR_US, "rate"), "complete")

  /** M4 as a continuous query — the live dashboard feed: four plain
    * min/max aggregates per open window, bounded mergeable state. */
  private def streamSampleM4(s: SparkSession, dir: String): DataFrame =
    runToTable(s,
      SeriesOps.sampleByM4(eventSeriesStream(s, dir), HOUR_US), "complete")

  /** Sliding windows as a continuous query — the same explode +
    * grouped exact-sum plan as the batch [[SeriesOps.slidingBy]]
    * (stream/batch parity extends to overlapping windows; each point
    * lands in k = width/slide windows, a constant fan-out before the
    * stateful aggregation). */
  private def streamSliding(s: SparkSession, dir: String): DataFrame =
    runToTable(s,
      SeriesOps.slidingBy(eventSeriesStream(s, dir), HOUR_US, RefSurface.SLIDE_US),
      "complete")

  // label-range bounds for the pruned streaming gate (multiples of
  // SLIDE_US inside the fixture's time span)
  private[queries] val SLIDE_T0 = 1704502800000000L
  private[queries] val SLIDE_T1 = 1705503600000000L

  /** [[streamSliding]] filtered on the window LABEL with the
    * SampleWindowPrune rule active: the rule translates the label
    * bounds through the sliding explode AND the micros-over-nanos unit
    * projection into raw-`ts` PushedFilters on every microbatch scan
    * (plan shape locked by SampleWindowPruneSpec's streaming case;
    * this gate locks the VALUES against the batch oracle). */
  private def streamSlidingPruned(s: SparkSession, dir: String): DataFrame = {
    runToTable(s,
      SeriesOps.slidingBy(eventSeriesStream(s, dir), HOUR_US, RefSurface.SLIDE_US)
        .filter(col("sample_ts") >= SLIDE_T0 && col("sample_ts") <= SLIDE_T1),
      "complete")
  }

  /** Streaming INCREMENTAL dedup: the 20% 'ingest' split arrives as a
    * document stream and is suppressed against the other 80% as the
    * accepted corpus — [[graft.ops.Dedup.suppressAgainstIndex]]'s
    * stream-static shape (static band index + shingle arrays, stateless
    * stream path, one min-aggregation). Output: the suppressed docs
    * with their existing-corpus authority. */
  private def streamDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val isIn = graft.ops.Sampling.uniformHashPredicate(col("doc_id"), 20, "ingest")
    val staged = stageParquet(dir, "documents.parquet")
    val existing = s.read.schema(documentsSchema).parquet(staged).filter(!isIn)
    val incoming = s.readStream.schema(documentsSchema).parquet(staged).filter(isIn)
    runToTable(s,
      graft.ops.Dedup.suppressAgainstIndex(existing, incoming, 0.8), "complete")
  }

  /** Streaming exact deduplication: the corpus arrives as a stream and
    * duplicate fingerprints are suppressed with stateful
    * `dropDuplicates` — the streaming face of Dedup.exact. Output is
    * the distinct fingerprint set (first-arrival doc attribution is
    * batch-order-dependent, so only the fp column is gated — the SET
    * is deterministic). At scale the unbounded dedup state moves to
    * `dropDuplicatesWithinWatermark` once the corpus has an event-time
    * column to bound it with. */
  private def streamDedupFp(s: SparkSession, dir: String): DataFrame = {
    val stream = s.readStream.schema(documentsSchema)
      .parquet(stageParquet(dir, "documents.parquet"))
      .select(md5(graft.ops.TextFns.normText(col("text"))).as("fp"))
      .dropDuplicates("fp")
    runToTable(s, stream, "append").select("fp")
  }

  /** Streaming NEAR-dup suppression: per-doc MinHash signatures
    * computed in-stream with the row-level `minhash_sig` expression (a
    * stateless map — the groupBy formulation would need a mid-stream
    * aggregation, which a dedup stage can't afford), then stateful
    * `dropDuplicates` on the full-signature fingerprint. Docs with an
    * identical 64-permutation signature are near-certain duplicates
    * (Jaccard ≈ 1), so this is the streaming face of MinHash dedup at
    * its strictest threshold; band-level (lower-threshold) candidate
    * pairing stays a batch job over the accumulated corpus
    * (Dedup.minhashLshPairs). Output: the distinct signature set —
    * deterministic regardless of arrival order, hence oracle-gateable.
    * At scale: state is one compact fingerprint per distinct signature,
    * keyed uniformly; move to dropDuplicatesWithinWatermark to bound it
    * when docs carry event time (same pattern as
    * [[streamDedupWatermarked]]). */
  /** Streaming ANN ingestion: arrivals (vec_id % 10 >= 8) flow as a
    * vector STREAM placed into the codebook trained on the static
    * indexed corpus — [[graft.ops.Similarity.placeIntoBook]] binds the
    * book as literals, so the continuous query is a pure projection
    * (append mode, ZERO streaming state) at any arrival rate. Rows
    * equal the batch sim_assign_incremental gate; its oracle applies
    * verbatim. */
  private def streamAssignIncremental(s: SparkSession, dir: String): DataFrame = {
    val staged = stageParquet(dir, "embeddings.parquet")
    val corpus = s.read.schema(embeddingsSchema).parquet(staged)
      .filter(expr("vec_id % 10 < 8"))
    val cents = graft.ops.Similarity.trainCodebook(corpus, 8, 2,
      expr("vec_id % 2 = 0"))
    val arrivals = s.readStream.schema(embeddingsSchema).parquet(staged)
      .filter(expr("vec_id % 10 >= 8"))
    runToTable(s, graft.ops.Similarity.placeIntoBook(arrivals, cents), "append")
  }

  private def streamDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val stream = s.readStream.schema(documentsSchema)
      .parquet(stageParquet(dir, "documents.parquet"))
    val sigs = graft.ops.TextFns.withShingles(stream)
      .select(expr("minhash_sig(shingles, 64)").as("sig"))
      .where(col("sig").isNotNull)
      .select(md5(concat_ws("_", (0 until 64).map(col("sig")(_)): _*)).as("sig_fp"))
      .dropDuplicates("sig_fp")
    runToTable(s, sigs, "append").select("sig_fp")
  }

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    * keys state to the watermark horizon instead of growing forever —
    * the 100 TB form of [[streamDedupFp]]'s unbounded dropDuplicates.
    * The staged source delivers one batch, so the within-watermark
    * guarantee equals exact global dedup here and the batch DISTINCT
    * oracle applies; across a long-running stream, duplicates farther
    * apart than the watermark MAY re-emit — that is the documented
    * contract of bounded dedup state, not a defect. */
  private def streamDedupWatermarked(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(timestamp_micros(Tables.tsMicrosOf(tsType)).as("event_time"),
        col("user_id"), col("event_type"), col("value"))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value")
    runToTable(s, stream, "append").select("user_id", "event_type", "value")
  }

  /** Streaming blocklist suppression: the corpus (minus the blocklist
    * split) arrives as a document stream; the blocklist is static. The
    * whole path is STATELESS — constant bloom-sketch prefilter +
    * stream-static left-anti verify — so it runs in append mode with
    * zero streaming state ([[graft.ops.Dedup.suppressBlocklistStream]]).
    * Same oracle as the batch dedup_blocklist gate: stream/batch
    * parity on the kept set. */
  private def streamBlocklist(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val isBl = graft.ops.Sampling.uniformHashPredicate(col("doc_id"), 10, "blocklist")
    val staged = stageParquet(dir, "documents.parquet")
    val blocklist = s.read.schema(documentsSchema).parquet(staged).filter(isBl)
    val corpus = s.readStream.schema(documentsSchema).parquet(staged).filter(!isBl)
    runToTable(s,
      graft.ops.Dedup.suppressBlocklistStream(corpus, blocklist), "append")
  }

  /** Streaming LM quality scoring: the corpus unigram model (vocab
    * counts + whole-bit surprisal table) is FROZEN static state built
    * batch-side from the staged file; the document stream is scored
    * against it via a stream-static equality join plus ONE keyed
    * aggregation ([[graft.ops.Terms.unigramSurprisalAgainstModel]]).
    * Model = corpus here, so the batch text_lm_surprisal oracle
    * applies exactly — stream/batch parity for the LM filter family.
    * At scale the model is the accepted corpus and the stream is the
    * ingest firehose; re-fit the model and restart to pick up
    * distribution drift (the blocklist-snapshot contract). */
  private def streamLmSurprisal(s: SparkSession, dir: String): DataFrame = {
    val staged = stageParquet(dir, "documents.parquet")
    val model = s.read.schema(documentsSchema).parquet(staged)
    val stream = s.readStream.schema(documentsSchema).parquet(staged)
    runToTable(s, graft.ops.Terms.unigramSurprisalAgainstModel(
      model, stream, TextSurface.LM_MIN_CB, TextSurface.LM_MAX_CB), "complete")
  }

  /** Streaming ranking: the bounded topk_records aggregate as a
    * CONTINUOUS query — per-user top-3 maintained across micro-batches
    * in complete mode. The DeclarativeAggregate's merge expressions
    * are exactly what the streaming state store needs (k-element
    * mergeable state per user — bounded by construction), so the
    * custom aggregate is streaming-safe with no extra code. Oracle =
    * the batch window formulation: stream/batch/aggregate three-way
    * parity on one result set. */
  private def streamTop3(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(Tables.tsMicrosOf(tsType).as("timestamp"),
        col("user_id"), col("value"))
    val agg = stream.groupBy("user_id")
      .agg(call_function("topk_records",
        col("value"), col("timestamp"), lit(3)).as("top"))
    runToTable(s, agg, "complete")
      .select(col("user_id"), posexplode(col("top")))
      .select(col("user_id"), col("col.t").as("timestamp"),
        (-col("col.nv")).as("value"), (col("pos") + 1).cast("long").as("rn"))
  }

  /** Streaming classifier inference: [[graft.ops.Terms
    * .hashedLinearScore]] is a pure scan projection (zero-shuffle
    * in-row fold), so it runs in append mode with ZERO streaming
    * state — the classify-at-ingest shape. Oracle = the batch
    * text_classifier SQL: stream/batch parity for scan-shaped ops. */
  private def streamClassifier(s: SparkSession, dir: String): DataFrame = {
    val stream = s.readStream.schema(documentsSchema)
      .parquet(stageParquet(dir, "documents.parquet"))
    runToTable(s, graft.ops.Terms.hashedLinearScore(stream), "append")
  }

  /** Encoding repair on the live document stream: the mojibake
    * count/repair projection is a stateless per-row scan, so it runs
    * unchanged as a continuous query and the batch gate's oracle
    * applies verbatim (stream == batch parity). */
  private def streamFixMojibake(s: SparkSession, dir: String): DataFrame = {
    val stream = s.readStream.schema(documentsSchema)
      .parquet(stageParquet(dir, "documents.parquet"))
    runToTable(s, TextSurface.fixMojibakeProjection(stream), "append")
  }

  /** HTML main-content extraction on the live stream — stateless
    * per-row strip chain, so the batch gate's oracle applies verbatim. */
  private def streamStripHtml(s: SparkSession, dir: String): DataFrame = {
    val stream = s.readStream.schema(documentsSchema)
      .parquet(stageParquet(dir, "documents.parquet"))
    runToTable(s, graft.ops.Html.extractText(stream), "append")
  }

  /** Script-composition detection on the live stream — stateless. */
  private def streamScriptMix(s: SparkSession, dir: String): DataFrame = {
    val stream = s.readStream.schema(documentsSchema)
      .parquet(stageParquet(dir, "documents.parquet"))
    runToTable(s, TextSurface.scriptMixProjection(stream), "append")
  }

  /** Stream-stream interval join: click→view attribution within 30
    * minutes over the live events stream — both sides watermarked so
    * join state is evictable ([[graft.streaming.StreamingIngest
    * .attributeWithin]]). The staged source delivers one batch, so
    * every match emits and the batch self-join oracle applies
    * (stream/batch parity for the inner interval join). */
  private def streamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    val src = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(col("event_id"), timestamp_micros(Tables.tsMicrosOf(tsType)).as("etime"),
        col("user_id"), col("event_type"))
    runToTable(s,
      graft.streaming.StreamingIngest.attributeWithin(src, "click", "view"),
      "append")
  }

  /** Streaming as-of join: the event stream annotated with the user's
    * most recent click at-or-before each event ([[graft.streaming
    * .StreamingIngest.asOfAnnotate]] — per-user carry state in
    * flatMapGroupsWithState, since window functions can't run on a
    * stream). The staged source delivers one batch, where the
    * two-pointer merge reproduces the batch operator exactly — so the
    * batch asof_join oracle applies verbatim (stream≡batch parity for
    * the as-of family). */
  private def streamAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    import s.implicits._
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(Tables.tsMicrosOf(tsType).as("timestamp"),
        col("user_id"), col("event_type"), col("value"))
      .as[graft.streaming.StreamingIngest.AsOfEvent]
    runToTable(s,
      graft.streaming.StreamingIngest.asOfAnnotate(stream).toDF(), "append")
  }

  /** Streaming rolling z-score: the win_anomaly monitoring verdict as
    * a continuous query ([[graft.streaming.StreamingIngest
    * .rollingZScoreStream]] — per-user trailing ring in
    * flatMapGroupsWithState with decimal-exact window sums). The
    * staged source delivers one batch processed in (ts, event_id)
    * order, reproducing the batch window frame exactly — so the batch
    * win_anomaly oracle applies verbatim (stream≡batch parity for the
    * monitoring family). */
  private def streamAnomaly(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    import s.implicits._
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(Tables.tsMicrosOf(tsType).as("timestamp"),
        col("user_id"), col("event_id"), col("value"))
      .as[graft.streaming.StreamingIngest.ZEvent]
    runToTable(s,
      graft.streaming.StreamingIngest.rollingZScoreStream(stream).toDF(),
      "append")
  }

  /** Streaming funnel: per-user step frontiers as continuous state
    * ([[graft.streaming.StreamingIngest.funnelStream]] — append-mode
    * reached-step emissions), reduced to the batch funnel's
    * (step, event_type, n_users) shape from the sink. The staged
    * single batch in event-time order makes stream ≡ batch for the
    * frontiers, so the agg_funnel oracle applies verbatim. */
  private def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    import s.implicits._
    val types = Seq("signup", "view", "purchase")
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(Tables.tsMicrosOf(tsType).as("timestamp"),
        col("user_id"), col("event_type"))
      .as[graft.streaming.StreamingIngest.FunnelEvent]
    val reached = runToTable(s,
      graft.streaming.StreamingIngest.funnelStream(stream, types).toDF(),
      "append")
    val stepType = types.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (tp, i)) => when(col("step") === (i + 1).toLong, lit(tp)).otherwise(acc)
    }
    reached.groupBy("step")
      .agg(count(lit(1)).as("n_users"))
      .select(col("step"), stepType.as("event_type"), col("n_users"))
  }

  /** Histogram quantile as a continuous query — the design dividend of
    * the bucketed shape: per-(hour, bucket) counts are plain sums, so
    * the streaming state is ≤ |buckets| longs per open window and
    * merges across micro-batches; rank selection + interpolation run
    * grid-sized from the sink. The staged single batch makes stream ≡
    * batch, so the batch oracle applies on the unranged series. */
  private def streamHistogram(s: SparkSession, dir: String): DataFrame =
    graft.ops.SeriesStats.quantileFromGrid(
      runToTable(s,
        graft.ops.SeriesStats.histogramGrid(eventSeriesStream(s, dir)),
        "complete"))

  /** The hour/value heatmap as a continuous query: cell counts merge
    * across micro-batches (complete mode over a grid-bounded state
    * table), so the live dashboard feed equals the batch reduction. */
  private def streamHeatmap(s: SparkSession, dir: String): DataFrame =
    runToTable(s,
      eventSeriesStream(s, dir)
        .groupBy(expr("(timestamp div 3600000000) % 24").as("hod"),
          floor(col("value") / 25.0).cast("long").as("vband"))
        .agg(count(lit(1)).as("n")),
      "complete")

  /** The maintained hourly rollup as a continuous query (r14 — the
    * round's centerpiece batch family gets its streaming twin): the
    * SAME mergeable (count, hi/lo micro-limb) partial state as the
    * batch fold — Spark's partial-aggregation merge IS the streaming
    * state merge, decimal/limb associativity makes any micro-batch
    * arrival order land on the identical state table, and
    * Incremental.finalizeRollup renders the sink exactly as the batch
    * gate renders its combined state. Oracle: agg_rollup_fold's,
    * verbatim. State bounded by the (type, hour) key population. */
  private def streamHourlyRollup(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(col("event_type"), Tables.tsMicrosOf(tsType).as("timestamp"),
        col("value"))
    graft.ops.Incremental.finalizeRollup(
      runToTable(s, graft.ops.Incremental.hourlyPartials(stream), "complete"))
  }

  /** The sketch rollup as a continuous query: HLL register updates
    * are duplicate-insensitive, so the streaming fold SKIPS the batch
    * form's corpus-scale DISTINCT outright — raw rows fold into
    * per-(type, day) sketches (hll_sketch_agg is a mergeable
    * ImperativeAggregate, so Spark's partial-aggregation merge IS the
    * streaming state merge and any micro-batch arrival order lands on
    * the identical register state), then the per-key union + estimate
    * + the shared ratio band render from the state table exactly as
    * [[graft.ops.Approx.sketchRollup]]'s tail does. State bounded by
    * (type, day) keys x lgK-12 sketch bytes — value cardinality never
    * grows it (the columnar kernel's property, inherited live).
    * Oracle: agg_sketch_rollup's, verbatim. */
  private def streamSketchRollup(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    val dayUs = 86400000000L
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(col("event_type"), Tables.tsMicrosOf(tsType).as("timestamp"),
        col("user_id"))
    val perDay = runToTable(s,
      stream.groupBy(col("event_type"), expr(s"timestamp div $dayUs").as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk")),
      "complete")
    perDay.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .select(col("event_type"), col("n_days"),
        floor(log(greatest(col("est"), lit(1L)).cast("double")) /
          lit(graft.ops.Approx.BandLn125) + lit(0.5)).cast("long").as("est_band"))
  }

  /** Shared sink render of the open-fold stream twins: merge the
    * standing (event_type, hour_ts[, split]) micro-limb state and
    * recombine the exact decimal exactly as the batch kernels' tail
    * (and Incremental.finalizeRollup) do. */
  private def renderOpenSum(state: DataFrame): DataFrame = {
    val merged = state.groupBy("event_type", "hour_ts")
      .agg(sum("n").cast("long").as("n"),
        sum("h6").as("h6"), sum("l6").as("l6"))
    val sv = (col("h6").cast("decimal(20,0)") *
      lit(new java.math.BigDecimal(1000000)).cast("decimal(7,0)") +
      col("l6").cast("decimal(20,0)")) *
      lit(new java.math.BigDecimal("0.000001"))
    merged.select(col("event_type"), col("hour_ts"), col("n"),
      round(sv.cast("double"), 4).as("sum_value"))
  }

  /** The INFERRED-dictionary fold as a continuous query (r16 verdict
    * #7 — the batch kernel family's last member without a streaming
    * twin): [[graft.ops.DictRollup.openSumPartialsRows]] discovers
    * the category set per micro-batch partition in a STATELESS
    * transform (the codec dies with the task — dictionary inference
    * never becomes streaming state, no flatMapGroupsWithState), so
    * the stateful aggregation's input is partial rows at
    * (categories × hours) scale per task, never row-scale, and its
    * sum-merge IS the streaming state merge (micro-limb associativity
    * makes any micro-batch arrival order land on the identical state
    * table). Oracle: agg_rollup_fold's, verbatim — the same contract
    * the batch inferred kernel gates against. */
  private def streamRollupFoldInferred(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(col("event_type"), Tables.tsMicrosOf(tsType).as("timestamp"),
        col("value"))
    val partials = graft.ops.DictRollup.openSumPartialsRows(stream)
    renderOpenSum(runToTable(s,
      partials.groupBy("event_type", "hour_ts")
        .agg(sum("n").as("n"), sum("h6").as("h6"), sum("l6").as("l6")),
      "complete"))
  }

  /** [[streamRollupFoldInferred]] under the standard 80/20
    * xxhash64(event_id, 'incr') split — the inferred incremental
    * kernel's streaming twin. The split is a codegen'd projection
    * BEFORE the stateless fold (the twin inherits the oracle's split
    * function by construction), the standing state is kept PER SPLIT
    * — the incremental family's real two-partial identity, live —
    * and the sink render performs the split-dropping merge the batch
    * gate performs. Oracle: agg_incremental_rollup's, verbatim. */
  private def streamIncrementalRollupInferred(s: SparkSession,
      dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(col("event_type"), Tables.tsMicrosOf(tsType).as("timestamp"),
        col("value"),
        (pmod(xxhash64(col("event_id"), lit("incr")), lit(100L)) < 20)
          .cast("int").as("split"))
    val partials = graft.ops.DictRollup.openSumPartialsRows(stream,
      withSplit = true)
    renderOpenSum(runToTable(s,
      partials.groupBy("event_type", "hour_ts", "split")
        .agg(sum("n").as("n"), sum("h6").as("h6"), sum("l6").as("l6")),
      "complete"))
  }

  /** The INFERRED-dictionary sketch rollup as a continuous query:
    * [[graft.ops.DictRollup.openSketchPartialsRows]] folds HLL
    * registers per micro-batch partition (stateless, category set
    * discovered in-task), hll_union_agg merges them into the standing
    * per-(type, day) state — duplicate-insensitive registers make ANY
    * replay or arrival order land on the identical state, the same
    * argument [[streamSketchRollup]] rides — and the sink renders the
    * shared union/estimate/band tail. State bounded by (observed
    * categories × days) × lgK-12 sketch bytes, never by value
    * cardinality. Oracle: agg_sketch_rollup's, verbatim. */
  private def streamSketchRollupInferred(s: SparkSession,
      dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(col("event_type"), Tables.tsMicrosOf(tsType).as("timestamp"),
        col("user_id"))
    val partials = graft.ops.DictRollup.openSketchPartialsRows(stream)
    val perDay = runToTable(s,
      partials.groupBy("event_type", "day")
        .agg(expr("hll_union_agg(sk)").as("sk")),
      "complete")
    perDay.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .select(col("event_type"), col("n_days"),
        floor(log(greatest(col("est"), lit(1L)).cast("double")) /
          lit(graft.ops.Approx.BandLn125) + lit(0.5)).cast("long").as("est_band"))
  }

  /** CDC keep-latest as a continuous query: the same grouped
    * struct-max as the batch gate — ONE struct of state per key,
    * order-independent merge (max is associative/commutative), so the
    * standing state table is exactly what the batch rebuild computes.
    * Tombstone filtering runs on the sink. */
  private def streamCdcUpsert(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(Tables.tsMicrosOf(tsType).as("timestamp"),
        col("user_id"), col("event_id"), col("event_type"), col("value"))
    val state = runToTable(s,
      stream.groupBy("user_id")
        .agg(max(struct(col("timestamp"), col("event_id"),
          col("event_type"), col("value"))).as("m")),
      "complete")
    state.filter(col("m.event_type") =!= "error")
      .select(col("user_id"), col("m.timestamp").as("last_ts"),
        col("m.event_id").as("last_event_id"),
        col("m.value").as("last_value"))
  }

  /** Streaming cohort retention ([[graft.streaming.StreamingIngest
    * .retentionStream]]): first-activity cohorts pinned in per-user
    * state, new active periods emitted append-mode, reduced to the
    * batch (cohort, offset, n_users) matrix from the sink — the
    * agg_retention oracle applies verbatim under ordered replay. */
  private def streamRetention(s: SparkSession, dir: String): DataFrame = {
    val (staged, tsType) = stagedEvents(s, dir)
    import s.implicits._
    val stream = s.readStream.schema(eventsSchema(tsType)).parquet(staged)
      .select(Tables.tsMicrosOf(tsType).as("timestamp"), col("user_id"))
      .as[graft.streaming.StreamingIngest.RetEvent]
    runToTable(s,
      graft.streaming.StreamingIngest.retentionStream(stream).toDF(), "append")
      .groupBy("cohort_period", "offset")
      .agg(count(lit(1)).as("n_users"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_asof_join" -> streamAsofJoin,
    "stream_anomaly" -> streamAnomaly,
    "stream_funnel" -> streamFunnel,
    "stream_retention" -> streamRetention,
    "stream_interval_join" -> streamIntervalJoin,
    "stream_sample_by" -> streamSampleBy,
    "stream_sample_delta" -> streamSampleDelta,
    "stream_sample_rate" -> streamSampleRate,
    "stream_sample_m4" -> streamSampleM4,
    "stream_dedup_incremental" -> streamDedupIncremental,
    "stream_sliding_window" -> streamSliding,
    "stream_sliding_pruned" -> streamSlidingPruned,
    "stream_dedup_fp" -> streamDedupFp,
    "stream_dedup_minhash" -> streamDedupMinhash,
    "stream_assign_incremental" -> streamAssignIncremental,
    "stream_dedup_watermarked" -> streamDedupWatermarked,
    "stream_blocklist" -> streamBlocklist,
    "stream_lm_surprisal" -> streamLmSurprisal,
    "stream_classifier" -> streamClassifier,
    "stream_fix_mojibake" -> streamFixMojibake,
    "stream_strip_html" -> streamStripHtml,
    "stream_script_mix" -> streamScriptMix,
    "stream_top3" -> streamTop3,
    "stream_histogram" -> streamHistogram,
    "stream_heatmap" -> streamHeatmap,
    "stream_cdc_upsert" -> streamCdcUpsert,
    "stream_hourly_rollup" -> streamHourlyRollup,
    "stream_sketch_rollup" -> streamSketchRollup,
    "stream_rollup_fold_inferred" -> streamRollupFoldInferred,
    "stream_incremental_rollup_inferred" -> streamIncrementalRollupInferred,
    "stream_sketch_rollup_inferred" -> streamSketchRollupInferred,
    "stream_warc_ingest" -> streamWarcIngest,
    "session_window_agg" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      graft.streaming.StreamingIngest.sessionCounts(
        ev.select(Tables.tsMicros(ev).as("timestamp"), col("user_id")))
    }),
    // the SEGMENTED session-DETAIL twin of session_window_agg (the
    // win_sessionize_seg machinery, emitting per-session rows instead
    // of per-user counts): sessionize within (user, 1 h bucket) via a
    // bucket-bounded window, then stitch per user over session STUBS —
    // per-user stitch state is bounded by span/gap + bucket count
    // (a session must be followed by > gap of silence, so ≤ span/gap
    // sessions exist per user), never by events-per-key. Same output
    // and oracle as session_window_agg.
    "session_window_seg" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      sessionWindowSeg(
        ev.select(Tables.tsMicros(ev).as("timestamp"), col("user_id")))
    }),
    "mm_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(Tables.load(s, dir, "documents"))).toDF()),
    // the multimodal DATASET CARD: per-format counts, byte totals and
    // pixel mass over the decoded features — the corpus summary a
    // training run reads before sizing its loaders; one grouped
    // aggregation over the same decode the mm_features gate locks
    "mm_summary" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(Tables.load(s, dir, "documents"))).toDF()
        .groupBy("format")
        .agg(count(lit(1)).as("n"), sum("n_bytes").as("total_bytes"),
          min("n_bytes").as("min_bytes"), max("n_bytes").as("max_bytes"),
          sum(when(col("width") >= 0, col("width") * col("height"))
            .otherwise(lit(0L))).as("sum_px"))),
    // the composed MULTIMODAL curation pipeline: decode features,
    // drop malformed/unknown media, keep only media whose PAIRED
    // document passes the Gopher quality gate — the text-filters-
    // media chain an image/audio-text corpus ships through; both
    // stages are themselves gated operators
    "pipeline_mm_curate" -> ((s, dir) => {
      val feats = Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(Tables.load(s, dir, "documents"))).toDF()
      val keep = TextSurface.queries("text_quality_gopher")(s, dir)
        .filter(col("keep") === 1)
        .select(col("doc_id").as("media_id"))
      feats.filter(col("format") =!= "unknown")
        .join(keep, "media_id")
        .select("media_id", "format", "n_bytes", "width", "height")
    }),
    // the resized payloads re-decode through the same extractor, so
    // this gate differentially verifies resize + re-encode + decode
    "mm_resize" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.resizeHalf(
        Multimodal.mediaFromDocuments(Tables.load(s, dir, "documents")))).toDF()),
    // PCM frame sampling over the WAV subset (real RIFF parse; frames
    // of 32 samples, every 2nd kept); oracle replays the fixture's
    // generative arithmetic per selected frame
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.frameSampleAudio(
        Multimodal.mediaFromDocuments(Tables.load(s, dir, "documents"))).toDF()),
    // compressed-format tier: full PNG decode (zlib inflate + all five
    // scanline de-filters + CRC'd chunk walk). The encoder cycles the
    // filter type per row, so the pixel checksum only matches the
    // closed-form oracle if every de-filter reconstructs correctly.
    "mm_png" -> ((s, dir) =>
      Multimodal.extractPngFeatures(
        Multimodal.pngFromDocuments(Tables.load(s, dir, "documents"))).toDF()),
    // JFIF marker-walk tier: length-framed segment walk (DQT content
    // summed, SOF geometry), entropy scan with byte-stuffing to EOI —
    // metadata extraction without pixel decode, the common production
    // shape for image corpus triage
    "mm_jpeg" -> ((s, dir) =>
      Multimodal.extractJpegFeatures(
        Multimodal.jpegFromDocuments(Tables.load(s, dir, "documents"))).toDF()),
    // pixel tier: fully decodable grayscale baseline payloads — DHT
    // canonical Huffman decode, DC predict/EXTEND, AC RLE, zigzag
    // dequant, 2-D IDCT, edge clipping; the planted per-block DC
    // pattern makes every pixel id-derivable, so the sum/min/max only
    // match if the whole entropy pipeline decodes exactly
    "mm_jpeg_pixels" -> ((s, dir) =>
      Multimodal.extractJpegPixelFeatures(
        Multimodal.jpegPixelFromDocuments(Tables.load(s, dir, "documents"))).toDF()),
    // dictionary-compression tier: full GIF89a decode (sub-block
    // reassembly + variable-width LZW with dictionary growth, CLEAR
    // resets and the KwKwK case + palette read). The planted index
    // pattern varies per pixel, so the checksum only matches if the
    // whole LZW stream decodes correctly.
    "mm_gif" -> ((s, dir) =>
      Multimodal.extractGifFeatures(
        Multimodal.gifFromDocuments(Tables.load(s, dir, "documents"))).toDF()),
    // structured-metadata tier: endian-tagged IFD walk with
    // inline/offset value resolution — byte order alternates per doc,
    // so a decoder hardwired to one order fails half the checksums
    "mm_tiff" -> ((s, dir) =>
      Multimodal.extractTiffFeatures(
        Multimodal.tiffFromDocuments(Tables.load(s, dir, "documents"))).toDF()),
    // container tier: recursive length-framed ISO-BMFF box walk —
    // layout alternates faststart/capture by id parity and every 7th
    // mdat uses the u64 largesize escape, so ordering or framing
    // assumptions fail deterministic row slices
    "mm_mp4" -> ((s, dir) =>
      Multimodal.extractMp4Features(
        Multimodal.mp4FromDocuments(Tables.load(s, dir, "documents"))).toDF()),
    // archive tier: backward EOCD discovery through a variable-length
    // trailer comment, LE central-directory index → local-header
    // cross-check, stored + raw-deflate members re-inflated and
    // re-CRCed — crc_ok/sizes_ok only reach n_entries if discovery,
    // index, framing and decompression all agree
    "mm_zip" -> ((s, dir) =>
      Multimodal.extractZipFeatures(
        Multimodal.zipFromDocuments(Tables.load(s, dir, "documents"))).toDF()),
    // shard tier: sequential 512-block ustar walk (the WebDataset
    // container) — octal-text size framing, real header checksums
    // re-summed, file/dir mix, tolerant of trailer zero padding
    "mm_tar" -> ((s, dir) =>
      Multimodal.extractTarFeatures(
        Multimodal.tarFromDocuments(Tables.load(s, dir, "documents"))).toDF()),
    // tabular tier: backward PAR1 discovery + Thrift-compact footer
    // walk (varint/zigzag field headers, delta ids, generic
    // type-directed skip) with every column-chunk extent re-read and
    // checksummed against position-dependent planted bytes
    "mm_parquet" -> ((s, dir) =>
      Multimodal.extractParquetFeatures(
        Multimodal.parquetFromDocuments(Tables.load(s, dir, "documents"))).toDF()),
    // row-container tier: Avro OCF sync-marker framing with zigzag
    // varints and per-record decode — bytes_ok cross-checks declared
    // block lengths against the decoded span, sync_ok re-verifies the
    // 16-byte marker after every block
    "mm_avro" -> ((s, dir) =>
      Multimodal.extractAvroFeatures(
        Multimodal.avroFromDocuments(Tables.load(s, dir, "documents"))).toDF()),
  )

  val oracleSql: Map[String, String] = Map(
    // the batch as-of oracle verbatim (DuckDB's NATIVE ASOF JOIN):
    // the staged single batch makes stream ≡ batch for the carry
    // the batch agg_funnel oracle verbatim: the staged batch processed
    // in event-time order makes first-qualifying ≡ min-qualifying
    "stream_funnel" ->
      """WITH ev AS (SELECT epoch_us(ts) AS timestamp, user_id, event_type FROM events),
        |s1 AS (SELECT user_id, min(timestamp) AS t FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.timestamp) AS t FROM ev e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.timestamp > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.timestamp) AS t FROM ev e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.timestamp > s2.t GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
        |  (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT CAST(2 AS BIGINT), 'view', (SELECT count(*) FROM s2)
        |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', (SELECT count(*) FROM s3)""".stripMargin,
    // the batch agg_retention oracle verbatim: ordered replay makes
    // first-seen ≡ min and the lastEmitted watermark ≡ DISTINCT
    "stream_retention" ->
      """WITH ev AS (SELECT epoch_us(ts) AS timestamp, user_id FROM events),
        |a AS (SELECT DISTINCT user_id, timestamp // 604800000000 AS period FROM ev),
        |f AS (SELECT user_id, min(period) AS cohort_period FROM a GROUP BY 1)
        |SELECT f.cohort_period, a.period - f.cohort_period AS offset,
        |  count(*) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    // the batch win_anomaly oracle verbatim: the single staged batch
    // processed in frame order makes stream ≡ batch for the ring
    "stream_anomaly" ->
      """WITH ev AS (SELECT epoch_us(ts) AS timestamp, value, event_id, user_id FROM events)
        |SELECT user_id, ts_us, value, event_id,
        |  CAST(n_prev AS BIGINT) AS n_prev,
        |  CAST(CASE WHEN n_prev > 0
        |    THEN floor(sv * 1000000 / n_prev) END AS BIGINT) AS mean6,
        |  CAST(CASE WHEN n_prev >= 8
        |      AND (value - sv / n_prev) * (value - sv / n_prev)
        |        > 9 * (sq / n_prev - (sv / n_prev) * (sv / n_prev))
        |    THEN 1 ELSE 0 END AS BIGINT) AS anomaly
        |FROM (SELECT user_id, timestamp AS ts_us, value, event_id,
        |    count(*) OVER fr AS n_prev,
        |    CAST(sum(vi) OVER fr AS DOUBLE) / 10000.0 AS sv,
        |    CAST(sum(vi * vi) OVER fr AS DOUBLE) / 100000000.0 AS sq
        |  FROM (SELECT ev.*, CAST(round(value * 10000) AS BIGINT) AS vi FROM ev)
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY timestamp, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))""".stripMargin,
    "stream_asof_join" ->
      """WITH ev AS (SELECT epoch_us(ts) AS timestamp, user_id, event_type, value FROM events),
        |l AS (SELECT user_id, timestamp, value FROM ev WHERE event_type != 'click'),
        |r AS (SELECT user_id, timestamp, max(value) AS click_value FROM ev
        |      WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT l.user_id, l.timestamp, l.value, r.click_value AS last_click
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.timestamp >= r.timestamp""".stripMargin,
    // the batch self-join twin of the streaming interval join, in
    // epoch-micros (30 min = 1.8e9 us; closed interval both ends)
    "stream_interval_join" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS t_us, user_id, event_type FROM events),
        |c AS (SELECT event_id AS effect_id, user_id, t_us AS ct FROM e WHERE event_type = 'click'),
        |v AS (SELECT event_id AS cause_id, user_id, t_us AS vt FROM e WHERE event_type = 'view')
        |SELECT c.effect_id, v.cause_id, c.user_id, c.ct - v.vt AS gap_us
        |FROM c JOIN v ON v.user_id = c.user_id
        |  AND v.vt BETWEEN c.ct - 1800000000 AND c.ct""".stripMargin,
    "stream_dedup_fp" ->
      """SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
        |  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp FROM documents""".stripMargin,
    "stream_dedup_minhash" ->
      s"""WITH ${TextSurface.minhashSigCtes}
         |SELECT DISTINCT md5(concat_ws('_', ${(0 until 64).map("m" + _).mkString(", ")})) AS sig_fp
         |FROM sig""".stripMargin,
    "stream_dedup_watermarked" ->
      "SELECT DISTINCT user_id, event_type, value FROM events",
    // stream/batch parity: the batch gate's exact anti-join oracle
    "stream_blocklist" -> TextSurface.oracleSql("dedup_blocklist"),
    // the batch incremental-assignment oracle verbatim: the staged
    // single batch makes stream ≡ batch for the stateless placement
    "stream_assign_incremental" ->
      SimilaritySurface.oracleSql("sim_assign_incremental"),
    // stream/batch parity: model = corpus, so the batch LM oracle holds
    "stream_lm_surprisal" -> TextSurface.oracleSql("text_lm_surprisal"),
    // stream/batch parity: stateless projection, batch oracle verbatim
    "stream_classifier" -> TextSurface.oracleSql("text_classifier"),
    // stateless projections: the batch oracles apply verbatim
    "stream_fix_mojibake" -> TextSurface.oracleSql("text_fix_mojibake"),
    "stream_strip_html" -> TextSurface.oracleSql("text_strip_html"),
    "stream_script_mix" -> TextSurface.oracleSql("text_script_mix"),
    // three-way parity: stream + bounded aggregate + ranking window
    // all produce this one result set
    "stream_top3" ->
      """WITH ev AS (SELECT epoch_us(ts) AS timestamp, user_id, value FROM events)
        |SELECT user_id, timestamp, value, rn FROM (
        |  SELECT user_id, timestamp, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, timestamp ASC) AS rn
        |  FROM ev) WHERE rn <= 3""".stripMargin,
    // the batch histogram oracle on the unranged stream series —
    // bucket counts merge across micro-batches, so stream ≡ batch
    "stream_histogram" ->
      ("WITH ev AS (SELECT epoch_us(ts) AS timestamp, value FROM events), " +
        graft.ops.SeriesStats.histogramQuantileOracleSql),
    // grid cell counts merge across micro-batches: batch oracle verbatim
    "stream_heatmap" -> AnalyticsSurface.oracleSql("ts_heatmap"),
    // stream/batch parity: grouped struct-max state is associative,
    // so the batch CDC oracle applies verbatim
    "stream_cdc_upsert" -> AnalyticsSurface.oracleSql("cdc_upsert_latest"),
    // stream/batch parity: the mergeable fold state is associative,
    // so the batch rollup oracle applies verbatim
    "stream_hourly_rollup" -> AnalyticsSurface.oracleSql("agg_rollup_fold"),
    // stream/batch parity: HLL register updates are duplicate-
    // insensitive AND associative, so the batch sketch oracle applies
    // verbatim (the stream even skips the batch form's DISTINCT)
    "stream_sketch_rollup" -> AnalyticsSurface.oracleSql("agg_sketch_rollup"),
    // the inferred kernels' stream twins (r16 verdict #7): dictionary
    // inference is per-task and partials decode to strings before the
    // state merge, so the batch oracles apply verbatim — the same
    // contract the batch inferred kernels gate against
    "stream_rollup_fold_inferred" ->
      AnalyticsSurface.oracleSql("agg_rollup_fold"),
    "stream_incremental_rollup_inferred" ->
      AnalyticsSurface.oracleSql("agg_incremental_rollup"),
    "stream_sketch_rollup_inferred" ->
      AnalyticsSurface.oracleSql("agg_sketch_rollup"),
    // stateless record explode: stream ≡ batch, oracle verbatim
    "stream_warc_ingest" -> SourcesSurface.oracleSql("warc_extract"),
    // the batch M4 envelope on the unranged stream series
    "stream_sample_m4" ->
      s"""WITH ev AS (SELECT epoch_us(ts) AS timestamp, value FROM events)
         |SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts,
         |  min({'t': timestamp, 'v': value}).v AS first_value,
         |  max({'t': timestamp, 'v': value}).v AS last_value,
         |  min(value) AS min_value, max(value) AS max_value,
         |  count(*) AS n_points
         |FROM ev GROUP BY 1""".stripMargin,
    "stream_sample_by" ->
      s"""WITH ev AS (SELECT epoch_us(ts) AS timestamp, value FROM events)
         |SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts,
         |  round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(*), 4) AS avg_value,
         |  count(*) AS n_points
         |FROM ev GROUP BY 1""".stripMargin,
    // the existing-authority restriction of TextSurface's incremental
    // oracle: candidates (incoming × existing) only, suppressed docs
    // with min authority — intra-batch suppression is the batch gate's
    // (dedup_incremental) concern
    "stream_dedup_incremental" -> {
      val k = 64; val bands = 16; val r = k / bands
      val bandRows = (0 until bands).map(b =>
        s"SELECT doc_id, $b AS band, concat_ws('_', " +
          (0 until r).map(j => s"m${b * r + j}").mkString(", ") + ") AS key FROM sig")
        .mkString(" UNION ALL ")
      s"""WITH ${TextSurface.minhashSigCtes},
         |bands AS ($bandRows),
         |mem AS (SELECT doc_id,
         |    (${TextSurface.h60sql("'ingest:' || CAST(doc_id AS VARCHAR)")} % 100 < 20) AS is_in
         |  FROM documents),
         |cand AS (SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS auth_id
         |  FROM bands i JOIN mem mi ON mi.doc_id = i.doc_id AND mi.is_in
         |  JOIN bands e ON e.band = i.band AND e.key = i.key
         |  JOIN mem me ON me.doc_id = e.doc_id
         |  WHERE NOT me.is_in),
         |inter AS (SELECT in_id, auth_id, count(*) AS i FROM cand
         |  JOIN s sa ON sa.doc_id = in_id
         |  JOIN s sb ON sb.doc_id = auth_id AND sa.sh = sb.sh
         |  GROUP BY 1, 2),
         |ver AS (SELECT in_id, auth_id FROM inter
         |  JOIN sz x ON x.doc_id = in_id JOIN sz y ON y.doc_id = auth_id
         |  WHERE round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) >= 0.8)
         |SELECT in_id AS doc_id, min(auth_id) AS dup_of FROM ver GROUP BY 1""".stripMargin
    },
    // same struct-tie first/last semantics as the batch ts_sample_delta/
    // ts_sample_rate oracles, over the full (unranged) stream
    "stream_sample_delta" ->
      s"""WITH ev AS (SELECT epoch_us(ts) AS timestamp, value FROM events)
         |SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts,
         |  max({'t': timestamp, 'v': value}).v - min({'t': timestamp, 'v': value}).v AS delta_value,
         |  count(*) AS n_points
         |FROM ev GROUP BY 1""".stripMargin,
    "stream_sample_rate" ->
      s"""WITH ev AS (SELECT epoch_us(ts) AS timestamp, value FROM events)
         |SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts,
         |  (max({'t': timestamp, 'v': value}).v - min({'t': timestamp, 'v': value}).v)
         |    * 1000000.0 / CAST(nullif(max(timestamp) - min(timestamp), 0) AS DOUBLE) AS rate_value,
         |  count(*) AS n_points
         |FROM ev GROUP BY 1""".stripMargin,
    "stream_sliding_window" ->
      ("WITH ev AS (SELECT epoch_us(ts) AS timestamp, value FROM events)\n" +
        RefSurface.slidingOracleSql("")),
    // label-scoped sliding windows: the oracle filters the LABEL after
    // aggregation — semantically what the pruned plan computes (the
    // rule's added scan bounds are implied, never observable)
    "stream_sliding_pruned" ->
      (s"WITH ev AS (SELECT epoch_us(ts) AS timestamp, value FROM events)\n" +
        s"SELECT * FROM (${RefSurface.slidingOracleSql("")}) " +
        s"WHERE sample_ts BETWEEN $SLIDE_T0 AND $SLIDE_T1"),
    // gaps-and-islands formulation of gap-based sessions; break on
    // diff > gap: session_window merges an event landing EXACTLY at
    // prev + gap into the session (adjacent windows coalesce — verified
    // in StreamingSpec's boundary case)
    "session_window_agg" ->
      s"""WITH ev AS (SELECT epoch_us(ts) AS timestamp, user_id FROM events),
         |b AS (SELECT user_id, timestamp,
         |    CASE WHEN prev_ts IS NULL OR timestamp - prev_ts > 1800000000 THEN 1 ELSE 0 END AS is_break
         |  FROM (SELECT user_id, timestamp,
         |          lag(timestamp) OVER (PARTITION BY user_id ORDER BY timestamp) AS prev_ts
         |        FROM ev)),
         |s AS (SELECT user_id, timestamp,
         |    sum(is_break) OVER (PARTITION BY user_id ORDER BY timestamp ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM b)
         |SELECT user_id, min(timestamp) AS session_start, count(*) AS n
         |FROM s GROUP BY user_id, sid""".stripMargin,
    // identical oracle: the segmented session-detail form must
    // reproduce session_window's gap-coalesced sessions exactly
    "session_window_seg" ->
      s"""WITH ev AS (SELECT epoch_us(ts) AS timestamp, user_id FROM events),
         |b AS (SELECT user_id, timestamp,
         |    CASE WHEN prev_ts IS NULL OR timestamp - prev_ts > 1800000000 THEN 1 ELSE 0 END AS is_break
         |  FROM (SELECT user_id, timestamp,
         |          lag(timestamp) OVER (PARTITION BY user_id ORDER BY timestamp) AS prev_ts
         |        FROM ev)),
         |s AS (SELECT user_id, timestamp,
         |    sum(is_break) OVER (PARTITION BY user_id ORDER BY timestamp ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM b)
         |SELECT user_id, min(timestamp) AS session_start, count(*) AS n
         |FROM s GROUP BY user_id, sid""".stripMargin,
    "mm_features" -> mmOracle,
    "pipeline_mm_curate" ->
      s"""SELECT m.media_id, m.format, m.n_bytes, m.width, m.height
         |FROM ($mmOracle) m
         |JOIN (${TextSurface.oracleSql("text_quality_gopher")}) q
         |  ON q.doc_id = m.media_id
         |WHERE q.keep = 1 AND m.format <> 'unknown'""".stripMargin,
    "mm_summary" ->
      s"""SELECT format, count(*) AS n,
         |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |  CAST(min(n_bytes) AS BIGINT) AS min_bytes,
         |  CAST(max(n_bytes) AS BIGINT) AS max_bytes,
         |  CAST(sum(CASE WHEN width >= 0 THEN width * height ELSE 0 END) AS BIGINT) AS sum_px
         |FROM ($mmOracle) GROUP BY 1""".stripMargin,
    "mm_resize" -> mmResizeOracle,
    // PNG closed form: geometry from the shared fixture arithmetic;
    // filter_sum = Σ_{y<h} (y mod 5) = (h div 5)·10 + r(r−1)/2 with
    // r = h mod 5; pixel checksum = 3·w·h·fill (the constant-fill raw
    // image the de-filters must reconstruct); two IDAT chunks planted.
    "mm_png" ->
      """WITH m AS (SELECT doc_id, doc_id % 251 AS fill,
        |  16 + doc_id % 97 AS w, 16 + doc_id % 53 AS h FROM documents)
        |SELECT doc_id AS media_id, 'png' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(8 AS BIGINT) AS bit_depth, CAST(2 AS BIGINT) AS color_type,
        |  CAST(2 AS BIGINT) AS n_idat,
        |  CAST((h // 5) * 10 + ((h % 5) * ((h % 5) - 1)) // 2 AS BIGINT) AS filter_sum,
        |  CAST(3 * w * h * fill AS BIGINT) AS pixel_checksum
        |FROM m""".stripMargin,
    // closed form from the generative arithmetic: geometry + the
    // constant segment/component counts + DQT = 64 fill bytes +
    // entropy run length
    "mm_jpeg" ->
      """WITH m AS (SELECT doc_id, doc_id % 251 AS fill,
        |  16 + doc_id % 97 AS w, 16 + doc_id % 53 AS h,
        |  10 + doc_id % 40 AS el FROM documents)
        |SELECT doc_id AS media_id, 'jpeg' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(8 AS BIGINT) AS bit_precision, CAST(3 AS BIGINT) AS n_components,
        |  CAST(3 AS BIGINT) AS n_segments, CAST(el AS BIGINT) AS entropy_bytes,
        |  CAST(64 * fill AS BIGINT) AS dqt_sum
        |FROM m""".stripMargin,
    // block-enumerated closed form: block b decodes to the flat value
    // 128 + (fill+b)%17 − 8 over its edge-clipped coverage — the
    // decoder's Huffman+IDCT pipeline must reproduce it exactly
    "mm_jpeg_pixels" ->
      """WITH m AS (SELECT doc_id, doc_id % 251 AS fill,
        |  16 + doc_id % 97 AS w, 16 + doc_id % 53 AS h FROM documents),
        |g AS (SELECT doc_id, fill, w, h,
        |  (w + 7) // 8 AS bw, (h + 7) // 8 AS bh FROM m),
        |b AS (SELECT doc_id, fill, w, h, bw, bh,
        |  unnest(range(bw * bh)) AS bi FROM g),
        |pv AS (SELECT doc_id,
        |    128 + (fill + bi) % 17 - 8 AS pix,
        |    least(8, w - (bi % bw) * 8) AS cw,
        |    least(8, h - (bi // bw) * 8) AS ch
        |  FROM b),
        |sums AS (SELECT doc_id, sum(pix * cw * ch) AS psum,
        |    min(pix) AS pmin, max(pix) AS pmax
        |  FROM pv GROUP BY 1)
        |SELECT g.doc_id AS media_id, 'jpeg' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(bw * bh AS BIGINT) AS n_blocks,
        |  CAST(psum AS BIGINT) AS pixel_sum,
        |  CAST(pmin AS BIGINT) AS pixel_min,
        |  CAST(pmax AS BIGINT) AS pixel_max
        |FROM g JOIN sums USING (doc_id)""".stripMargin,
    // pixel-enumerated oracle (the mm_frame_sample unnest style): the
    // planted index is (x + y + fill) % 256 and the palette entry for
    // index i is (7i%256, 11i%256, 13i%256) — both mirrored here, so
    // the checksums verify the LZW decode index-by-index
    "mm_gif" ->
      """WITH m AS (SELECT doc_id, doc_id % 251 AS fill,
        |  16 + doc_id % 97 AS w, 16 + doc_id % 53 AS h FROM documents),
        |px AS (SELECT doc_id, fill, w, h, unnest(range(w * h)) AS p FROM m),
        |ix AS (SELECT doc_id, ((p % w) + (p // w) + fill) % 256 AS i FROM px),
        |s AS (SELECT doc_id, sum(i) AS isum,
        |    sum((7 * i) % 256 + (11 * i) % 256 + (13 * i) % 256) AS rsum
        |  FROM ix GROUP BY 1)
        |SELECT m.doc_id AS media_id, 'gif' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(256 AS BIGINT) AS n_colors,
        |  CAST(fill % 256 AS BIGINT) AS bg_index,
        |  CAST(isum AS BIGINT) AS index_checksum,
        |  CAST(rsum AS BIGINT) AS rgb_checksum
        |FROM m JOIN s USING (doc_id)""".stripMargin,
    // closed form from the shared geometry: 8 IFD entries, single
    // uncompressed strip of 3wh fill bytes, byte order by id parity
    "mm_tiff" ->
      """WITH m AS (SELECT doc_id, doc_id % 251 AS fill,
        |  16 + doc_id % 97 AS w, 16 + doc_id % 53 AS h FROM documents)
        |SELECT doc_id AS media_id, 'tiff' AS format,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(8 AS BIGINT) AS n_entries, CAST(1 AS BIGINT) AS compression,
        |  CAST(3 * w * h AS BIGINT) AS strip_bytes,
        |  CAST(3 * w * h * fill AS BIGINT) AS pixel_checksum
        |FROM m""".stripMargin,
    // closed form from the shared geometry: 12 boxes, stsz entry i is
    // 1 + (fill+i) % 97 (summed via unnest — the table read and the
    // mdat framing must agree on the same total), constant-fill mdat
    "mm_mp4" ->
      """WITH m AS (SELECT doc_id, doc_id % 251 AS fill, 16 + doc_id % 97 AS w,
        |  16 + doc_id % 53 AS h, 64 + doc_id % 129 AS ns,
        |  600 + doc_id % 1234 AS dur FROM documents),
        |sz AS (SELECT doc_id, sum(1 + (fill + s) % 97) AS sb
        |  FROM (SELECT doc_id, fill, unnest(range(ns)) AS s FROM m) GROUP BY 1)
        |SELECT m.doc_id AS media_id, 'mp4' AS format, 'isom' AS major_brand,
        |  CAST(600 AS BIGINT) AS timescale, CAST(dur AS BIGINT) AS duration,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(ns AS BIGINT) AS n_samples, CAST(sb AS BIGINT) AS sample_bytes,
        |  CAST(sb AS BIGINT) AS mdat_bytes,
        |  CAST(sb * fill AS BIGINT) AS mdat_checksum,
        |  CAST(12 AS BIGINT) AS n_boxes
        |FROM m JOIN sz USING (doc_id)""".stripMargin,
    // closed form from the shared plant: ne members of 1 + (fill+i)%97
    // uncompressed bytes, every (id+i)%3==0 member deflated, trailer
    // comment 1 + id%7 on every 5th id; crc_ok/sizes_ok = ne verdicts
    "mm_zip" ->
      """WITH m AS (SELECT doc_id, doc_id % 251 AS fill, 4 + doc_id % 13 AS ne,
        |  CASE WHEN doc_id % 5 = 0 THEN 1 + doc_id % 7 ELSE 0 END AS clen
        |  FROM documents),
        |e AS (SELECT doc_id, sum(1 + (fill + i) % 97) AS tot,
        |    sum(CASE WHEN (doc_id + i) % 3 = 0 THEN 1 ELSE 0 END) AS nd
        |  FROM (SELECT doc_id, fill, unnest(range(ne)) AS i FROM m) GROUP BY 1)
        |SELECT m.doc_id AS media_id, 'zip' AS format,
        |  CAST(m.ne AS BIGINT) AS n_entries, CAST(e.tot AS BIGINT) AS total_bytes,
        |  CAST(m.ne - e.nd AS BIGINT) AS n_stored, CAST(e.nd AS BIGINT) AS n_deflated,
        |  CAST(m.clen AS BIGINT) AS comment_len, CAST(m.ne AS BIGINT) AS crc_ok,
        |  CAST(m.ne AS BIGINT) AS sizes_ok
        |FROM m JOIN e USING (doc_id)""".stripMargin,
    // closed form from the shared plant: ne members, every (id+i)%4==0
    // a directory, file i carries 1 + (fill+i)%97 bytes of
    // (fill + 11i + j) % 251; chksum_ok = ne verdict
    "mm_tar" ->
      """WITH m AS (SELECT doc_id, doc_id % 251 AS fill, 3 + doc_id % 11 AS ne
        |  FROM documents),
        |mem AS (SELECT doc_id, fill, i, ((doc_id + i) % 4 = 0) AS is_dir,
        |    1 + (fill + i) % 97 AS len
        |  FROM (SELECT doc_id, fill, ne, unnest(range(ne)) AS i FROM m)),
        |fb AS (SELECT doc_id, sum(CASE WHEN is_dir THEN 0 ELSE len END) AS tot,
        |    sum(CASE WHEN is_dir THEN 1 ELSE 0 END) AS nd FROM mem GROUP BY 1),
        |cs AS (SELECT doc_id, sum((fill + 11 * i + j) % 251) AS cc
        |  FROM (SELECT doc_id, fill, i, unnest(range(len)) AS j
        |    FROM mem WHERE NOT is_dir)
        |  GROUP BY 1)
        |SELECT m.doc_id AS media_id, 'tar' AS format,
        |  CAST(m.ne AS BIGINT) AS n_members,
        |  CAST(m.ne - fb.nd AS BIGINT) AS n_files,
        |  CAST(fb.nd AS BIGINT) AS n_dirs,
        |  CAST(fb.tot AS BIGINT) AS total_bytes,
        |  CAST(m.ne AS BIGINT) AS chksum_ok,
        |  CAST(coalesce(cs.cc, 0) AS BIGINT) AS content_checksum
        |FROM m JOIN fb USING (doc_id) LEFT JOIN cs USING (doc_id)""".stripMargin,
    // closed form from the shared plant: ng*nc chunks of
    // 10 + (fill+7g+3c) % 200 position-dependent bytes, codecs cycle
    // {0,1,6}, rows split exactly across groups (Σ = nr ⇒ rows_ok),
    // every chunk in bounds; the checksum re-derives the byte plant
    "mm_parquet" ->
      """WITH m AS (SELECT doc_id, doc_id % 251 AS fill, 2 + doc_id % 3 AS nc,
        |  1 + doc_id % 4 AS ng, 100 + doc_id % 900 AS nr FROM documents),
        |gg AS (SELECT doc_id, fill, nc, unnest(range(ng)) AS g FROM m),
        |cc AS (SELECT doc_id, fill, nc, g, unnest(range(nc)) AS c FROM gg),
        |ch AS (SELECT doc_id, fill, g * nc + c AS k,
        |  10 + (fill + 7 * g + 3 * c) % 200 AS csz,
        |  CASE c % 3 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 6 END AS codec FROM cc),
        |agg AS (SELECT doc_id, count(*) AS n_chunks, sum(csz) AS data_bytes,
        |  sum(codec) AS codec_sum FROM ch GROUP BY 1),
        |bj AS (SELECT doc_id, fill, k, unnest(range(csz)) AS j FROM ch),
        |cs AS (SELECT doc_id, sum((fill + 11 * k + j) % 251) AS checksum
        |  FROM bj GROUP BY 1)
        |SELECT m.doc_id AS media_id, 'parquet' AS format,
        |  CAST(1 AS BIGINT) AS version, CAST(nc AS BIGINT) AS n_cols,
        |  CAST(ng AS BIGINT) AS n_groups, CAST(nr AS BIGINT) AS num_rows,
        |  CAST(agg.n_chunks AS BIGINT) AS n_chunks,
        |  CAST(nr * nc AS BIGINT) AS values_sum,
        |  CAST(agg.data_bytes AS BIGINT) AS data_bytes,
        |  CAST(agg.codec_sum AS BIGINT) AS codec_sum,
        |  CAST(1 AS BIGINT) AS rows_ok, CAST(1 AS BIGINT) AS bounds_ok,
        |  CAST(cs.checksum AS BIGINT) AS data_checksum
        |FROM m JOIN agg USING (doc_id) JOIN cs USING (doc_id)""".stripMargin,
    // closed form from the shared plant: nb blocks of 5 + (fill+b)%20
    // records valued (fill + 13b + i) % 1000; metadata is the constant
    // two-entry map, framing verdicts hold by construction
    "mm_avro" ->
      s"""WITH m AS (SELECT doc_id, doc_id % 251 AS fill, 1 + doc_id % 5 AS nb
         |  FROM documents),
         |bb AS (SELECT doc_id, fill, unnest(range(nb)) AS b FROM m),
         |br AS (SELECT doc_id, fill, b, 5 + (fill + b) % 20 AS nr FROM bb),
         |ri AS (SELECT doc_id, fill, b, unnest(range(nr)) AS i FROM br),
         |vs AS (SELECT doc_id, sum((fill + 13 * b + i) % 1000) AS vsum,
         |    count(*) AS recs FROM ri GROUP BY 1)
         |SELECT m.doc_id AS media_id, 'avro' AS format,
         |  CAST(2 AS BIGINT) AS n_meta, 'null' AS codec,
         |  CAST(${graft.ops.Multimodal.AvroSchemaJson.getBytes("UTF-8").length} AS BIGINT) AS schema_len,
         |  CAST(nb AS BIGINT) AS n_blocks, CAST(vs.recs AS BIGINT) AS n_records,
         |  CAST(vs.vsum AS BIGINT) AS value_sum,
         |  CAST(1 AS BIGINT) AS sync_ok, CAST(1 AS BIGINT) AS bytes_ok
         |FROM m JOIN vs USING (doc_id)""".stripMargin,
    // closed form per audio doc (doc_id % 3 = 2): ns = 64 + id % 129
    // 16-bit mono samples of the constant fill byte (id % 251), frames
    // of 32 samples → selected frame fi has min(32, ns - 32·fi)
    // samples and byte checksum n_in_frame · 2 · fill
    "mm_frame_sample" ->
      """WITH a AS (SELECT doc_id, doc_id % 251 AS fill, 64 + doc_id % 129 AS ns
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id, fill, ns,
        |    unnest(range(0, (ns + 31) // 32)) AS fi FROM a)
        |SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
        |  CAST(least(32, ns - 32 * fi) AS BIGINT) AS n_in_frame,
        |  CAST(least(32, ns - 32 * fi) * 2 * fill AS BIGINT) AS byte_sum
        |FROM f WHERE fi % 2 = 0""".stripMargin,
  )

  /** Closed-form oracle for the planted-payload decode: mirrors
    * Multimodal.buildPayload byte-for-byte. Header checksums decompose
    * into a constant (sum of fixed header bytes) plus the little-endian
    * byte sums of the id-derived fields; the body contributes
    * body_len * fill. Constants: BMP fixed bytes sum 322 ('B'+'M' +
    * offset 54 + hdrSize 40 + planes 1 + bpp 24 + 2*le4(2835)=60),
    * PPM fixed chars sum 352 ("P6\n" + ' ' + "\n255\n"), WAV fixed
    * sum 1407 ("RIFF"+"WAVE"+"fmt "+16+1+1+2+16+"data").
    */
  /** Closed-form oracle for [[Multimodal.resizeHalf]] output decoded by
    * the same extractor: half geometry (nearest-neighbor keeps the
    * uniform fill byte for every sampled pixel), ZERO row padding in
    * the re-encoded BMP (pixel bytes contribute fill, pads 0 — unlike
    * the source payloads whose pads are fill), WAV decimated to
    * ceil(ns/2) samples at rate/2. */
  private def mmResizeOracle: String = {
    def le4(e: String) =
      s"((($e) & 255) + ((($e) >> 8) & 255) + ((($e) >> 16) & 255) + ((($e) >> 24) & 255))"
    def digits(e: String, d: String) =
      s"((($e) // 100) + ((($e) // 10) % 10) + (($e) % 10) + 48 * ($d))"
    s"""WITH m AS (
       |  SELECT doc_id, doc_id % 3 AS f, doc_id % 251 AS fill,
       |         greatest((16 + doc_id % 97) // 2, 1) AS w,
       |         greatest((16 + doc_id % 53) // 2, 1) AS h,
       |         greatest((8000 + (doc_id % 5) * 4000) // 2, 1) AS rate,
       |         ((64 + doc_id % 129) + 1) // 2 AS ns
       |  FROM documents),
       |c AS (
       |  SELECT *, ((w * 3 + 3) // 4) * 4 * h AS bmp_body, 3 * w * h AS px,
       |         3 * w * h AS ppm_body, 2 * ns AS wav_body,
       |         CASE WHEN w >= 100 THEN 3 WHEN w >= 10 THEN 2 ELSE 1 END AS wd,
       |         CASE WHEN h >= 100 THEN 3 WHEN h >= 10 THEN 2 ELSE 1 END AS hd
       |  FROM m)
       |SELECT doc_id AS media_id,
       |  CASE f WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'wav' END AS format,
       |  CAST(CASE f WHEN 0 THEN 54 + bmp_body
       |              WHEN 1 THEN 9 + wd + hd + ppm_body
       |              ELSE 44 + wav_body END AS BIGINT) AS n_bytes,
       |  CAST(CASE f WHEN 0 THEN 66 WHEN 1 THEN 80 ELSE 82 END AS BIGINT) AS first_byte,
       |  CAST(CASE f
       |    WHEN 0 THEN 322 + ${le4("54 + bmp_body")} + ${le4("w")} + ${le4("h")}
       |                + ${le4("bmp_body")} + px * fill
       |    WHEN 1 THEN 352 + ${digits("w", "wd")} + ${digits("h", "hd")} + ppm_body * fill
       |    ELSE 1407 + ${le4("36 + wav_body")} + ${le4("rate")} + ${le4("rate * 2")}
       |         + ${le4("wav_body")} + wav_body * fill
       |  END AS BIGINT) AS byte_checksum,
       |  CAST(CASE WHEN f <= 1 THEN w ELSE -1 END AS BIGINT) AS width,
       |  CAST(CASE WHEN f <= 1 THEN h ELSE -1 END AS BIGINT) AS height,
       |  CAST(CASE WHEN f = 2 THEN rate ELSE -1 END AS BIGINT) AS sample_rate,
       |  CAST(CASE WHEN f = 2 THEN ns ELSE -1 END AS BIGINT) AS n_samples
       |FROM c""".stripMargin
  }

  private def mmOracle: String = {
    // sum of the 4 little-endian bytes of a 32-bit value
    def le4(e: String) =
      s"((($e) & 255) + ((($e) >> 8) & 255) + ((($e) >> 16) & 255) + ((($e) >> 24) & 255))"
    // sum of the ASCII decimal digits of a value with d digits (d <= 3)
    def digits(e: String, d: String) =
      s"((($e) // 100) + ((($e) // 10) % 10) + (($e) % 10) + 48 * ($d))"
    s"""WITH m AS (
       |  SELECT doc_id, doc_id % 3 AS f, doc_id % 251 AS fill,
       |         16 + doc_id % 97 AS w, 16 + doc_id % 53 AS h,
       |         8000 + (doc_id % 5) * 4000 AS rate, 64 + doc_id % 129 AS ns
       |  FROM documents),
       |c AS (
       |  SELECT *, ((w * 3 + 3) // 4) * 4 * h AS bmp_body, 3 * w * h AS ppm_body,
       |         2 * ns AS wav_body,
       |         CASE WHEN w >= 100 THEN 3 WHEN w >= 10 THEN 2 ELSE 1 END AS wd,
       |         CASE WHEN h >= 100 THEN 3 WHEN h >= 10 THEN 2 ELSE 1 END AS hd
       |  FROM m)
       |SELECT doc_id AS media_id,
       |  CASE f WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'wav' END AS format,
       |  CAST(CASE f WHEN 0 THEN 54 + bmp_body
       |              WHEN 1 THEN 9 + wd + hd + ppm_body
       |              ELSE 44 + wav_body END AS BIGINT) AS n_bytes,
       |  CAST(CASE f WHEN 0 THEN 66 WHEN 1 THEN 80 ELSE 82 END AS BIGINT) AS first_byte,
       |  CAST(CASE f
       |    WHEN 0 THEN 322 + ${le4("54 + bmp_body")} + ${le4("w")} + ${le4("h")}
       |                + ${le4("bmp_body")} + bmp_body * fill
       |    WHEN 1 THEN 352 + ${digits("w", "wd")} + ${digits("h", "hd")} + ppm_body * fill
       |    ELSE 1407 + ${le4("36 + wav_body")} + ${le4("rate")} + ${le4("rate * 2")}
       |         + ${le4("wav_body")} + wav_body * fill
       |  END AS BIGINT) AS byte_checksum,
       |  CAST(CASE WHEN f <= 1 THEN w ELSE -1 END AS BIGINT) AS width,
       |  CAST(CASE WHEN f <= 1 THEN h ELSE -1 END AS BIGINT) AS height,
       |  CAST(CASE WHEN f = 2 THEN rate ELSE -1 END AS BIGINT) AS sample_rate,
       |  CAST(CASE WHEN f = 2 THEN ns ELSE -1 END AS BIGINT) AS n_samples
       |FROM c""".stripMargin
  }
}
