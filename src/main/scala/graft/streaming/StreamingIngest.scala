package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.catalog.TsCatalog

/** Structured Streaming ingest — the Spark-native analog of the
  * reference's write path (WAL + head/prev chunk buffering,
  * src/timeseries.c:621-682): the micro-batch checkpoint plays the WAL
  * role (exactly-once restart), and watermark-bounded out-of-orderness
  * replaces the prev-chunk window (SURVEY.md §2.6 streaming row).
  *
  * Scale: each micro-batch append is a normal bucket-partitioned write
  * (same layout as batch ingest), so readers and the retention/compact
  * maintenance jobs are oblivious to which path wrote the data.
  */
object StreamingIngest {

  /** Schema of a streaming point source: (timestamp nanos, value). */
  val PointSourceSchema: StructType = TsCatalog.PointSchema

  /** Continuously append a parquet-file stream into a series table.
    * Each micro-batch goes through TsCatalog.insert so duplication
    * policy and bucket layout match the batch path. */
  def ingest(spark: SparkSession, sourceDir: String, catalog: TsCatalog,
      db: String, series: String, checkpointDir: String): StreamingQuery = {
    spark.readStream
      .schema(PointSourceSchema)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        catalog.insert(db, series, batch); ()
      }
      .start()
  }

  /** Gap-based session windows via Spark's native `session_window` —
    * identical code path in batch and streaming (the reference cannot
    * express sessions at all, SURVEY §2.6 "no session windows"; the
    * manual lag+running-sum sessionize in AnalyticsSurface is the
    * window-function formulation of the same semantics). A new session
    * starts only when an event arrives MORE than gap after the previous
    * one — an event exactly at prev + gap still merges (adjacent
    * session windows coalesce; locked by StreamingSpec's boundary
    * case). Streaming use requires append mode + a watermark (pass
    * `watermark`); sessions emit once the watermark passes their end.
    * Output: (user_id, session_start epoch-micros, n). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: Option[String] = None): DataFrame = {
    val timed = events.withColumn("event_time", timestamp_micros(col("timestamp")))
    val marked = watermark.fold(timed)(timed.withWatermark("event_time", _))
    marked
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start"),
        col("n"))
  }

  /** Stream-stream interval join — effect→cause attribution (e.g.
    * click→view) within a bounded time gap, the canonical two-stream
    * correlation. Both sides carry event-time watermarks and the join
    * condition bounds the gap, which is exactly what lets Spark evict
    * join state older than watermark + gap — the property that makes a
    * stream-stream join runnable indefinitely at scale (an unbounded
    * join would accumulate every row ever seen as state). Inner join
    * only: matches emit as both sides arrive, deterministically;
    * outer-join rows would emit on watermark advancement, which is
    * arrival-timing-dependent. At scale the join shuffles both streams
    * on user_id per micro-batch — the same exchange a batch join pays,
    * with state bounded by (gap + watermark) × per-user event rate.
    *
    * `events`: (event_id, etime timestamp, user_id, event_type).
    * Output: (effect_id, cause_id, user_id, gap_us ≥ 0), one row per
    * cause event of the same user in [effect − gap, effect].
    */
  def attributeWithin(events: DataFrame, effectType: String, causeType: String,
      gap: String = "30 minutes", watermark: String = "1 hour"): DataFrame = {
    val effects = events.filter(col("event_type") === effectType)
      .select(col("event_id").as("effect_id"), col("user_id"),
        col("etime").as("effect_time"))
      .withWatermark("effect_time", watermark)
    val causes = events.filter(col("event_type") === causeType)
      .select(col("event_id").as("cause_id"), col("user_id").as("cause_user"),
        col("etime").as("cause_time"))
      .withWatermark("cause_time", watermark)
    effects.join(causes,
        col("user_id") === col("cause_user") &&
          col("cause_time") >= col("effect_time") - expr(s"INTERVAL $gap") &&
          col("cause_time") <= col("effect_time"))
      .select(col("effect_id"), col("cause_id"), col("user_id"),
        (unix_micros(col("effect_time")) - unix_micros(col("cause_time")))
          .as("gap_us"))
  }

  final case class AsOfEvent(timestamp: Long, user_id: Long,
      event_type: String, value: Double)
  final case class AsOfAnnotated(user_id: Long, timestamp: Long,
      value: Double, last_click: Option[Double])
  final case class LastCause(ts: Long, v: Double)

  /** Streaming BACKWARD as-of join — the reference's ts_find analog
    * under continuous ingest (every arriving event annotated with the
    * user's most recent `causeType` value at-or-before it), and the
    * streaming twin of graft.ops.AsOfJoin.backward. Structured
    * Streaming forbids window functions, so the union+carry window
    * can't run on a stream; the carry IS per-key state, which is
    * exactly what `flatMapGroupsWithState` models: one LastCause
    * struct per user (bounded by the key space, the topk_records
    * state discipline), merged across micro-batches.
    *
    * Per batch and key: causes collapse per timestamp to their MAX
    * value (the batch gate's groupBy(user, ts).agg(max) right-side
    * normalization), both sides sort by event time, and a two-pointer
    * merge carries the latest cause at-or-before each left row —
    * within a batch this reproduces the batch operator exactly
    * (inclusive >=, same tie policy). Across batches the carry
    * assumes event time advances batch-over-batch (the ordered-replay
    * contract of the staged source; a stale state never overwrites a
    * newer cause). Left rows sort (ts, value) so equal-ts output
    * order is deterministic. */
  def asOfAnnotate(events: org.apache.spark.sql.Dataset[AsOfEvent],
      causeType: String = "click")
      : org.apache.spark.sql.Dataset[AsOfAnnotated] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastCause, AsOfAnnotated](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, batch, state: GroupState[LastCause]) =>
          val evs = batch.toArray
          val causes = evs.filter(_.event_type == causeType)
            .groupBy(_.timestamp)
            .map { case (ts, es) => LastCause(ts, es.map(_.value).max) }
            .toArray.sortBy(_.ts)
          val lefts = evs.filter(_.event_type != causeType)
            .sortBy(e => (e.timestamp, e.value))
          var cur = state.getOption.orNull
          var ci = 0
          val out = new scala.collection.mutable.ArrayBuffer[AsOfAnnotated](lefts.length)
          lefts.foreach { e =>
            while (ci < causes.length && causes(ci).ts <= e.timestamp) {
              if (cur == null || causes(ci).ts >= cur.ts) cur = causes(ci)
              ci += 1
            }
            out += AsOfAnnotated(uid, e.timestamp, e.value,
              Option(cur).map(_.v))
          }
          while (ci < causes.length) {
            if (cur == null || causes(ci).ts >= cur.ts) cur = causes(ci)
            ci += 1
          }
          if (cur != null) state.update(cur)
          out.iterator
      }
  }

  final case class ZEvent(timestamp: Long, user_id: Long, event_id: Long,
      value: Double)
  final case class ZScored(user_id: Long, ts_us: Long, value: Double,
      event_id: Long, n_prev: Long, mean6: Option[Long], anomaly: Long)
  /** Per-user trailing ring: the last `lookback` (ts, event_id,
    * 1e-4-fixed-point value) observations in (ts, event_id) order —
    * bounded state, the LastCause discipline at window width. */
  final case class ZRing(ts: Array[Long], eid: Array[Long], vi: Array[Long])

  /** Streaming rolling z-score — graft.ops.Anomaly.rollingZScore as a
    * continuous query (the monitoring verdict under live ingest).
    * Window functions can't run on a stream, so the trailing frame IS
    * per-key state: one ≤`lookback`-slot ring per user in
    * `flatMapGroupsWithState`, merged across micro-batches.
    *
    * Bit-parity with the batch operator (so the SAME win_anomaly
    * oracle gates both): each value quantizes ONCE to 1e-4 fixed
    * point with the HALF_UP rule Spark's round() applies (via the
    * canonical string, BigDecimal.valueOf — the batch rework's
    * declared precision), the window sums accumulate as exact longs,
    * and the mean/variance/verdict chain then runs the identical IEEE
    * double operation order as the batch column expressions. Per
    * batch, events process in (ts, event_id) order; across batches
    * the ring carries, assuming event time advances batch-over-batch
    * (the staged ordered-replay contract, as in [[asOfAnnotate]]). */
  def rollingZScoreStream(events: org.apache.spark.sql.Dataset[ZEvent],
      k2: Int = 9, minPrev: Int = 8, lookback: Int = 20)
      : org.apache.spark.sql.Dataset[ZScored] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ZRing, ZScored](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, batch, state: GroupState[ZRing]) =>
          val evs = batch.toArray.sortBy(e => (e.timestamp, e.event_id))
          val init = state.getOption.getOrElse(
            ZRing(Array.empty, Array.empty, Array.empty))
          // ring as growable parallel buffers, trimmed to `lookback`
          val ts = scala.collection.mutable.ArrayBuffer(init.ts.toSeq: _*)
          val eid = scala.collection.mutable.ArrayBuffer(init.eid.toSeq: _*)
          val vs = scala.collection.mutable.ArrayBuffer(init.vi.toSeq: _*)
          // round() HALF_UP over the canonical string, exactly Spark's
          // Round-on-double — rint (half-even) diverges on halves
          def quant(x: Double): Long =
            java.math.BigDecimal.valueOf(x * 10000.0)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue
          val out = new scala.collection.mutable.ArrayBuffer[ZScored](evs.length)
          evs.foreach { e =>
            val n = vs.length
            if (n == 0) out += ZScored(uid, e.timestamp, e.value, e.event_id,
              0L, None, 0L)
            else {
              // exact fixed-point sums, then the batch plan's IEEE chain
              var svL = 0L; var ssqL = 0L
              vs.foreach { x => svL += x; ssqL += x * x }
              val svD = svL.toDouble / 10000.0
              val sqD = ssqL.toDouble / 100000000.0
              val mean = svD / n
              val varr = sqD / n - mean * mean
              val dev = e.value - mean
              val mean6 = math.floor(svD * 1000000 / n).toLong
              val anomaly =
                if (n >= minPrev && dev * dev > k2 * varr) 1L else 0L
              out += ZScored(uid, e.timestamp, e.value, e.event_id,
                n.toLong, Some(mean6), anomaly)
            }
            ts += e.timestamp; eid += e.event_id; vs += quant(e.value)
            if (vs.length > lookback) { ts.remove(0); eid.remove(0); vs.remove(0) }
          }
          state.update(ZRing(ts.toArray, eid.toArray, vs.toArray))
          out.iterator
      }
  }

  final case class FunnelEvent(timestamp: Long, user_id: Long,
      event_type: String)
  /** Per-user frontier times per step; Long.MinValue = unreached. */
  final case class FunnelFrontier(t: Array[Long])
  final case class StepReached(user_id: Long, step: Long, ts: Long)

  /** Streaming ordered funnel — graft.ops.Funnels.funnel's frontiers
    * under continuous ingest (real-time conversion tracking): one
    * step-times array per user in flatMapGroupsWithState, each batch
    * processed in event-time order. Processing ascending-by-ts makes
    * the set-once frontier EXACTLY the batch min-qualifying rule: when
    * a step-k event arrives, every candidate that could have set
    * frontier k−1 lower has already been seen (smaller ts), and a
    * qualifying step-k event can never be undercut later (larger ts) —
    * so first-qualifying ≡ min-qualifying. Strictly-after chaining and
    * same-ts exclusion carry over unchanged: a step event at exactly
    * the previous frontier's ts fails ts > t(k−1) regardless of
    * processing order within the tie. Emits one append-mode
    * (user, step, ts) row per NEWLY reached step; cross-batch carry
    * under the staged ordered-replay contract ([[asOfAnnotate]]). */
  def funnelStream(events: org.apache.spark.sql.Dataset[FunnelEvent],
      types: Seq[String]): org.apache.spark.sql.Dataset[StepReached] = {
    require(types.nonEmpty && types.size == types.distinct.size,
      s"steps must be non-empty and distinct, got $types")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typeIdx = types.zipWithIndex.toMap
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelFrontier, StepReached](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, batch, state: GroupState[FunnelFrontier]) =>
          val t = state.getOption
            .getOrElse(FunnelFrontier(Array.fill(types.size)(Long.MinValue)))
            .t.clone()
          val out = new scala.collection.mutable.ArrayBuffer[StepReached]()
          batch.toArray.sortBy(_.timestamp).foreach { e =>
            typeIdx.get(e.event_type).foreach { i =>
              val chained = i == 0 ||
                (t(i - 1) != Long.MinValue && e.timestamp > t(i - 1))
              if (chained && t(i) == Long.MinValue) {
                t(i) = e.timestamp
                out += StepReached(uid, (i + 1).toLong, e.timestamp)
              }
            }
          }
          state.update(FunnelFrontier(t))
          out.iterator
      }
  }

  final case class RetEvent(timestamp: Long, user_id: Long)
  /** Per-user retention state: first-activity period and the last
    * period already emitted (periods arrive non-decreasing under the
    * ordered-replay contract, so one Long bounds the dedup). */
  final case class RetState(cohort: Long, lastEmitted: Long)
  final case class PeriodActive(user_id: Long, cohort_period: Long,
      offset: Long)

  /** Streaming cohort retention — graft.ops.Funnels.retention as a
    * continuous query: each user's first-activity period pins their
    * cohort, and every NEW active period emits one append-mode
    * (user, cohort, offset) row, deduped against per-user state.
    * Batch-side reduction to (cohort_period, offset, n_users) then
    * matches the batch operator exactly, because under ordered replay
    * the first period seen IS the minimum and within-period repeats
    * collapse on the lastEmitted watermark — the distinct (user,
    * period) set is identical to the batch DISTINCT. */
  def retentionStream(events: org.apache.spark.sql.Dataset[RetEvent],
      periodUs: Long = 7L * 86400000000L)
      : org.apache.spark.sql.Dataset[PeriodActive] = {
    require(periodUs >= 1, s"periodUs must be >= 1, got $periodUs")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetState, PeriodActive](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, batch, state: GroupState[RetState]) =>
          val periods = batch.map(e => Math.floorDiv(e.timestamp, periodUs))
            .toArray.sorted
          var st = state.getOption.getOrElse(RetState(Long.MinValue, Long.MinValue))
          val out = new scala.collection.mutable.ArrayBuffer[PeriodActive]()
          periods.foreach { p =>
            if (st.cohort == Long.MinValue) st = RetState(p, Long.MinValue)
            if (p > st.lastEmitted) {
              out += PeriodActive(uid, st.cohort, p - st.cohort)
              st = RetState(st.cohort, p)
            }
          }
          state.update(st)
          out.iterator
      }
  }
}
