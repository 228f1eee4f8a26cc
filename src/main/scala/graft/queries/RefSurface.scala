package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.engine.SeriesOps

/** The reference query surface (SURVEY.md §2.1 rows 6-17) expressed over
  * the driver's `events` table as the canonical (timestamp, value)
  * series, each paired with DuckDB oracle SQL.
  *
  * Oracle parity note: these queries operate on epoch-MICROS longs
  * (`ts div 1000`) because DuckDB reads parquet TIMESTAMP(NANOS) at
  * micro precision; the tsql engine itself (graft.engine/tsql) keeps the
  * reference's full nanos semantics and is locked by ScalaTest instead.
  */
object RefSurface {

  // Fixed range inside the events data span (2024-01-01 .. 2024-01-31).
  private val T0 = 1704500000000000L // epoch-micros
  private val T1 = 1705500000000000L
  private[queries] val HOUR_US = 3600000000L
  private[queries] val SLIDE_US = HOUR_US / 4

  /** Sliding-window oracle body over an `ev(timestamp, value)` CTE —
    * shared with the streaming variant (StreamSurface) so the window
    * fan-out k = width/slide is DERIVED once, never hardcoded in two
    * places. `where` scopes the batch variant's range (empty for the
    * full-series streaming gate). */
  private[queries] def slidingOracleSql(where: String): String =
    s"""SELECT j * $SLIDE_US + (timestamp - timestamp % $SLIDE_US) + $SLIDE_US AS sample_ts,
       |  CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
       |  count(*) AS n_points
       |FROM ev CROSS JOIN (SELECT unnest(range(${HOUR_US / SLIDE_US})) AS j)
       |${where}GROUP BY 1""".stripMargin

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.eventSeries(s, dir)

  /** Range-scoped series with the predicate pushed to the raw ts column
    * (see Tables.eventSeriesRanged); SeriesOps.range is still applied
    * on the micros column for closed-interval exactness. */
  private def evRanged(s: SparkSession, dir: String): DataFrame =
    SeriesOps.range(Tables.eventSeriesRanged(s, dir, T0, T1), T0, T1)

  // DuckDB view of the same series, shared by every oracle below.
  private val EV =
    "WITH ev AS (SELECT epoch_us(ts) AS timestamp, value, event_id, user_id, event_type FROM events) "

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_scan_full" -> ((s, dir) => SeriesOps.scan(ev(s, dir))),
    "ts_range" -> ((s, dir) => SeriesOps.scan(evRanged(s, dir))),
    "ts_range_min" -> ((s, dir) => SeriesOps.minRecord(evRanged(s, dir))),
    "ts_range_max" -> ((s, dir) => SeriesOps.maxRecord(evRanged(s, dir))),
    "ts_range_avg" -> ((s, dir) => SeriesOps.avgValue(evRanged(s, dir))),
    "ts_latest" -> ((s, dir) => SeriesOps.latest(evRanged(s, dir))),
    "ts_earliest" -> ((s, dir) => SeriesOps.earliest(ev(s, dir), 20)),
    "ts_first" -> ((s, dir) => SeriesOps.first(ev(s, dir))),
    "ts_point_lookup" -> ((s, dir) => {
      val e = ev(s, dir)
      val pt = e.filter(col("event_id") === 123)
        .select(col("timestamp").as("t_pt"))
      e.join(broadcast(pt), col("timestamp") === col("t_pt"))
        .select(col("timestamp"), col("value"))
    }),
    "ts_sample_by" -> ((s, dir) =>
      SeriesOps.sampleBy(evRanged(s, dir), HOUR_US)),
    // label-range query over the FULL series: the SampleWindowPrune
    // rule translates the sample_ts bounds into raw-timestamp bounds
    // below the aggregation (window semantics differ from ts_sample_by:
    // boundary windows here aggregate ALL their rows, not just
    // in-range ones — the label filter, not a row filter, scopes it)
    "ts_sample_by_pruned" -> ((s, dir) =>
      SeriesOps.sampleBy(ev(s, dir), HOUR_US)
        .filter(col("sample_ts") >= T0 && col("sample_ts") <= T1)),
    "ts_sliding_window" -> ((s, dir) =>
      SeriesOps.slidingBy(evRanged(s, dir), HOUR_US, SLIDE_US)),
    // counter-analytics selectors over SAMPLE BY windows (extension
    // surface): last-minus-first delta and its per-second rate, both
    // tie-deterministic via struct min/max (see SeriesOps.sampleByFn)
    "ts_sample_delta" -> ((s, dir) =>
      SeriesOps.sampleByFn(evRanged(s, dir), HOUR_US, "delta")),
    // SAMPLE BY + FILL over the sparse error sub-series (hourly gaps
    // exist by construction): prev = carry-forward steps, linear =
    // neighbor interpolation — everything past the aggregate runs on
    // the data-independent bucket axis (see SeriesOps.sampleByFill)
    "ts_sample_fill_prev" -> ((s, dir) =>
      SeriesOps.sampleByFill(
        ev(s, dir).filter(col("event_type") === "error"), HOUR_US, "prev")),
    "ts_sample_fill_linear" -> ((s, dir) =>
      SeriesOps.sampleByFill(
        ev(s, dir).filter(col("event_type") === "error"), HOUR_US, "linear")),
    "ts_sample_rate" -> ((s, dir) =>
      SeriesOps.sampleByFn(evRanged(s, dir), HOUR_US, "rate")),
    // M4 dashboard downsampling (SeriesOps.sampleByM4): first/last/
    // min/max per window — the visual-envelope reduction (Jugel 2014)
    "ts_sample_m4" -> ((s, dir) =>
      SeriesOps.sampleByM4(evRanged(s, dir), HOUR_US)),
    // anchored-LTTB downsampling (SeriesOps.sampleByLttb): largest-
    // triangle point per window against neighbor-window mean anchors —
    // the perceptual downsampler next to M4's envelope; batch-only
    // (neighbor anchors need the completed grid, unlike M4's
    // window-local aggregate, so there is no streaming twin)
    "ts_sample_lttb" -> ((s, dir) =>
      SeriesOps.sampleByLttb(evRanged(s, dir), HOUR_US)),
    "ts_where" -> ((s, dir) => {
      // lower bound pushed on raw ts (micros > T0 ⟺ raw ≥ T0+1 in the
      // column's own unit — Tables.tsRawAtLeast types the literal)
      val ev = Tables.load(s, dir, "events")
      SeriesOps.scan(SeriesOps.whereChain(
        ev.filter(Tables.tsRawAtLeast(ev, T0 + 1))
          .select(Tables.tsMicros(ev).as("timestamp"), col("value")),
        Seq(col("value") > 50.0, col("value") <= 150.0,
          col("timestamp") > T0)))
    }),
    "ts_limit" -> ((s, dir) => SeriesOps.limitOrdered(ev(s, dir), 100)),
    // fixture-schema canary (r6 postmortem): min/max/count of the
    // events series in micros, vs the oracle reading the raw file. A
    // regenerated fixture whose ts encoding Tables mishandles fails
    // THIS named key (wrong min/max or a thrown analysis error) instead
    // of 47 anonymous downstream keys. FixtureCanarySpec additionally
    // asserts the span is DAYS, not minutes — the loud unit-sanity
    // check that catches a silent 1000× compression with no oracle.
    "events_ts_canary" -> ((s, dir) =>
      ev(s, dir).agg(
        min("timestamp").as("min_ts"), max("timestamp").as("max_ts"),
        count(lit(1)).as("n"))
        .withColumn("span_days",
          expr("(max_ts - min_ts) div 86400000000"))),
  )

  val oracleSql: Map[String, String] = Map(
    "ts_scan_full" ->
      (EV + "SELECT timestamp, value FROM ev ORDER BY timestamp"),
    "ts_range" ->
      (EV + s"SELECT timestamp, value FROM ev WHERE timestamp BETWEEN $T0 AND $T1 ORDER BY timestamp"),
    "ts_range_min" ->
      (EV + s"SELECT timestamp, value FROM ev WHERE timestamp BETWEEN $T0 AND $T1 ORDER BY value ASC, timestamp ASC LIMIT 1"),
    "ts_range_max" ->
      (EV + s"SELECT timestamp, value FROM ev WHERE timestamp BETWEEN $T0 AND $T1 ORDER BY value DESC, timestamp ASC LIMIT 1"),
    "ts_range_avg" ->
      (EV + s"SELECT round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(*), 4) AS avg_value, count(*) AS n FROM ev WHERE timestamp BETWEEN $T0 AND $T1"),
    "ts_latest" ->
      (EV + s"SELECT timestamp, value FROM ev WHERE timestamp BETWEEN $T0 AND $T1 ORDER BY timestamp DESC LIMIT 1"),
    "ts_earliest" ->
      (EV + "SELECT timestamp, value FROM ev ORDER BY timestamp ASC LIMIT 20"),
    "ts_first" ->
      (EV + "SELECT timestamp, value FROM ev ORDER BY timestamp ASC LIMIT 1"),
    "ts_point_lookup" ->
      (EV + "SELECT e.timestamp, e.value FROM ev e JOIN (SELECT timestamp FROM ev WHERE event_id = 123) p USING (timestamp)"),
    "ts_sample_by" ->
      (EV + s"SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts, round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(*), 4) AS avg_value, count(*) AS n_points FROM ev WHERE timestamp BETWEEN $T0 AND $T1 GROUP BY 1"),
    "ts_sample_by_pruned" ->
      (EV + s"""SELECT * FROM (
         |  SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts,
         |    round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(*), 4) AS avg_value,
         |    count(*) AS n_points
         |  FROM ev GROUP BY 1)
         |WHERE sample_ts BETWEEN $T0 AND $T1""".stripMargin),
    "ts_sliding_window" ->
      (EV + slidingOracleSql(s"WHERE timestamp BETWEEN $T0 AND $T1\n")),
    // named-struct min/max mirrors the engine's (timestamp, value)
    // struct comparison — the same deterministic tie policy
    "ts_sample_delta" ->
      (EV + s"""SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts,
         |  max({'t': timestamp, 'v': value}).v - min({'t': timestamp, 'v': value}).v AS delta_value,
         |  count(*) AS n_points
         |FROM ev WHERE timestamp BETWEEN $T0 AND $T1 GROUP BY 1""".stripMargin),
    "ts_sample_rate" ->
      (EV + s"""SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts,
         |  (max({'t': timestamp, 'v': value}).v - min({'t': timestamp, 'v': value}).v)
         |    * 1000000.0 / CAST(nullif(max(timestamp) - min(timestamp), 0) AS DOUBLE) AS rate_value,
         |  count(*) AS n_points
         |FROM ev WHERE timestamp BETWEEN $T0 AND $T1 GROUP BY 1""".stripMargin),
    "ts_sample_m4" ->
      (EV + s"""SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts,
         |  min({'t': timestamp, 'v': value}).v AS first_value,
         |  max({'t': timestamp, 'v': value}).v AS last_value,
         |  min(value) AS min_value, max(value) AS max_value,
         |  count(*) AS n_points
         |FROM ev WHERE timestamp BETWEEN $T0 AND $T1 GROUP BY 1""".stripMargin),
    // replays sampleByLttb: order-free anchor means (BIGINT offsets +
    // decimal value sums), fixed-shape double areas, struct-max ties
    "ts_sample_lttb" ->
      (EV + s""", p AS (SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts,
         |    timestamp, value FROM ev WHERE timestamp BETWEEN $T0 AND $T1),
         |st AS (SELECT sample_ts,
         |    (sample_ts - $HOUR_US) + sum(timestamp % $HOUR_US) // count(*) AS t_mean,
         |    CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) AS v_mean
         |  FROM p GROUP BY 1),
         |g AS (SELECT sample_ts,
         |    lag(t_mean) OVER (ORDER BY sample_ts) AS prev_t,
         |    lag(v_mean) OVER (ORDER BY sample_ts) AS prev_v,
         |    lead(t_mean) OVER (ORDER BY sample_ts) AS next_t,
         |    lead(v_mean) OVER (ORDER BY sample_ts) AS next_v
         |  FROM st),
         |j AS (SELECT p.sample_ts, p.timestamp, p.value,
         |    CASE WHEN g.prev_t IS NULL THEN -CAST(p.timestamp AS DOUBLE)
         |         WHEN g.next_t IS NULL THEN CAST(p.timestamp AS DOUBLE)
         |         ELSE abs(CAST(g.prev_t - g.next_t AS DOUBLE) * (p.value - g.prev_v)
         |                - CAST(g.prev_t - p.timestamp AS DOUBLE) * (g.next_v - g.prev_v))
         |    END AS k
         |  FROM p JOIN g USING (sample_ts))
         |SELECT sample_ts,
         |  -(max({'k': k, 'nt': -timestamp, 'v': value}).nt) AS sel_ts,
         |  max({'k': k, 'nt': -timestamp, 'v': value}).v AS sel_value,
         |  count(*) AS n_points
         |FROM j GROUP BY 1""".stripMargin),
    "ts_where" ->
      (EV + s"SELECT timestamp, value FROM ev WHERE value > 50.0 AND value <= 150.0 AND timestamp > $T0 ORDER BY timestamp"),
    "ts_limit" ->
      (EV + "SELECT timestamp, value FROM ev ORDER BY timestamp ASC LIMIT 100"),
    "events_ts_canary" ->
      (EV + "SELECT min(timestamp) AS min_ts, max(timestamp) AS max_ts, " +
        "count(*) AS n, (max(timestamp) - min(timestamp)) // 86400000000 AS span_days FROM ev"),
    "ts_sample_fill_prev" ->
      (EV + s""", e AS (SELECT timestamp, value FROM ev WHERE event_type = 'error'),
        |agg AS (SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts,
        |    round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(*), 4) AS avg_value,
        |    count(*) AS n_points
        |  FROM e GROUP BY 1),
        |b AS (SELECT min(sample_ts) AS lo, max(sample_ts) AS hi FROM agg),
        |axis AS (SELECT unnest(range(lo, hi + 1, $HOUR_US)) AS sample_ts FROM b),
        |j AS (SELECT a.sample_ts, g.avg_value, coalesce(g.n_points, 0) AS n_points
        |  FROM axis a LEFT JOIN agg g USING (sample_ts))
        |SELECT sample_ts,
        |  last_value(avg_value IGNORE NULLS)
        |    OVER (ORDER BY sample_ts ROWS UNBOUNDED PRECEDING) AS fill_value,
        |  n_points FROM j""".stripMargin),
    "ts_sample_fill_linear" ->
      (EV + s""", e AS (SELECT timestamp, value FROM ev WHERE event_type = 'error'),
        |agg AS (SELECT (timestamp - timestamp % $HOUR_US) + $HOUR_US AS sample_ts,
        |    round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(*), 4) AS avg_value,
        |    count(*) AS n_points
        |  FROM e GROUP BY 1),
        |b AS (SELECT min(sample_ts) AS lo, max(sample_ts) AS hi FROM agg),
        |axis AS (SELECT unnest(range(lo, hi + 1, $HOUR_US)) AS sample_ts FROM b),
        |j AS (SELECT a.sample_ts, g.avg_value, coalesce(g.n_points, 0) AS n_points
        |  FROM axis a LEFT JOIN agg g USING (sample_ts)),
        |c AS (SELECT sample_ts, avg_value, n_points,
        |    last_value(CASE WHEN avg_value IS NOT NULL
        |        THEN {'t': sample_ts, 'v': avg_value} END IGNORE NULLS)
        |      OVER (ORDER BY sample_ts ROWS UNBOUNDED PRECEDING) AS pb,
        |    first_value(CASE WHEN avg_value IS NOT NULL
        |        THEN {'t': sample_ts, 'v': avg_value} END IGNORE NULLS)
        |      OVER (ORDER BY sample_ts
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nf
        |  FROM j)
        |SELECT sample_ts,
        |  CASE WHEN avg_value IS NOT NULL THEN avg_value
        |       WHEN pb IS NULL THEN struct_extract(nf, 'v')
        |       WHEN nf IS NULL THEN struct_extract(pb, 'v')
        |       ELSE struct_extract(pb, 'v') +
        |         (struct_extract(nf, 'v') - struct_extract(pb, 'v')) *
        |         (CAST(sample_ts - struct_extract(pb, 't') AS DOUBLE) /
        |          CAST(struct_extract(nf, 't') - struct_extract(pb, 't') AS DOUBLE))
        |  END AS fill_value,
        |  n_points FROM c""".stripMargin),
  )
}
