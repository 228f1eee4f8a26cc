package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core time-series operators over a DataFrame with columns
  * `timestamp: Long` (epoch time units — nanos in the engine, micros in
  * oracle-facing queries) and `value: Double`.
  *
  * Semantics mirror the reference engine ops (reference
  * src/timeseries.c): BETWEEN is closed on both ends
  * (src/partition.c:203-212, src/timeseries.c:811-815); min/max return
  * the full record, i.e. argmin/argmax (src/timeseries.c:1217-1263);
  * results are timestamp-ordered regardless of insert order
  * (src/timeseries.c:357-395).
  *
  * Scale notes: every op here is a single distributed scan with partial
  * aggregation or a TakeOrderedAndProject — no wide shuffle except the
  * grouped sample-by, which shuffles on the (low-cardinality) bucket key
  * with map-side partial aggregation. Range filters are simple
  * comparisons on a Long column, so they push down to the parquet scan
  * (row-group min/max pruning).
  */
object SeriesOps {

  /** Closed-interval range scan [t0, t1] (reference src/timeseries.c:905-979). */
  def range(df: DataFrame, t0: Long, t1: Long): DataFrame =
    df.filter(col("timestamp") >= t0 && col("timestamp") <= t1)

  /** Full scan in timestamp order (reference ts_stream, src/timeseries.c:1031-1137). */
  def scan(df: DataFrame): DataFrame =
    df.select(col("timestamp"), col("value")).orderBy("timestamp")

  /** [[scan]] sorted inside one partition: one task and one job, with
    * no range-partitioned exchange (whose sampling and shuffle are two
    * more jobs). For input one task can hold, such as a read inside
    * one catalog bucket; the result drains as a single partition. The
    * wire executor uses it only for a bucket past the driver-row bound
    * (`StatementExecutor.OneShotMaxRows`); smaller reads never reach
    * Spark (`TsCatalog.localPoints`). */
  def scanOnePartition(df: DataFrame): DataFrame =
    df.select(col("timestamp"), col("value")).coalesce(1)
      .sortWithinPartitions("timestamp")

  /** Argmin record: the (timestamp, value) of the minimum value; ties
    * broken by earliest timestamp (reference ts_min returns the record,
    * src/timeseries.c:1217-1239). Single-pass partial aggregation on a
    * struct — no sort, no wide shuffle.
    */
  def minRecord(df: DataFrame): DataFrame =
    df.agg(min(struct(col("value"), col("timestamp"))).as("r"))
      .select(col("r.timestamp").as("timestamp"), col("r.value").as("value"))

  /** Argmax record (reference ts_max, src/timeseries.c:1241-1263).
    * Ties: max value with the earliest timestamp, so the struct carries
    * a negated timestamp for the comparison.
    */
  def maxRecord(df: DataFrame): DataFrame =
    df.agg(max(struct(col("value"), (-col("timestamp")).as("nts"))).as("r"))
      .select((-col("r.nts")).as("timestamp"), col("r.value").as("value"))

  /** Order-independent mean: double FP summation order varies with
    * partitioning (and across engines), which flips round-half
    * boundaries; summing exactly at decimal scale 6 then doing ONE
    * double division makes the result bit-identical regardless of plan
    * or engine — required for differential testing against the DuckDB
    * oracle, and a determinism win at any scale. The sum runs on the
    * fixed-width `sum_micro` aggregate, bit-identical to
    * `sum(CAST(x AS DECIMAL(30,6)))::double` (SumMicro's contract)
    * without the per-row BigDecimal pathway — every session has it
    * ([[graft.functions.GraftExtensions]]). Still a single-pass partial
    * aggregation.
    */
  private[graft] def exactAvg(c: Column, n: Column): Column =
    round(call_function("sum_micro", c.cast("double")) / n, 4)

  /** Scalar mean (declared in the reference grammar, exec stubbed —
    * reference src/statement_execute.c:236-238; implemented for real here).
    */
  def avgValue(df: DataFrame): DataFrame =
    df.agg(exactAvg(col("value"), count(lit(1))).as("avg_value"),
           count(lit(1)).as("n"))

  /** Most-recent record (reference ts_last, src/timeseries.c:1180-1215).
    * TakeOrderedAndProject — per-partition top-1, no global sort.
    */
  def latest(df: DataFrame): DataFrame =
    df.select(col("timestamp"), col("value"))
      .orderBy(col("timestamp").desc).limit(1)

  /** Oldest n records (earliest(value, n) — declared-only in the
    * reference grammar doc, src/statement_parse.h:103).
    */
  def earliest(df: DataFrame, n: Int): DataFrame =
    df.select(col("timestamp"), col("value"))
      .orderBy(col("timestamp").asc).limit(n)

  /** Oldest record (reference ts_first, src/timeseries.c:1139-1178). */
  def first(df: DataFrame): DataFrame = earliest(df, 1)

  /** SAMPLE BY: tumbling-window average (reference ts_avg_sample,
    * src/timeseries.c:1265-1308). Buckets are arithmetic on the Long
    * timestamp (exact, no TimestampType truncation); each window is
    * labeled with its END timestamp, a multiple of the interval
    * (reference :1285-1298); empty windows are skipped (a groupBy never
    * emits them). Map-side partial avg then a shuffle on the bucket key.
    */
  def sampleBy(df: DataFrame, intervalUnits: Long): DataFrame =
    df.groupBy(sampleWindow(intervalUnits))
      .agg(exactAvg(col("value"), count(lit(1))).as("avg_value"),
           count(lit(1)).as("n_points"))

  private def sampleWindow(intervalUnits: Long): Column =
    ((col("timestamp") - pmod(col("timestamp"), lit(intervalUnits)))
      + lit(intervalUnits)).as("sample_ts")

  /** [[sampleBy]] with gap FILL (extension surface — the QuestDB-class
    * SAMPLE BY companion the reference's grammar stops short of):
    * the complete bucket axis from the first to the last observed
    * window is materialized and empty buckets fill per `fill`:
    *  - "prev": carry the last observed aggregate forward (steps);
    *  - "linear": interpolate between the neighboring observed
    *    aggregates (both engines compute the identical IEEE chain
    *    `pv + (nv − pv) · ((t − pt) / (nt − pt))` over the already
    *    round(4)-stable aggregates, so results hash-gate); leading/
    *    trailing gaps take the nearest single neighbor;
    *  - "null": emit the gap bucket with a NULL value (n_points 0).
    *
    * Scale shape: everything after [[sampleBy]]'s one shuffle runs on
    * the BUCKET AXIS, whose cardinality is time-span / interval —
    * data-INDEPENDENT (a month of hourly buckets is 720 rows whether
    * the corpus is 1 GB or 100 TB). The global-order windows and the
    * 1-row bounds aggregate live on that axis, so the single-partition
    * window is bounded model-sized state, not a data funnel. */
  def sampleByFill(df: DataFrame, intervalUnits: Long,
      fill: String): DataFrame = {
    val agg = sampleBy(df, intervalUnits)
    val bounds = agg.agg(min("sample_ts").as("lo"), max("sample_ts").as("hi"))
    val axis = bounds.select(
      explode(sequence(col("lo"), col("hi"), lit(intervalUnits)))
        .as("sample_ts"))
    val j = axis.join(agg, Seq("sample_ts"), "left")
      .withColumn("n_points", coalesce(col("n_points"), lit(0L)))
    val wAll = Window.orderBy(col("sample_ts"))
    val wb = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = wAll.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    fill match {
      case "prev" =>
        j.withColumn("fill_value",
            last(col("avg_value"), ignoreNulls = true).over(wb))
          .select("sample_ts", "fill_value", "n_points")
      case "linear" =>
        val obs = when(col("avg_value").isNotNull,
          struct(col("sample_ts").as("t"), col("avg_value").as("v")))
        j.withColumn("pb", last(obs, ignoreNulls = true).over(wb))
          .withColumn("nf", // SeriesOps.first(df) shadows functions.first
            org.apache.spark.sql.functions.first(obs, ignoreNulls = true)
              .over(wf))
          .withColumn("fill_value",
            when(col("avg_value").isNotNull, col("avg_value"))
              .when(col("pb").isNull, col("nf")("v"))
              .when(col("nf").isNull, col("pb")("v"))
              .otherwise(col("pb")("v") +
                (col("nf")("v") - col("pb")("v")) *
                  ((col("sample_ts") - col("pb")("t")).cast("double") /
                    (col("nf")("t") - col("pb")("t")).cast("double"))))
          .select("sample_ts", "fill_value", "n_points")
      case "null" =>
        j.select(col("sample_ts"), col("avg_value").as("fill_value"),
          col("n_points"))
      case other => throw new IllegalArgumentException(
        s"unknown fill policy '$other' (prev | linear | null)")
    }
  }

  /** Sliding-window aggregation (extension surface): windows of `width`
    * units sliding every `slide` units (width = k*slide), labeled by
    * their END timestamp (a multiple of slide, consistent with
    * [[sampleBy]]'s end-labeling). Each point lands in exactly k
    * windows — implemented as an explode of the k window labels
    * computed arithmetically on the Long timestamp (exact, no
    * TimestampType truncation), then one shuffle on the label with
    * map-side partial aggregation. At scale the fan-out factor is k,
    * a constant chosen by the caller — not a data-dependent blow-up.
    *
    * Emits the EXACT decimal sum + count rather than a rounded mean:
    * window sums here are exact in DECIMAL(30,6) and convert to double
    * bit-identically in every engine, whereas a rounded mean sits one
    * ulp from a round-half boundary often enough to flip between
    * engines (observed on this very query at sf0.01 — the determinism
    * rules' float-round hazard). The caller divides when it wants a
    * mean.
    */
  def slidingBy(df: DataFrame, widthUnits: Long, slideUnits: Long): DataFrame = {
    require(widthUnits > 0 && slideUnits > 0 && widthUnits % slideUnits == 0,
      s"width must be a positive multiple of slide: $widthUnits / $slideUnits")
    val k = widthUnits / slideUnits
    // base bucket by slide; point t belongs to windows ending at
    // (bucket + 1 + j) * slide for j in 0..k-1 — each covers
    // [e-width, e): a boundary-aligned point t is INCLUDED in the
    // window starting at t (j = k-1 gives e = t + width) and EXCLUDED
    // from the window ending at t (smallest label is t + slide)
    df.withColumn("j", explode(sequence(lit(0L), lit(k - 1))))
      .withColumn("sample_ts",
        col("j") * lit(slideUnits)
          + (col("timestamp") - pmod(col("timestamp"), lit(slideUnits)))
          + lit(slideUnits))
      .groupBy("sample_ts")
      // fixed-width exact sum, bit-identical to the DECIMAL(30,6)
      // formulation the oracle runs (SumMicro's contract)
      .agg(call_function("sum_micro", col("value")).as("sum_value"),
           count(lit(1)).as("n_points"))
  }

  /** Downsampling with a selector other than the reference's implied
    * avg (extension surface): per tumbling window, `min`/`max` of the
    * value, the `latest` record's value (max_by timestamp), the
    * `delta` between the window's last and first records, or the
    * per-second `rate` (delta over elapsed time — the counter-rate
    * primitive of monitoring queries). Same window labeling as
    * [[sampleBy]]; one shuffle on the bucket key with map-side partial
    * aggregation.
    *
    * delta/rate pick first/last records via struct min/max over
    * (timestamp, value) — at duplicate timestamps the tie goes to the
    * smaller/larger value DETERMINISTICALLY, which a bare
    * min_by/max_by(value, timestamp) cannot promise in any engine
    * (the oracle mirrors the same named-struct comparison). `rate` is
    * delta per 10⁶ timestamp units — per second on the micros-view
    * series — and NULL for single-point windows (nullif guards the
    * zero span; ANSI would otherwise throw).
    */
  def sampleByFn(df: DataFrame, intervalUnits: Long, fn: String): DataFrame = {
    val w = df.groupBy(sampleWindow(intervalUnits))
    def firstRec = min(struct(col("timestamp"), col("value")))
    def lastRec = max(struct(col("timestamp"), col("value")))
    fn match {
      case "min" => w.agg(min(col("value")).as("min_value"),
        count(lit(1)).as("n_points"))
      case "max" => w.agg(max(col("value")).as("max_value"),
        count(lit(1)).as("n_points"))
      case "latest" => w.agg(max_by(col("value"), col("timestamp")).as("last_value"),
        count(lit(1)).as("n_points"))
      case "delta" => w.agg(
        (lastRec.getField("value") - firstRec.getField("value")).as("delta_value"),
        count(lit(1)).as("n_points"))
      case "rate" => w.agg(
          (lastRec.getField("value") - firstRec.getField("value")).as("_d"),
          (max(col("timestamp")) - min(col("timestamp"))).as("_span"),
          count(lit(1)).as("n_points"))
        .select(col("sample_ts"),
          (col("_d") * lit(1000000.0) /
            nullif(col("_span"), lit(0L)).cast("double")).as("rate_value"),
          col("n_points"))
      case other => throw new IllegalArgumentException(s"sampleByFn: $other")
    }
  }

  /** M4 downsampling (Jugel et al., PVLDB 2014): per tumbling window
    * the FIRST, LAST, MIN and MAX values — the four points that
    * preserve a line chart's visual envelope at any zoom, THE
    * dashboard-rendering reduction every TSDB front-end applies before
    * shipping points to a browser. Same window labeling as
    * [[sampleBy]]; ONE shuffle with map-side partials (each aggregate
    * is a plain min/max — struct min/max for the endpoint records,
    * the [[sampleByFn]] delta tie policy, so duplicate timestamps
    * resolve deterministically in both engines).
    * Output: (sample_ts, first_value, last_value, min_value,
    * max_value, n_points). */
  def sampleByM4(df: DataFrame, intervalUnits: Long): DataFrame =
    df.groupBy(sampleWindow(intervalUnits))
      .agg(
        min(struct(col("timestamp"), col("value"))).getField("value")
          .as("first_value"),
        max(struct(col("timestamp"), col("value"))).getField("value")
          .as("last_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        count(lit(1)).as("n_points"))

  /** LTTB-class dashboard downsampling (Steinarsson 2013), ANCHORED
    * variant: per tumbling window keep the point forming the largest
    * triangle against the PREVIOUS and NEXT windows' mean points —
    * the point that deviates most from the local trend, i.e. the one
    * a line chart cannot afford to drop. Classic LTTB anchors each
    * window on the previously SELECTED point, a sequential chain no
    * parallel engine can partition; anchoring on the neighbor-window
    * means keeps the perceptual intent while every window selects
    * independently and deterministically (divergence documented —
    * this is the parallel-exact sibling, not bit-LTTB). Boundary
    * windows keep their first/last point, matching LTTB's pinned
    * endpoints.
    *
    * Numeric discipline for the cross-engine hash gate: anchor means
    * come from accumulation-order-free sums (BIGINT in-window time
    * offsets, so no epoch-scale overflow; the fixed-point sum_micro
    * value sum), and the triangle areas are then FIXED-SHAPE double
    * arithmetic on exact inputs — bit-identical in any IEEE engine.
    * Ties break by earliest timestamp then largest value via one
    * lexicographic struct-max.
    *
    * Scale shape: window stats are one partial-aggregable shuffle;
    * the anchor grid (a row per window, bounded by span/interval) has
    * the only unpartitioned window — grid-sized, never data-sized
    * (the histogram_quantile discipline). When the dense window axis
    * fits [[LttbGridCap]], the grid binds back into the point scan as
    * LITERAL anchor arrays indexed by window ordinal (the
    * dedup_blocklist collect-model-state-as-plan-constant pattern:
    * grid size is span/interval — MODEL shape, not data — and the
    * per-row anchor fetch becomes four element_at lookups instead of a
    * broadcast-hash-join probe + 4-column row attach); beyond the cap
    * it falls back to the broadcast join. Either way the argmax is a
    * second map-side-combinable aggregate — the native flat-buffer
    * `lttb_pick` (no per-row struct allocation; see
    * [[graft.functions.LttbPick]]), which also folds in the window
    * count. No global point sort anywhere; no data-sized exchange.
    * Output: (sample_ts, sel_ts, sel_value, n_points). */
  def sampleByLttb(df: DataFrame, intervalUnits: Long): DataFrame = {
    val stats = df.groupBy(sampleWindow(intervalUnits)).agg(
      sum(pmod(col("timestamp"), lit(intervalUnits))).as("toff_sum"),
      call_function("sum_micro", col("value").cast("double")).as("v_sum"),
      count(lit(1)).as("n"))
    val grid0 = stats.select(col("sample_ts"),
      (col("sample_ts") - lit(intervalUnits) + expr("toff_sum div n"))
        .as("t_mean"),
      (col("v_sum") / col("n").cast("double")).as("v_mean"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("sample_ts"))
    val grid = grid0.select(col("sample_ts"),
      lag("t_mean", 1).over(w).as("prev_t"),
      lag("v_mean", 1).over(w).as("prev_v"),
      lead("t_mean", 1).over(w).as("next_t"),
      lead("v_mean", 1).over(w).as("next_v"))
    val pts = df.select(sampleWindow(intervalUnits), col("timestamp"),
      col("value"))

    // model-sized grid → literal-array binding (grid rows ≤ cap AND the
    // dense ordinal axis ≤ cap; both are span/interval-bounded)
    val gridRows = grid.limit(LttbGridCap + 1).collect()
    val dense: Option[(Long, Int)] =
      if (gridRows.isEmpty || gridRows.length > LttbGridCap) None
      else {
        val keys = gridRows.map(_.getLong(0))
        val (mn, mx) = (keys.min, keys.max)
        val span = (mx - mn) / intervalUnits
        if (span >= LttbGridCap) None else Some((mn, span.toInt + 1))
      }
    val augmented = dense match {
      case Some((minTs, size)) =>
        val prevT = Array.fill(size)(Option.empty[Long])
        val prevV = Array.fill(size)(Option.empty[Double])
        val nextT = Array.fill(size)(Option.empty[Long])
        val nextV = Array.fill(size)(Option.empty[Double])
        gridRows.foreach { r =>
          val i = ((r.getLong(0) - minTs) / intervalUnits).toInt
          if (!r.isNullAt(1)) { prevT(i) = Some(r.getLong(1)); prevV(i) = Some(r.getDouble(2)) }
          if (!r.isNullAt(3)) { nextT(i) = Some(r.getLong(3)); nextV(i) = Some(r.getDouble(4)) }
        }
        // ordinal is exact: labels are interval multiples, size ≤ cap,
        // so the double division below is integer-exact
        val idx = (((col("sample_ts") - lit(minTs)) / lit(intervalUnits))
          .cast("int") + lit(1)).as("_gi")
        pts.select(col("sample_ts"), col("timestamp"), col("value"), idx)
          .select(col("sample_ts"), col("timestamp"), col("value"),
            element_at(typedLit(prevT.toSeq), col("_gi")).as("prev_t"),
            element_at(typedLit(prevV.toSeq), col("_gi")).as("prev_v"),
            element_at(typedLit(nextT.toSeq), col("_gi")).as("next_t"),
            element_at(typedLit(nextV.toSeq), col("_gi")).as("next_v"))
      case None =>
        pts.join(broadcast(grid), "sample_ts")
    }
    val area2 = abs(
      (col("prev_t") - col("next_t")).cast("double")
        * (col("value") - col("prev_v"))
        - (col("prev_t") - col("timestamp")).cast("double")
          * (col("next_v") - col("prev_v")))
    val key = when(col("prev_t").isNull, -col("timestamp").cast("double"))
      .when(col("next_t").isNull, col("timestamp").cast("double"))
      .otherwise(area2)
    augmented.groupBy("sample_ts")
      .agg(call_function("lttb_pick", key, col("timestamp"), col("value"))
        .as("sel"))
      .select(col("sample_ts"), col("sel.sel_ts").as("sel_ts"),
        col("sel.sel_value").as("sel_value"),
        col("sel.n_points").as("n_points"))
  }

  /** Ceiling on the literal-anchor-array form of [[sampleByLttb]]: the
    * dense window axis (span/interval ordinals) above which the anchor
    * grid stops being plan-constant model state and the broadcast-join
    * form takes over. 64k ordinals ≈ 1.5 MB of literal arrays — the
    * typedLit passes by reference (no codegen blowup; the centroid
    * convention). */
  val LttbGridCap: Int = 1 << 16

  /** Whole-range delta: last value minus first value over the queried
    * range (PromQL-style increase()). Same struct tie policy as the
    * SAMPLE BY `delta` selector. Output (delta_value, n). */
  def deltaValue(df: DataFrame): DataFrame =
    df.agg(
      (max(struct(col("timestamp"), col("value"))).getField("value")
        - min(struct(col("timestamp"), col("value"))).getField("value"))
        .as("delta_value"),
      count(lit(1)).as("n"))

  /** Whole-range per-second rate (delta per 10⁶ timestamp units on the
    * micros view); NULL when the range holds fewer than two distinct
    * timestamps. Output (rate_value, n). */
  def rateValue(df: DataFrame): DataFrame =
    df.agg(
        (max(struct(col("timestamp"), col("value"))).getField("value")
          - min(struct(col("timestamp"), col("value"))).getField("value")).as("_d"),
        (max(col("timestamp")) - min(col("timestamp"))).as("_span"),
        count(lit(1)).as("n"))
      .select(
        (col("_d") * lit(1000000.0) /
          nullif(col("_span"), lit(0L)).cast("double")).as("rate_value"),
        col("n"))

  /** WHERE-clause conjunction over (timestamp, value) — the 6 comparators
    * of the reference grammar (src/statement_parse.h:150-158); execution
    * was stubbed in the reference (src/statement_execute.c:390-394).
    */
  def whereChain(df: DataFrame, preds: Seq[Column]): DataFrame =
    preds.foldLeft(df)((d, p) => d.filter(p))

  /** WHERE-clause disjunction of AND-groups (OR is tokenless in the
    * reference — statement_parse.h:161 — and implemented here as a
    * dialect extension; AND binds tighter). Each element of `orGroups`
    * is an already-reduced conjunction. A single filter keeps the whole
    * predicate pushdown-eligible.
    */
  def whereDnf(df: DataFrame, orGroups: Seq[Column]): DataFrame =
    if (orGroups.isEmpty) df else df.filter(orGroups.reduce(_ || _))

  /** Timestamp-ordered LIMIT n (parsed-but-unapplied in the reference,
    * src/statement_parse.c:1116-1128).
    */
  def limitOrdered(df: DataFrame, n: Int): DataFrame =
    df.select(col("timestamp"), col("value"))
      .orderBy(col("timestamp").asc).limit(n)
}
