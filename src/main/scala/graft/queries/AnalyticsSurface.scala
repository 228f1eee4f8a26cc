package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Relational analytics over the TPC-H-ish star schema — the extension
  * surface the reference's single-table language lacks entirely
  * (SURVEY.md §2.6: "joins: none", "window functions: none"), designed
  * Spark-first:
  *
  *  - dimension joins are explicit `broadcast()` (region/nation/
  *    supplier/customer are tiny next to lineitem at any SF — at 100 TB
  *    a 1000-executor cluster still broadcasts dims and shuffles only
  *    facts);
  *  - aggregates sum as exact DECIMAL (order-independent → oracle-
  *    stable) with map-side partial aggregation;
  *  - top-k uses rounded sort keys with explicit tie-breaks so results
  *    are total-ordered and engine-independent.
  */
object AnalyticsSurface {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact decimal(30,6)-semantics sum rounded to 4 dp —
    * order-independent, engine-stable, BIT-IDENTICAL to
    * `round(CAST(sum(CAST(c AS DECIMAL(30,6))) AS DOUBLE), 4)` but via
    * the fixed-width native aggregate (graft.functions.SumMicro):
    * Spark's >18-digit Decimal pays a BigDecimal wrap + variable-width
    * buffer per row, ~3x the whole aggregation cost of q1 at sf0.1. */
  private def sumDec(c: Column): Column =
    round(call_function("sum_micro", c.cast("double")), 4)

  private def avgDec(c: Column): Column =
    round(call_function("sum_micro", c.cast("double")) / count(lit(1)), 4)

  /** TPC-H Q1-style pricing summary (scan + single shuffle on a
    * 6-value grouping key; everything else is map-side). */
  private def q1Pricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumDec(col("l_quantity")).as("sum_qty"),
        sumDec(col("l_extendedprice")).as("sum_base_price"),
        sumDec(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).as("sum_charge"),
        avgDec(col("l_quantity")).as("avg_qty"),
        avgDec(col("l_extendedprice")).as("avg_price"),
        avgDec(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style: top-10 unshipped-order revenue. Customer filter is
    * broadcast into the orders⋈lineitem shuffle join. */
  private def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-style: revenue by nation for one region+year, the
    * all-dims-broadcast multi-join (only lineitem⋈orders shuffles). */
  private def q5RegionVolume(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(s, dir, "nation")
    val supplier = t(s, dir, "supplier")
    val customer = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = t(s, dir, "lineitem")
    li.join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  /** Top-3 events per user by value (ranking window function — absent
    * from the reference surface; shuffle on user_id only). */
  private def top3PerUser(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventSeries(s, dir)
    val w = Window.partitionBy("user_id")
      .orderBy(col("value").desc, col("timestamp").asc)
    ev.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("user_id", "timestamp", "value", "rn")
  }

  /** [[top3PerUser]] as a BOUNDED-BUFFER aggregate instead of a
    * ranking window: the native topk_records DeclarativeAggregate
    * combines map-side, so the exchange carries ≤ k·users·partitions
    * rows instead of every event (see graft.functions.TopKRecords).
    * Same output multiset as the window form — the gate reuses the
    * win_top3_per_user oracle verbatim, a true differential test of
    * the two formulations. */
  private def top3PerUserAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventSeries(s, dir)
    ev.groupBy("user_id")
      .agg(call_function("topk_records",
        col("value"), col("timestamp"), lit(3)).as("top"))
      .select(col("user_id"), posexplode(col("top")))
      .select(col("user_id"), col("col.t").as("timestamp"),
        (-col("col.nv")).as("value"), (col("pos") + 1).cast("long").as("rn"))
  }

  /** Sessionization: a session break is a >30 min gap between a user's
    * consecutive events (lag + running sum of breaks — two analytic
    * functions over one user_id shuffle). The foundation for
    * session-window analytics the reference cannot express. */
  private def sessionize(s: SparkSession, dir: String): DataFrame =
    sessionizeWindow(Tables.eventSeries(s, dir))

  private val DefaultGapUs = 30L * 60 * 1000000 // 30 min in micros

  /** The WINDOW form of sessionize over (user_id, timestamp) rows —
    * one user_id shuffle, a partition-wide sort, two analytic
    * functions. Preferred at small scale: no grouped arrays, no
    * second pass; the sort is the cost that loses to
    * [[sessionizeSegmented]] past ~1e8 rows (docs/SCALING.md
    * "Sessionize form selection"). */
  def sessionizeWindow(ev: DataFrame, gapUs: Long = DefaultGapUs): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("timestamp")
    ev.withColumn("prev_ts", lag("timestamp", 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_ts").isNull || col("timestamp") - col("prev_ts") > gapUs, 1)
          .otherwise(0))
      .groupBy("user_id")
      .agg(sum("is_break").as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** [[sessionize]] with BOUNDED per-group state — the scale path
    * where a whole-user grouped array cannot go (a collect_list of a
    * user's timestamps exceeded a 128 GiB heap at 200k events/key;
    * measured, BASELINE.md 300M-event rows). Two-level segmented fold:
    *
    *  1. sessionize within (user, 1-hour bucket): one hash aggregate
    *     whose per-group array is bounded by the bucket's event count
    *     (event-rate × bucket width, NOT the user's history), emitting
    *     (n, first_ts, last_ts, internal session count) per bucket;
    *  2. stitch per user over the BUCKET rows (bounded by the corpus
    *     time-span in hours): sessions = Σ internal − one per adjacent
    *     bucket pair whose boundary gap ≤ 30 min. The fold compares
    *     real first/last timestamps, so correctness holds for ANY
    *     bucket width — the width only tunes the state bound.
    *
    * No partition-wide window sort, no whole-user array; one full
    * shuffle on (user, bucket) then a bucket-row shuffle on user.
    * Same output as [[sessionize]]; the gate reuses its oracle
    * verbatim. */
  private def sessionizeSeg(s: SparkSession, dir: String): DataFrame =
    sessionizeSegmented(Tables.eventSeries(s, dir))

  /** The segmented form as a reusable operator over (user_id,
    * timestamp) rows; see the shape doc above. `bucketUs` only tunes
    * the per-group state bound, never the result. */
  def sessionizeSegmented(ev: DataFrame, gapUs: Long = DefaultGapUs,
      bucketUs: Long = 3600000000L): DataFrame = {
    val pb = ev
      .select(col("user_id"), expr(s"timestamp div ${bucketUs}L").as("bkt"),
        col("timestamp").as("ts"))
      .groupBy("user_id", "bkt")
      .agg(sort_array(collect_list(col("ts"))).as("ts_arr"))
      .select(col("user_id"),
        size(col("ts_arr")).cast("long").as("n"),
        element_at(col("ts_arr"), 1).as("first_ts"),
        element_at(col("ts_arr"), -1).as("last_ts"),
        expr(s"""aggregate(ts_arr,
          named_struct('fst', true, 'prev', CAST(0 AS BIGINT), 'brk', CAST(0 AS BIGINT)),
          (acc, t) -> named_struct('fst', false, 'prev', t,
            'brk', acc.brk + IF(acc.fst OR t - acc.prev > ${gapUs}L, 1, 0)),
          acc -> acc.brk)""").as("brk"))
    pb.groupBy("user_id")
      .agg(sort_array(collect_list(struct(
        col("first_ts"), col("last_ts"), col("brk"), col("n")))).as("bs"))
      .select(col("user_id"),
        expr(s"""aggregate(bs,
          named_struct('fst', true, 'pl', CAST(0 AS BIGINT), 'sess', CAST(0 AS BIGINT)),
          (acc, b) -> named_struct('fst', false, 'pl', b.last_ts,
            'sess', acc.sess + b.brk -
              IF(NOT acc.fst AND b.first_ts - acc.pl <= ${gapUs}L, 1, 0)),
          acc -> acc.sess)""").as("n_sessions"),
        expr("aggregate(bs, CAST(0 AS BIGINT), (a, b) -> a + b.n)").as("n_events"))
  }

  /** Per-event-type hourly rollup with distinct users —
    * count-distinct over a composite time+category key. */
  private def hourlyRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventSeries(s, dir)
    val hourUs = 3600000000L
    // TWO-PHASE distinct: pre-aggregate on (hour, type, user) so the
    // distinct-user count is a plain count(*) of the fine relation.
    // A countDistinct alongside other aggregates makes Catalyst plan
    // an Expand (every input row duplicated per aggregate group) plus
    // an extra exchange — measured 2.10 s vs 1.93 s at 1M events
    // locally (the win is modest here because fine-group density is
    // ~0.2 rows/group, so map-side combine can't shrink the shuffle;
    // at cluster scale the two-phase shape additionally spreads a hot
    // hour across its user dimension instead of one reducer).
    // Exactness is preserved: per-user micro-sums are exact 1e-6
    // multiples (sum_micro), and re-summing them is associative.
    ev.groupBy(
        (col("timestamp") - pmod(col("timestamp"), lit(hourUs))).as("hour_ts"),
        col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_u"),
        call_function("sum_micro", col("value").cast("double")).as("s_u"))
      .groupBy("hour_ts", "event_type")
      .agg(sum("n_u").cast("long").as("n"),
        count(lit(1)).as("n_users"),
        round(call_function("sum_micro", col("s_u")), 4).as("sum_value"))
      .filter(col("n") >= 2)
  }

  /** [[hourlyRollup]] with a DECLARED category dictionary
    * (the closed value set a production catalog records for an enum
    * column): delegates to
    * the [[graft.ops.DictRollup]] kernel — packed integer (hour,
    * code) key, one imperative pass, per-slot user bitmaps, a
    * state-scale merge. See that object's scaladoc for why BOTH
    * Catalyst formulations (two-phase fine aggregate, one-pass
    * bitmap-NDV ObjectHashAggregate) measured 3-4x slower at scale.
    * Out-of-dictionary categories surface as a NULL-category
    * quarantine row; same oracle as the generic form. */
  def hourlyRollupWithDict(ev: DataFrame, dict: Seq[String]): DataFrame =
    graft.ops.DictRollup.hourlyRollup(ev, dict)

  /** Exact running balance per user: sum_micro as a RUNNING-frame
    * window aggregate (unbounded preceding → current row evaluates
    * incrementally — no per-row re-scan of the frame). Prefix sums are
    * order-sensitive, so the window orders by the TOTAL key
    * (timestamp, value): duplicate keys make identical rows, whose
    * prefix assignment cannot change the output multiset. Exact
    * decimal accumulation → bit-identical to the oracle's DECIMAL
    * window sum at every prefix. Shuffles once on user_id. */
  private def cumsumPerUser(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventSeries(s, dir)
    val w = Window.partitionBy("user_id")
      .orderBy(col("timestamp").asc, col("value").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), col("timestamp"), col("value"),
      round(call_function("sum_micro", col("value")).over(w), 4).as("cum_value"))
  }

  /** ROLLUP/CUBE over (event_type, cohort) WITHOUT the Expand Catalyst
    * plans for grouping sets (every input row duplicated per set): the
    * aggregates are mergeable — count plus exact micro-unit long sums
    * (the Incremental partials discipline: micros6 div/% 1e6 so both
    * running sums are codegen'd int64, ANSI-loud on overflow) — so ONE
    * pass builds the 60-row finest (type, cohort) state and every
    * coarser level is a state-sized regroup. The final value re-widens
    * through the identical bounded-precision decimal recombination the
    * incremental rollup gates, so results are bit-identical to the
    * decimal formulation and the GROUPING SETS oracle. gid matches
    * grouping_id(): fine 0, cohort-rolled 1, type-rolled 2 (cube
    * only), both 3. Data NULLs stay distinguishable from rolled-up
    * NULLs exactly as with grouping_id: fine-level rows carry the
    * actual (possibly null) key values with gid 0. */
  private def groupingSetsFromFineState(s: SparkSession, dir: String,
      withCohortLevel: Boolean): DataFrame = {
    // NOT persisted, deliberately: unlike the agg_incremental_rollup
    // case (whose grouped state is referenced through FILTERED
    // branches that defeat canonicalization), the levels below
    // reference this state's exchange identically, and AQE's exchange
    // reuse serves all of them from ONE corpus pass — verified by
    // actual scan metrics (tools/RollupPlanCheck: corpus rows read
    // once), and an explicit persist measured SLOWER (2.11 vs 1.97 s
    // at 100M events — cache materialization cost for zero saved work)
    val fine = t(s, dir, "events")
      .withColumn("cohort", pmod(col("user_id"), lit(10L)))
      .groupBy("event_type", "cohort")
      .agg(count(lit(1)).as("n"),
        expr("sum(micros6(CAST(value AS DOUBLE)) div 1000000)").as("h6"),
        expr("sum(micros6(CAST(value AS DOUBLE)) % 1000000)").as("l6"))
    def finalize(st: DataFrame, gid: Int): DataFrame = {
      val sv = (col("h6").cast("decimal(20,0)") *
        lit(new java.math.BigDecimal(1000000)).cast("decimal(7,0)") +
        col("l6").cast("decimal(20,0)")) *
        lit(new java.math.BigDecimal("0.000001"))
      st.select(col("event_type"), col("cohort"),
        col("n").cast("long").as("n"),
        round(sv.cast("double"), 4).as("sum_value"),
        lit(gid.toLong).as("gid"))
    }
    def regroup(keys: Seq[String]): DataFrame = {
      val g = if (keys.isEmpty) fine.groupBy() else fine.groupBy(keys.map(col): _*)
      // coalesce: on EMPTY input the ()-set row must carry count 0
      // (sum-of-nothing is null, count(*) is 0 — SQL grouping sets
      // emit the global row even over an empty table)
      val agg = g.agg(coalesce(sum("n"), lit(0L)).as("n"),
        sum("h6").as("h6"), sum("l6").as("l6"))
      val withType = if (keys.contains("event_type")) agg
        else agg.withColumn("event_type", lit(null).cast("string"))
      if (keys.contains("cohort")) withType
      else withType.withColumn("cohort", lit(null).cast("long"))
    }
    val levels =
      finalize(fine, 0) +:
        (finalize(regroup(Seq("event_type")), 1) +:
          ((if (withCohortLevel) Seq(finalize(regroup(Seq("cohort")), 2)) else Nil) :+
            finalize(regroup(Nil), 3)))
    levels.reduce(_ unionByName _)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_cumsum_user" -> cumsumPerUser,
    "q1_pricing" -> q1Pricing,
    "q3_top_revenue" -> q3TopRevenue,
    "q5_region_volume" -> q5RegionVolume,
    "win_top3_per_user" -> top3PerUser,
    "win_top3_agg" -> top3PerUserAgg,
    "win_sessionize" -> sessionize,
    "win_sessionize_seg" -> sessionizeSeg,
    "agg_hourly_rollup" -> hourlyRollup,
    // the DICTIONARY-declared twin (same oracle): the caller declares
    // the category column's closed value set (here the events
    // fixture's enum, passed as a literal), unlocking the
    // one-pass bitmap-NDV all-primitive-key plan the r12 floor
    // decomposition measured as this rollup's true floor. The generic
    // form stays the default for undeclared corpora.
    "agg_hourly_rollup_dict" -> ((s, dir) =>
      hourlyRollupWithDict(Tables.eventSeries(s, dir),
        Seq("signup", "purchase", "view", "click", "error"))),
    // the COLUMNAR dict kernel (r14 verdict-#5 outcome): same oracle
    // as its twins; the r13 "projection floor" was the row-decode
    // boundary (ColumnarToRow + UnsafeRow projection), measured
    // 11.6-11.8 s/1B vs 5.8-6.0 s for the same fold off ColumnarBatch
    // vectors — this folds straight off the vectorized parquet scan
    "agg_hourly_rollup_dict_col" -> ((s, dir) =>
      graft.ops.DictRollup.hourlyRollupColumnar(Tables.load(s, dir, "events"),
        Seq("signup", "purchase", "view", "click", "error"))),
    // incremental view maintenance (graft.ops.Incremental): the corpus
    // splits 80/20 by hash into "standing state" and "new batch"; each
    // side reduces to mergeable partials and the merge reproduces the
    // single-pass rollup bit-identically (decimal associativity) —
    // folding a batch in never rescans the corpus
    "agg_incremental_rollup" -> ((s, dir) => {
      // 80/20 hash split into standing state vs new batch. The MERGED
      // output is split-invariant (decimal associativity — the oracle
      // is the plain single-pass GROUP BY), so the split function only
      // needs to be a deterministic partition: xxhash64 keeps it
      // hash-uniform at ~zero per-row cost where the h60 form paid a
      // string render + md5 per row — measured 5.8 s of the 9.2 s
      // whole-query time at 300M events (bench_pair_incr_3000x_r12)
      val isNew = pmod(xxhash64(col("event_id"), lit("incr")), lit(100L)) < 20
      // ONE corpus scan, ONE LINEAR plan (r13 rework): partials
      // grouped by (split, key) — the two batches' mergeable states
      // are the split=false/true row groups of this single relation —
      // then Incremental.merge folds them with the state-sized
      // regroup on the key alone. The r12 shape filtered the state
      // into two branch DataFrames and merged those, which forced a
      // persist + eager count (the filtered branches' exchanges don't
      // canonicalize to a reuse); merging the unfiltered state is the
      // same decimal fold over the same partials (union of a
      // relation's split=false/true rows IS the relation) with no
      // branches to double-compute — the premium left over the
      // agg_rollup_fold twin is now just the per-row split hash + the
      // doubled state rows (EventAggProfile r_incr_* decomposition).
      graft.ops.Incremental.merge(
        graft.ops.Incremental.hourlyPartialsBy(
          Tables.eventSeries(s, dir), isNew).drop("split"))
    }),
    // the maintained fold ALONE (no split predicate, no h60 hash, no
    // persisted twin-branch verification): one corpus pass to the
    // 7,200-row mergeable state, finalized — the apples-to-apples
    // twin of agg_incremental_rollup, whose gate deliberately pays
    // for the merge-equals-rescan identity on top (same oracle; the
    // pair ratio between the two keys IS the measured harness price)
    "agg_rollup_fold" -> ((s, dir) => {
      graft.ops.Incremental.merge(
        graft.ops.Incremental.hourlyPartials(Tables.eventSeries(s, dir)))
    }),
    // the INFERRED-dictionary kernels (r15 verdict #1): the same
    // columnar fold for corpora with NO declared dictionary — the
    // category set is discovered inside the scan (OpenCodec over the
    // parquet dictionary ids), so inference is exact by construction
    // and the output matches the GENERIC forms on any corpus (rogue
    // categories and NULL keep their own groups). Same oracles as the
    // generic fold/incremental keys.
    "agg_rollup_fold_inferred" -> ((s, dir) =>
      graft.ops.DictRollup.foldRollupInferred(Tables.load(s, dir, "events"))),
    "agg_incremental_rollup_inferred" -> ((s, dir) =>
      graft.ops.DictRollup.incrementalRollupInferred(
        Tables.load(s, dir, "events"))),
    // the COMPOSED-input tier (r16, verdict #4): a FILTERED undeclared
    // corpus used to route to the generic fold (2.76x @1B) — now the
    // kernel accepts filter-only plans, re-evaluating the FilterExec
    // residual row-by-row inside the scan loop (exact by construction
    // regardless of parquet row-group pruning). The fixture filter is
    // the canonical time-series composed input: a raw-ts range
    // predicate (pushable, typed by Tables.tsRaw* to the column's own
    // encoding), ~63% selective at every scale (the generator keeps
    // the 30-day span fixed and scales density)
    "agg_rollup_fold_inferred_filtered" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      graft.ops.DictRollup.foldRollupInferred(ev.filter(
        Tables.tsRawAtLeast(ev, FILTER_T0_US) &&
          Tables.tsRawBelow(ev, FILTER_T1_US)))
    }),
    "agg_sketch_rollup_inferred_filtered" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      graft.ops.DictRollup.sketchRollupInferred(ev.filter(
        Tables.tsRawAtLeast(ev, FILTER_T0_US) &&
          Tables.tsRawBelow(ev, FILTER_T1_US)))
    }),
    // rolling z-score anomaly flags per user series (trailing-frame
    // causal verdict, exact decimal window partials — see
    // graft.ops.Anomaly)
    "win_anomaly" -> ((s, dir) =>
      graft.ops.Anomaly.rollingZScore(Tables.eventSeries(s, dir))),
    // Prometheus-class counter increase(): per (user, hour), the sum
    // of POSITIVE deltas between consecutive observations — a counter
    // RESET (value drop) contributes 0 instead of a negative spike,
    // which plain delta/rate cannot express. Fixed-point 1e-6 integers
    // end-to-end (floor once at ingest, then pure integer lag/sum) so
    // the gate hash-matches without float-round hazards. ONE keyed
    // window + one grouped aggregation.
    "ts_counter_increase" -> ((s, dir) => {
      val ev = Tables.eventSeries(s, dir)
      val w = Window.partitionBy("user_id")
        .orderBy(col("timestamp").asc, col("event_id").asc)
      ev.select(col("user_id"), col("timestamp"), col("event_id"),
          floor(col("value") * 1000000).cast("long").as("v6"))
        .withColumn("pv6", lag(col("v6"), 1).over(w))
        .groupBy(col("user_id"),
          ((col("timestamp") - pmod(col("timestamp"), lit(3600000000L)))
            + 3600000000L).as("sample_ts"))
        .agg(sum(when(col("pv6").isNull, 0L)
            .otherwise(greatest(col("v6") - col("pv6"), lit(0L))))
          .cast("long").as("increase6"),
          count(lit(1)).as("n_points"))
    }),
    // per-series ingest-gap statistics — the sampling-health monitor a
    // SAMPLE BY fill policy depends on (a series with 10-minute stalls
    // needs FILL(prev); one with steady gaps doesn't): one keyed lag
    // window + one grouped aggregation, integer micros end-to-end
    "ts_gap_stats" -> ((s, dir) => {
      val ev = Tables.eventSeries(s, dir)
      val w = Window.partitionBy("user_id")
        .orderBy(col("timestamp").asc, col("event_id").asc)
      ev.select(col("user_id"), col("timestamp"), col("event_id"))
        .withColumn("gap", col("timestamp") - lag(col("timestamp"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"), max("gap").as("max_gap_us"),
          sum("gap").as("sg"),
          sum(when(col("gap") > 600000000L, 1L).otherwise(0L)).as("n_stalls"))
        .select(col("user_id"), col("n_gaps"), col("max_gap_us"),
          expr("sg div n_gaps").as("avg_gap_us"), col("n_stalls"))
    }),
    // exact rolling median + p90 over the trailing 20-observation
    // frame per user — the windowed-percentile monitoring primitives:
    // one keyed window collect + in-row sort/select ((lo+hi)/2 is the
    // identical IEEE op both engines; the p90 index is INTEGER
    // arithmetic ceil(9n/10) — no float quantile position, rule 3;
    // frame-bounded state)
    "win_rolling_median" -> ((s, dir) => {
      val ev = Tables.eventSeries(s, dir)
      val w = Window.partitionBy("user_id")
        .orderBy(col("timestamp").asc, col("event_id").asc)
        .rowsBetween(-19, Window.currentRow)
      ev.select(col("user_id"), col("timestamp"), col("event_id"), col("value"))
        .withColumn("vals", collect_list(col("value")).over(w))
        .withColumn("med", expr(
          "(element_at(array_sort(vals), cast((size(vals) + 1) div 2 as int)) + " +
            "element_at(array_sort(vals), cast(size(vals) div 2 + 1 as int))) / 2"))
        .withColumn("p90", expr(
          "element_at(array_sort(vals), cast((9 * size(vals) + 9) div 10 as int))"))
        .drop("vals")
    }),
    // EWMA smoothing per user series (α = 1/2), truncated to a 20-tap
    // trailing FIR so it windows exactly: weight of the k-th most
    // recent point is 2^-k, each term floored at micro fixed point
    // (rule 3: both engines do the identical IEEE double scale + floor
    // + integer sum — no recursive state, no float round). ONE keyed
    // window, (timestamp, event_id) order = tie-free determinism.
    "win_ewma" -> ((s, dir) => {
      val ev = Tables.eventSeries(s, dir)
      val w = Window.partitionBy("user_id")
        .orderBy(col("timestamp").asc, col("event_id").asc)
      // 20 lag terms in ONE window pass instead of a collect_list
      // frame: floor(lag_k · 10⁶ / 2^(k+1)) summed, null lags (series
      // warm-up) contributing 0 — EXACTLY the partial-frame weights of
      // the list formulation (oldest available term has weight 2^-n),
      // without materializing a 20-element array per row (measured
      // 3.35 s → see BASELINE 10x-events addendum)
      val terms = (0 until 20).map { k =>
        coalesce(floor(lag(col("value"), k).over(w) *
          lit(1000000d) / lit(math.pow(2, k + 1))).cast("long"), lit(0L))
      }
      ev.select(col("user_id"), col("timestamp"), col("event_id"), col("value"))
        .withColumn("ewma6", terms.reduce(_ + _))
    }),
    // incremental JOIN maintenance: orders and customer each split by
    // hash into standing base + arriving batch; the gate returns the
    // delta rows of the joined view (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) — what a
    // standing orders⋈customer view appends for this batch, computed
    // without re-joining the bases
    "join_incremental" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment"))
      val oNew = graft.ops.Sampling.uniformHashPredicate(col("o_orderkey"), 5, "ivmo")
      val cNew = graft.ops.Sampling.uniformHashPredicate(col("o_custkey"), 10, "ivmc")
      graft.ops.Incremental.joinDelta(
        o.filter(!oNew), o.filter(oNew),
        c.filter(!cNew), c.filter(cNew), Seq("o_custkey"))
    }),
    // skew-safe aggregation patterns over the LOW-cardinality
    // event_type key (a handful of values — the classic hot-reducer
    // shape at scale; see graft.ops.Skew)
    "agg_salted_rollup" -> ((s, dir) =>
      graft.ops.Skew.saltedSumCount(
        t(s, dir, "events").select(col("event_type"), col("value"), col("event_id")),
        "event_type", "value", saltBy = "event_id", nSalts = 16)),
    "agg_distinct_users" -> ((s, dir) =>
      graft.ops.Skew.twoPhaseCountDistinct(
        t(s, dir, "events").select(col("event_type"), col("user_id")),
        "event_type", "user_id")),
    // as-of join: every non-click event annotated with the user's most
    // recent click value at-or-before it (graft.ops.AsOfJoin — oracle
    // uses DuckDB's NATIVE ASOF JOIN, a true differential test)
    "asof_join" -> ((s, dir) => {
      val evd = t(s, dir, "events")
      val all = evd.select(
        Tables.tsMicros(evd).as("timestamp"), col("user_id"),
        col("event_type"), col("value"))
      val leftEv = all.filter(col("event_type") =!= "click")
        .select("user_id", "timestamp", "value")
      val clicks = all.filter(col("event_type") === "click")
        .groupBy("user_id", "timestamp")
        .agg(max("value").as("click_value"))
      graft.ops.AsOfJoin.backwardProjected(leftEv, clicks,
        "user_id", "timestamp", "click_value", "last_click",
        Seq("user_id", "timestamp", "value"))
    }),
    // the FORWARD mirror: next click at-or-after each event
    "asof_join_forward" -> ((s, dir) => {
      val evd = t(s, dir, "events")
      val all = evd.select(
        Tables.tsMicros(evd).as("timestamp"), col("user_id"),
        col("event_type"), col("value"))
      val leftEv = all.filter(col("event_type") =!= "click")
        .select("user_id", "timestamp", "value")
      val clicks = all.filter(col("event_type") === "click")
        .groupBy("user_id", "timestamp")
        .agg(max("value").as("click_value"))
      graft.ops.AsOfJoin.forwardProjected(leftEv, clicks,
        "user_id", "timestamp", "click_value", "next_click",
        Seq("user_id", "timestamp", "value"))
    }),
    // the NEAREST mirror: closest click in EITHER direction (ties →
    // backward) — both carries fused into one WindowExec (one
    // shuffle, one sort, two frames; see AsOfJoin.nearest)
    "asof_join_nearest" -> ((s, dir) => {
      val evd = t(s, dir, "events")
      val all = evd.select(
        Tables.tsMicros(evd).as("timestamp"), col("user_id"),
        col("event_type"), col("value"))
      val leftEv = all.filter(col("event_type") =!= "click")
        .select("user_id", "timestamp", "value")
      val clicks = all.filter(col("event_type") === "click")
        .groupBy("user_id", "timestamp")
        .agg(max("value").as("click_value"))
      graft.ops.AsOfJoin.nearestProjected(leftEv, clicks,
        "user_id", "timestamp", "click_value", "nearest_click",
        Seq("user_id", "timestamp", "value"))
    }),
    // the SAME as-of join under heavy key skew: half of all users
    // collapse onto one hot key (user 0 holds ~50% of both sides).
    // The union+window formulation is skew-robust BY SHAPE — work per
    // key is O(rows log rows) in the per-partition sort, never the
    // per-key cross product a range-join formulation pays — so the
    // hot key costs its row share, nothing quadratic. Gate locks the
    // values; AsOfJoinSpec locks the plan shape on a 50%-hot fixture.
    "asof_join_skew" -> ((s, dir) => {
      val evd = t(s, dir, "events")
      val all = evd.select(
        Tables.tsMicros(evd).as("timestamp"),
        when(col("user_id") % 2 === 0, lit(0L)).otherwise(col("user_id"))
          .as("user_id"),
        col("event_type"), col("value"))
      val leftEv = all.filter(col("event_type") =!= "click")
        .select("user_id", "timestamp", "value")
      val clicks = all.filter(col("event_type") === "click")
        .groupBy("user_id", "timestamp")
        .agg(max("value").as("click_value"))
      graft.ops.AsOfJoin.backwardProjected(leftEv, clicks,
        "user_id", "timestamp", "click_value", "last_click",
        Seq("user_id", "timestamp", "value"))
    }),
    // binned range join: every error event paired with the same user's
    // clicks within +-6 h (graft.ops.RangeJoin — candidates from an
    // equality join on (user, tol-bucket), never an all-pairs filter)
    "range_join" -> ((s, dir) => {
      val evd = t(s, dir, "events")
      val all = evd.select(
        Tables.tsMicros(evd).as("timestamp"), col("user_id"),
        col("event_type"), col("value"))
      val errors = all.filter(col("event_type") === "error")
        .select("user_id", "timestamp", "value")
      val clicks = all.filter(col("event_type") === "click")
        .select("user_id", "timestamp", "value")
      graft.ops.RangeJoin.withinTolerance(errors, clicks,
        "user_id", 21600000000L, "value")
        .select("user_id", "timestamp", "value", "r_timestamp", "r_value")
    }),
    // the binned range join under the same 50%-hot key collapse: the
    // within-(key,bucket) candidate set is what bounds the quadratic
    // term — the hot key's candidates grow with its rows per TIME
    // BUCKET, not with its total rows, so skew in the key dimension
    // alone cannot blow the join up. RangeJoinSpec locks the plan
    // (equality join on (key, bucket), no NLJ) on the hot fixture.
    "range_join_skew" -> ((s, dir) => {
      val evd = t(s, dir, "events")
      val all = evd.select(
        Tables.tsMicros(evd).as("timestamp"),
        when(col("user_id") % 2 === 0, lit(0L)).otherwise(col("user_id"))
          .as("user_id"),
        col("event_type"), col("value"))
      val errors = all.filter(col("event_type") === "error")
        .select("user_id", "timestamp", "value")
      val clicks = all.filter(col("event_type") === "click")
        .select("user_id", "timestamp", "value")
      graft.ops.RangeJoin.withinTolerance(errors, clicks,
        "user_id", 21600000000L, "value")
        .select("user_id", "timestamp", "value", "r_timestamp", "r_value")
    }),
    // exact percentiles per type — the quality-threshold primitive of
    // corpus filtering (see percentilesExact for the bounded-memory
    // formulation; both engines compute the same linear interpolation,
    // rounded to 4 dp against ulp drift)
    "agg_percentiles" -> percentilesExact,
    // exact second moments per type: decimal sum + decimal
    // sum-of-squares (DECIMAL(18,6) so the square's width fits both
    // engines' 38-digit cap) reduce in ONE partial-aggregable pass;
    // the final mean/variance/stddev arithmetic runs in DOUBLE with
    // the identical operation order as the oracle text, so every IEEE
    // step is bit-equal and round(.,4) closes the gate
    // exact two-column second moments: decimal sums of x, y, xy, x²,
    // y² in one partial-aggregable pass; covariance/correlation in
    // oracle-identical IEEE order, shipped as FLOORED micros (the
    // win_anomaly rule-3 lesson — cov is an exact rational of
    // low-precision inputs and float round() flips half-boundaries)
    "agg_corr" -> ((s, dir) => {
      // fixed-point rework (r8 plan audit): the decimal-sum form cost
      // ~0.5 s PER aggregate at 600k rows — a sum over precision>18
      // decimals carries a boxed BigDecimal in the agg buffer. The 2dp
      // inputs make every moment an exact integer at 1e2/1e4 scale, so
      // the five moments run as NINE long sums instead: per-row
      // products split hi/lo at 1e6 (hi ≤ 5.5e4, lo < 1e6 per row, so
      // the split sums stay inside int64 to ~1e14 rows — overflow-safe
      // far past 100 TB where a raw product sum is not), all pure
      // codegen'd integer adds. The final chain recombines hi·1e6+lo
      // in DOUBLE with the identical IEEE operation order as the
      // oracle text — identical ops, not exactness, is what keeps the
      // floored verdicts bit-equal once totals pass 2^53.
      // quantize 2dp doubles with floor(x*100 + 0.5), NOT round(): Spark's
      // Round-on-double goes through Double.toString + BigDecimal per row
      // (measured ~2/3 of the query at 18M rows); the floor form is pure
      // FP, identical IEEE ops in both engines, and equal to HALF_UP
      // whenever x*100 sits within 0.499 of an integer — always true for
      // doubles that ARE 2dp quantities (the quantization contract)
      val pre = t(s, dir, "lineitem").select(col("l_returnflag"),
          floor(col("l_quantity") * 100 + 0.5).cast("long").as("qi"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("pi"))
        .selectExpr("l_returnflag", "qi", "pi", "qi * pi AS pxy",
          "qi * qi AS pxx", "pi * pi AS pyy")
      val g = pre.groupBy("l_returnflag").agg(count(lit(1)).as("n"),
        sum("qi").as("sx"), sum("pi").as("sy"),
        sum(expr("pxy div 1000000")).as("hxy"), sum(expr("pxy % 1000000")).as("lxy"),
        sum(expr("pxx div 1000000")).as("hxx"), sum(expr("pxx % 1000000")).as("lxx"),
        sum(expr("pyy div 1000000")).as("hyy"), sum(expr("pyy % 1000000")).as("lyy"))
      def tot(h: String, l: String) =
        (col(h).cast("double") * 1000000.0 + col(l).cast("double")) / 10000.0
      val n = col("n")
      val sxD = col("sx").cast("double") / 100.0
      val syD = col("sy").cast("double") / 100.0
      val cov = tot("hxy", "lxy") / n - (sxD / n) * (syD / n)
      val vx = tot("hxx", "lxx") / n - (sxD / n) * (sxD / n)
      val vy = tot("hyy", "lyy") / n - (syD / n) * (syD / n)
      g.select(col("l_returnflag"), col("n"),
        floor(cov * 1000000).cast("long").as("cov6"),
        floor(cov / nullif(sqrt(vx * vy), lit(0.0)) * 1000000)
          .cast("long").as("corr6"))
    }),
    "agg_variance" -> ((s, dir) => {
      val d = col("value").cast("decimal(18,6)")
      val meanD = col("sv").cast("double") / col("n")
      val varD = col("ssq").cast("double") / col("n") - meanD * meanD
      t(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(d).as("sv"), sum(d * d).as("ssq"))
        .select(col("event_type"), col("n"),
          round(meanD, 4).as("mean_value"),
          round(varD, 4).as("var_pop"),
          round(sqrt(greatest(varD, lit(0.0))), 4).as("std_pop"))
    }),
    // the sketch tier (graft.ops.Approx), gated through the in-plan
    // verification harness: the query computes the exact side next to
    // the sketch and emits integer "estimate within budget" verdicts,
    // so the oracle reproduces the exact columns and the verdicts gate
    // as constants — full rows+schema+hash check on a sketch whose
    // internals no other engine reproduces (raw estimates additionally
    // error-bounded in ApproxSpec)
    "agg_approx_distinct" -> ((s, dir) =>
      graft.ops.Approx.approxDistinctVerified(
        t(s, dir, "events").select(col("event_type"), col("user_id")),
        "event_type", "user_id")),
    "agg_approx_percentiles" -> ((s, dir) =>
      graft.ops.Approx.approxPercentilesVerified(
        t(s, dir, "events").select(col("event_type"), col("value")),
        "event_type", "value")),
    // per-day partial HLL sketches unioned per type (Approx.
    // sketchMergeVerified): the incremental-distinct mergeability
    // story, gated through the same 3σ verdict harness
    "agg_sketch_merge" -> ((s, dir) =>
      graft.ops.Approx.sketchMergeVerified(Tables.eventSeries(s, dir))),
    // the PRODUCTION-shaped sketch-only twin (r13 verdict #2): no
    // exact referent on either side — the oracle runs DuckDB's own
    // approx_count_distinct, so this pair measures sketch pipeline vs
    // sketch pipeline while agg_sketch_merge keeps gating correctness
    "agg_sketch_rollup" -> ((s, dir) =>
      graft.ops.Approx.sketchRollup(Tables.eventSeries(s, dir))),
    // the INFERRED sketch twin (r15): same oracle; unlike the declared
    // columnar twin's quarantine, rogue/NULL categories keep their own
    // groups — exact row-twin semantics for undeclared corpora, with
    // the kernel's cardinality-independent state
    "agg_sketch_rollup_inferred" -> ((s, dir) =>
      graft.ops.DictRollup.sketchRollupInferred(Tables.load(s, dir, "events"))),
    // ordered conversion funnel (Funnels.funnel): per-step earliest-
    // strictly-after frontiers, all equality joins on the user key,
    // ONE lazy plan (shared prefixes dedup via ReusedExchange)
    "agg_funnel" -> ((s, dir) =>
      graft.ops.Funnels.funnel(Tables.eventSeries(s, dir),
        Seq("signup", "view", "purchase"))),
    // windowed funnel (Funnels.funnelWithin): steps must convert
    // within 7 days of the user's step-1 time — the attribution-window
    // variant (ClickHouse windowFunnel's gap argument)
    "agg_funnel_gap" -> ((s, dir) =>
      graft.ops.Funnels.funnelWithin(Tables.eventSeries(s, dir),
        Seq("signup", "view", "purchase"), 7L * 86400000000L)),
    // weekly cohort retention matrix (Funnels.retention): first-
    // activity cohort x offset distinct-user counts
    "agg_retention" -> ((s, dir) =>
      graft.ops.Funnels.retention(Tables.eventSeries(s, dir))),
    // two-phase heavy hitters: freqItems sketch candidates + exact
    // verify — output is EXACT (and so fully oracle-gated) even though
    // the candidate pass is a sketch
    "agg_heavy_hitters" -> ((s, dir) =>
      graft.ops.Approx.heavyHitters(
        t(s, dir, "events").select(col("event_type")), "event_type", 6)),
    // bucketed co-located join (graft.ops.Bucketed): both sides read
    // bucket-aligned on the join key — no shuffle exchange in the join
    // (PlanSpec locks the shape); results gate against the plain join
    "join_bucketed_revenue" -> ((s, dir) =>
      graft.ops.Bucketed.revenueByPriority(s, dir)),
    // z-order layout key (graft.ops.ZOrder): the gate checks the
    // interleave ARITHMETIC cross-engine (per-z-bucket counts + both
    // dims' bounding boxes over lineitem keys); the locality property
    // of clustering by it is ZOrderSpec's measured claim
    // semi-structured extraction — the sidecar-JSON-metadata face of
    // the pipeline (every corpus ships provenance/stats as a JSON
    // string column). The native json_long expression (graft.functions
    // .JsonLongCodec) replaces get_json_object's per-row Jackson parse
    // with a single-pass allocation-free byte scan: 15.0 s → 1.6 s at
    // 100M events (CorrProfile events mode; from_json measured the
    // same 15 s) — identical values on integer sidecar fields,
    // contract on the codec scaladoc, parity fuzzed in JsonFastSpec
    "events_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          expr("json_long(props, 'k')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
    }),
    // multi-level aggregation: ROLLUP emits per-(type,cohort),
    // per-type and grand-total rows in ONE partial-aggregable pass —
    // one shuffle, not three queries; grouping_id disambiguates
    // rolled-up NULLs from data NULLs. NOT .rollup(): Catalyst plans
    // grouping sets via Expand — every input row duplicated per set
    // (3x the rows through the aggregate here, 4x for the cube). The
    // aggregates are MERGEABLE (count + exact micro-unit sums), so the
    // coarser levels derive from the 60-row finest state instead —
    // one clean pass over the data, then state-sized regroups (the
    // two-phase fine-group-distinct precedent applied to grouping
    // sets; r11: 2.6 s -> ~1.4 s at 100M events)
    "agg_rollup_sets" -> ((s, dir) =>
      groupingSetsFromFineState(s, dir, withCohortLevel = false)),
    // pivot with an EXPLICIT value list (implicit pivot collects the
    // distinct values to the driver — at scale the column set must be
    // declared, not discovered): wide per-cohort event-type counts
    "agg_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("cohort", pmod(col("user_id"), lit(5L)))
        .groupBy("cohort")
        .pivot("event_type", EVENT_TYPES)
        .agg(count(lit(1)))
        // pivot's two-phase rewrite NULL-fills absent (cohort, type)
        // cells where the oracle's count(CASE ...) yields 0 — align on
        // 0 so the gate doesn't depend on every combo existing
        .na.fill(0, EVENT_TYPES)),
    // hour-of-day seasonal baseline per event type — the profile an
    // anomaly detector subtracts before thresholding (win_anomaly's
    // ring treats 3am and 3pm alike; this is the seasonal correction):
    // integer 1e-6 fixed point, two grouped sums (per-(type, hod) and
    // per-type) joined on the tiny type relation, dev6 = hour mean −
    // overall mean in pure integer division
    // dashboard HEATMAP reduction: hour-of-day x value-band cell
    // counts — the 2-D companion of the seasonal profile and the
    // M4/LTTB downsamplers; ONE partial-aggregable groupBy, output
    // bounded by 24 x bands regardless of event count
    "ts_heatmap" -> ((s, dir) =>
      Tables.eventSeries(s, dir)
        .groupBy(expr("(timestamp div 3600000000) % 24").as("hod"),
          floor(col("value") / 25.0).cast("long").as("vband"))
        .agg(count(lit(1)).as("n"))),
    "ts_seasonal_profile" -> ((s, dir) => {
      val ev = Tables.eventSeries(s, dir)
        .select(col("event_type"),
          expr("(timestamp div 3600000000) % 24").as("hod"),
          floor(col("value") * 1000000).cast("long").as("v6"))
      val byHod = ev.groupBy("event_type", "hod")
        .agg(count(lit(1)).as("n"), sum("v6").as("sv"))
      val byType = ev.groupBy("event_type")
        .agg(count(lit(1)).as("tn"), sum("v6").as("tsv"))
      byHod.join(broadcast(byType), "event_type")
        .select(col("event_type"), col("hod"), col("n"),
          expr("sv div n").as("mean6"),
          expr("sv div n - tsv div tn").as("dev6"))
    }),
    // audience overlap between event types: distinct (type, user) →
    // bounded per-user pair fan-out (k types ⇒ ≤ k(k−1)/2 pairs) →
    // one grouped count; Jaccard in integer ppm — the segment-overlap
    // matrix a targeting/retention analysis starts from
    "agg_audience_overlap" -> ((s, dir) => {
      val a = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val per = a.groupBy("event_type").agg(count(lit(1)).as("n"))
      val both = a.select(col("event_type").as("type_a"), col("user_id"))
        .join(a.select(col("event_type").as("type_b"), col("user_id")), "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_both"))
      both
        .join(broadcast(per.select(col("event_type").as("type_a"), col("n").as("n_a"))), "type_a")
        .join(broadcast(per.select(col("event_type").as("type_b"), col("n").as("n_b"))), "type_b")
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
          expr("n_both * 1000000 div (n_a + n_b - n_both)").as("jaccard_ppm"))
    }),
    // CDC changelog → current state (SCD-1 upsert): events as an
    // upsert stream keyed by user, 'error' rows as DELETE tombstones;
    // the snapshot is ONE grouped struct-max ((ts, event_id) is a total
    // order) — map-side combinable, no window sort, so the state
    // rebuild costs one shuffle of partial maxes at any changelog size
    // single-pass table profile (graft.ops.Profile): the validation
    // gate a pipeline runs before trusting an input — per-column
    // null/distinct/min/max in ONE aggregate, unpivoted
    "profile_events" -> ((s, dir) =>
      graft.ops.Profile.profile(Tables.load(s, dir, "events"),
        Seq("event_id", "user_id", "value"), Seq("event_type"))),
    // the bitmap-NDV aggregate as a first-class gated key: exact
    // distinct counts of the two integral ID columns with range-
    // bounded bitmap partials instead of a value exchange
    // (functions/BitmapNdv.scala — profile_events' long pole at 100M
    // events was exactly this shape)
    "agg_bitmap_distinct" -> ((s, dir) => {
      Tables.load(s, dir, "events").agg(
        call_function("bitmap_ndv", col("event_id")).as("n_ids"),
        call_function("bitmap_ndv", col("user_id")).as("n_users"))
    }),
    "cdc_upsert_latest" -> ((s, dir) =>
      Tables.eventSeries(s, dir)
        .groupBy("user_id")
        .agg(max(struct(col("timestamp"), col("event_id"),
          col("event_type"), col("value"))).as("m"))
        .filter(col("m.event_type") =!= "error")
        .select(col("user_id"), col("m.timestamp").as("last_ts"),
          col("m.event_id").as("last_event_id"),
          col("m.value").as("last_value"))),
    // CUBE completes the grouping-sets family next to agg_rollup_sets:
    // all four (type, cohort) subsets — derived from the same finest
    // state (see agg_rollup_sets: no Expand, one data pass)
    "agg_cube" -> ((s, dir) =>
      groupingSetsFromFineState(s, dir, withCohortLevel = true)),
    // sample autocorrelation per series at lags 1..3 (graft.ops
    // .SeriesStats.acf): integer fixed-point moment sums + ONE shared
    // double chain both engines execute verbatim
    "ts_acf" -> ((s, dir) =>
      graft.ops.SeriesStats.acf(Tables.eventSeries(s, dir))),
    // robust rolling anomaly: median/MAD of the trailing 20-frame —
    // a level shift cannot poison the detector the way win_anomaly's
    // mean/stddev ring can (the median absorbs 9 outliers of 20)
    "win_mad" -> ((s, dir) =>
      graft.ops.SeriesStats.rollingMad(Tables.eventSeries(s, dir))),
    // Prometheus-class histogram_quantile(0.9) per hour: bucket counts
    // are the ONLY data-sized aggregation (mergeable at any fan-in);
    // rank selection + interpolation run over the (hour, bucket) grid
    "ts_histogram_quantile" -> ((s, dir) =>
      graft.ops.SeriesStats.histogramQuantile(
        Tables.eventSeries(s, dir).select(col("timestamp"), col("value")))),
    "zorder_layout" -> ((s, dir) => {
      // Knuth multiplicative spread before the 16-bit bucket: raw keys
      // at small SFs never reach the high interleave bits (every row
      // would land in z-bucket 0 and the gate would check nothing).
      // The key is masked to 16 bits BEFORE the multiply so the
      // product never exceeds 2^16 * 2654435761 < 2^48 — unmasked,
      // keys past ~3.5e9 (large SFs) overflow int64 and throw under
      // ANSI mode; the low-16 multiplier (0x79B1) is odd, so the
      // mod-65536 multiply stays a bijection and spreads just as well
      val li = t(s, dir, "lineitem")
        .select((((col("l_orderkey") % 65536) * 2654435761L) % 65536).as("ox"),
          (((col("l_partkey") % 65536) * 2654435761L) % 65536).as("oy"))
      li.withColumn("z", graft.ops.ZOrder.interleave(Seq(col("ox"), col("oy")), 16))
        .groupBy(expr("z div 134217728").as("zb")) // 2^27: 32 buckets
        .agg(count(lit(1)).as("n"),
          min("ox").as("min_x"), max("ox").as("max_x"),
          min("oy").as("min_y"), max("oy").as("max_y"))
    }),
  )

  private val PCTS = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))

  /** Exact interpolated percentiles with BOUNDED memory: sort-rank the
    * values per group (sort-based window — spills to disk, never
    * buffers a group in an agg buffer) and select/interpolate the two
    * ranks each quantile needs. Spark's `percentile()` aggregate is a
    * TypedImperativeAggregate that materializes EVERY value of a group
    * in one reducer's buffer — a deterministic OOM on a hot group at
    * corpus scale, which is why it's not used here (it remains the
    * semantics reference: interpolation below is its
    * `(hi-pos)*v_lo + (pos-lo)*v_hi` formula over pos = q*(n-1),
    * identical to DuckDB's quantile_cont on the oracle side).
    * At scale the per-group sort is the only hot spot (5 groups →
    * 5-way parallelism ceiling); it trades the OOM for spillable disk,
    * the correct failure mode for an exact quantile. */
  private def percentilesExact(s: SparkSession, dir: String): DataFrame =
    graft.ops.Percentiles.exact(
      t(s, dir, "events").select(col("event_type"), col("value")),
      "event_type", "value", PCTS)

  /** The fixture's closed event-type vocabulary — the pivot gate's
    * explicit column list (one definition feeds the Spark pivot AND
    * the oracle's CASE arms). */
  private val EVENT_TYPES = Seq("click", "error", "purchase", "signup", "view")

  private val SUM = "round(CAST(sum(CAST(%s AS DECIMAL(30,6))) AS DOUBLE), 4)"
  private def sumSql(e: String) = SUM.format(e)
  private def avgSql(e: String) =
    s"round(CAST(sum(CAST($e AS DECIMAL(30,6))) AS DOUBLE) / count(*), 4)"

  private val EV =
    "WITH ev AS (SELECT epoch_us(ts) AS timestamp, value, event_id, user_id, event_type FROM events) "

  /** The composed-fixture raw-ts range: 2024-01-07 .. 2024-01-26 UTC
    * (exclusive) — mid-span of the fixture's fixed 30-day window, so
    * the filter keeps ~63% of rows at every scale. Shared by the
    * Spark predicates and the oracle WHERE, so the two sides cannot
    * drift. */
  private val FILTER_T0_US = 1704585600000000L
  private val FILTER_T1_US = 1706227200000000L

  val oracleSql: Map[String, String] = Map(
    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sumSql("l_quantity")} AS sum_qty,
         |  ${sumSql("l_extendedprice")} AS sum_base_price,
         |  ${sumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${sumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${avgSql("l_quantity")} AS avg_qty,
         |  ${avgSql("l_extendedprice")} AS avg_price,
         |  ${avgSql("l_discount")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue" ->
      s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
         |  ${sumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_date
         |ORDER BY revenue DESC, l_orderkey ASC
         |LIMIT 10""".stripMargin,
    "q5_region_volume" ->
      s"""SELECT n_name, ${sumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name""".stripMargin,
    "win_cumsum_user" ->
      (EV + """SELECT user_id, timestamp, value,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,6)))
        |    OVER (PARTITION BY user_id ORDER BY timestamp, value
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS cum_value
        |FROM ev""".stripMargin),
    "ts_counter_increase" ->
      (EV + """, v AS (SELECT user_id, timestamp, event_id,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v6 FROM ev),
        |p AS (SELECT user_id, timestamp, v6,
        |    lag(v6) OVER (PARTITION BY user_id ORDER BY timestamp, event_id) AS pv6
        |  FROM v)
        |SELECT user_id,
        |  (timestamp - timestamp % 3600000000) + 3600000000 AS sample_ts,
        |  CAST(sum(CASE WHEN pv6 IS NULL THEN 0
        |                ELSE greatest(v6 - pv6, 0) END) AS BIGINT) AS increase6,
        |  count(*) AS n_points
        |FROM p GROUP BY 1, 2""".stripMargin),
    "win_rolling_median" ->
      (EV + """SELECT user_id, timestamp, event_id, value,
        |  (ls[(len(ls) + 1) // 2] + ls[len(ls) // 2 + 1]) / 2 AS med,
        |  ls[(9 * len(ls) + 9) // 10] AS p90
        |FROM (SELECT user_id, timestamp, event_id, value,
        |    list_sort(list(value) OVER (PARTITION BY user_id
        |      ORDER BY timestamp, event_id
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) AS ls
        |  FROM ev)""".stripMargin),
    "win_ewma" ->
      (EV + """SELECT user_id, timestamp, event_id, value,
        |  CAST(list_sum([CAST(floor(vals[i] * 1000000 / pow(2, len(vals) - i + 1)) AS BIGINT)
        |    FOR i IN range(1, len(vals) + 1)]) AS BIGINT) AS ewma6
        |FROM (SELECT user_id, timestamp, event_id, value,
        |    list(value) OVER (PARTITION BY user_id ORDER BY timestamp, event_id
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
        |  FROM ev)""".stripMargin),
    "win_top3_per_user" ->
      (EV + """SELECT user_id, timestamp, value, rn FROM (
        |  SELECT user_id, timestamp, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, timestamp ASC) AS rn
        |  FROM ev) WHERE rn <= 3""".stripMargin),
    // the SAME oracle for the bounded-aggregate formulation —
    // differential: window and aggregate must agree row-for-row
    "win_top3_agg" ->
      (EV + """SELECT user_id, timestamp, value, rn FROM (
        |  SELECT user_id, timestamp, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, timestamp ASC) AS rn
        |  FROM ev) WHERE rn <= 3""".stripMargin),
    "win_sessionize" ->
      (EV + """SELECT user_id, CAST(sum(is_break) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR timestamp - prev_ts > 1800000000 THEN 1 ELSE 0 END AS is_break
        |  FROM (SELECT user_id, timestamp,
        |          lag(timestamp) OVER (PARTITION BY user_id ORDER BY timestamp) AS prev_ts
        |        FROM ev)) GROUP BY user_id""".stripMargin),
    // identical oracle again: the segmented two-level fold is the
    // bounded-state scale path and must reproduce the same output
    "win_sessionize_seg" ->
      (EV + """SELECT user_id, CAST(sum(is_break) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR timestamp - prev_ts > 1800000000 THEN 1 ELSE 0 END AS is_break
        |  FROM (SELECT user_id, timestamp,
        |          lag(timestamp) OVER (PARTITION BY user_id ORDER BY timestamp) AS prev_ts
        |        FROM ev)) GROUP BY user_id""".stripMargin),
    "agg_hourly_rollup" ->
      (EV + s"""SELECT (timestamp - timestamp % 3600000000) AS hour_ts, event_type,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  ${sumSql("value")} AS sum_value
        |FROM ev GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    // IDENTICAL oracle: the dictionary only changes the PLAN (integer
    // codes + bitmap-NDV instead of a string fine key + two-phase
    // distinct); the rollup itself is the same exact aggregation
    "agg_hourly_rollup_dict" ->
      (EV + s"""SELECT (timestamp - timestamp % 3600000000) AS hour_ts, event_type,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  ${sumSql("value")} AS sum_value
        |FROM ev GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    "agg_hourly_rollup_dict_col" ->
      (EV + s"""SELECT (timestamp - timestamp % 3600000000) AS hour_ts, event_type,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  ${sumSql("value")} AS sum_value
        |FROM ev GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    // the merge is exact by decimal associativity, so the oracle is
    // the plain single-pass GROUP BY over everything
    "agg_incremental_rollup" ->
      (EV + s"""SELECT event_type,
        |  (timestamp - timestamp % 3600000000) AS hour_ts,
        |  count(*) AS n, ${sumSql("value")} AS sum_value
        |FROM ev GROUP BY 1, 2""".stripMargin),
    // identical oracle: the fold-only twin must reproduce the same
    // rollup — its pair ratio isolates the operator from the
    // verification harness agg_incremental_rollup carries
    "agg_rollup_fold" ->
      (EV + s"""SELECT event_type,
        |  (timestamp - timestamp % 3600000000) AS hour_ts,
        |  count(*) AS n, ${sumSql("value")} AS sum_value
        |FROM ev GROUP BY 1, 2""".stripMargin),
    // the composed-input fixtures: the SAME rollups under the shared
    // raw-ts range — the WHERE is the only delta vs the bare oracles
    "agg_rollup_fold_inferred_filtered" ->
      (EV + s"""SELECT event_type,
        |  (timestamp - timestamp % 3600000000) AS hour_ts,
        |  count(*) AS n, ${sumSql("value")} AS sum_value
        |FROM ev WHERE timestamp >= $FILTER_T0_US
        |  AND timestamp < $FILTER_T1_US GROUP BY 1, 2""".stripMargin),
    "agg_sketch_rollup_inferred_filtered" ->
      s"""SELECT event_type,
        |  count(DISTINCT epoch_us(ts) // 86400000000) AS n_days,
        |  CAST(floor(ln(CAST(greatest(approx_count_distinct(user_id), 1) AS DOUBLE))
        |    / ${graft.ops.Approx.BandLn125} + 0.5) AS BIGINT) AS est_band
        |FROM events WHERE epoch_us(ts) >= $FILTER_T0_US
        |  AND epoch_us(ts) < $FILTER_T1_US GROUP BY 1""".stripMargin,
    // IDENTICAL oracles for the INFERRED kernels too: inline inference
    // only changes the plan (scan-time dictionary discovery); the
    // rollup is the same exact aggregation as the generic forms
    "agg_rollup_fold_inferred" ->
      (EV + s"""SELECT event_type,
        |  (timestamp - timestamp % 3600000000) AS hour_ts,
        |  count(*) AS n, ${sumSql("value")} AS sum_value
        |FROM ev GROUP BY 1, 2""".stripMargin),
    "agg_incremental_rollup_inferred" ->
      (EV + s"""SELECT event_type,
        |  (timestamp - timestamp % 3600000000) AS hour_ts,
        |  count(*) AS n, ${sumSql("value")} AS sum_value
        |FROM ev GROUP BY 1, 2""".stripMargin),
    // trailing-window frame identical to the Spark Window spec; the
    // mean/variance/threshold chain in the same IEEE op order
    // 1e-4 fixed-point window sums (the agg_corr rework discipline),
    // identical IEEE chain after the casts
    "win_anomaly" ->
      (EV + """SELECT user_id, ts_us, value, event_id,
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
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))""".stripMargin),
    // same decimal accumulators and IEEE op order as the Spark plan;
    // floored micros close the gate without a float round
    // same exact 2dp fixed-point moments and hi/lo recombination as
    // the Spark plan, identical IEEE operation order before the floors
    "agg_corr" ->
      """WITH p AS (SELECT l_returnflag,
        |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qi,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pi
        |  FROM lineitem),
        |q AS (SELECT l_returnflag, qi, pi, qi * pi AS pxy,
        |    qi * qi AS pxx, pi * pi AS pyy FROM p),
        |g AS (SELECT l_returnflag, count(*) AS n, sum(qi) AS sx, sum(pi) AS sy,
        |    sum(pxy // 1000000) AS hxy, sum(pxy % 1000000) AS lxy,
        |    sum(pxx // 1000000) AS hxx, sum(pxx % 1000000) AS lxx,
        |    sum(pyy // 1000000) AS hyy, sum(pyy % 1000000) AS lyy
        |  FROM q GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CAST(floor(((CAST(hxy AS DOUBLE) * 1000000.0 + CAST(lxy AS DOUBLE)) / 10000.0 / n
        |      - (CAST(sx AS DOUBLE) / 100.0 / n) * (CAST(sy AS DOUBLE) / 100.0 / n)) * 1000000) AS BIGINT) AS cov6,
        |  CAST(floor(((CAST(hxy AS DOUBLE) * 1000000.0 + CAST(lxy AS DOUBLE)) / 10000.0 / n
        |      - (CAST(sx AS DOUBLE) / 100.0 / n) * (CAST(sy AS DOUBLE) / 100.0 / n))
        |    / nullif(sqrt(((CAST(hxx AS DOUBLE) * 1000000.0 + CAST(lxx AS DOUBLE)) / 10000.0 / n
        |        - (CAST(sx AS DOUBLE) / 100.0 / n) * (CAST(sx AS DOUBLE) / 100.0 / n))
        |      * ((CAST(hyy AS DOUBLE) * 1000000.0 + CAST(lyy AS DOUBLE)) / 10000.0 / n
        |        - (CAST(sy AS DOUBLE) / 100.0 / n) * (CAST(sy AS DOUBLE) / 100.0 / n))), 0)
        |    * 1000000) AS BIGINT) AS corr6
        |FROM g""".stripMargin,
    // double arithmetic in the same textual order as the Spark plan:
    // every IEEE step matches bit-for-bit before the final round
    "agg_variance" ->
      """WITH g AS (SELECT event_type, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(18,6))) AS sv,
        |    sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS ssq
        |  FROM events GROUP BY 1)
        |SELECT event_type, n,
        |  round(CAST(sv AS DOUBLE) / n, 4) AS mean_value,
        |  round(CAST(ssq AS DOUBLE) / n
        |    - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n), 4) AS var_pop,
        |  round(sqrt(greatest(CAST(ssq AS DOUBLE) / n
        |    - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n), 0)), 4) AS std_pop
        |FROM g""".stripMargin,
    // the three delta terms cover exactly the joined pairs where at
    // least one side is new — the full-join WHERE is the oracle twin
    "join_incremental" ->
      s"""WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice,
         |    ${TextSurface.h60sql("'ivmo:' || CAST(o_orderkey AS VARCHAR)")} % 100 < 5 AS o_new
         |  FROM orders),
         |c AS (SELECT c_custkey AS o_custkey, c_name, c_mktsegment,
         |    ${TextSurface.h60sql("'ivmc:' || CAST(c_custkey AS VARCHAR)")} % 100 < 10 AS c_new
         |  FROM customer)
         |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name, c.c_mktsegment
         |FROM o JOIN c USING (o_custkey)
         |WHERE o.o_new OR c.c_new""".stripMargin,
    // salting only redistributes the merge; DECIMAL addition is
    // associative, so the oracle is the plain single-phase GROUP BY
    "agg_salted_rollup" ->
      s"""SELECT event_type, ${sumSql("value")} AS sum_value, count(*) AS n
         |FROM events GROUP BY 1""".stripMargin,
    "agg_distinct_users" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_distinct FROM events GROUP BY 1",
    // phase 2 of the two-phase heavy hitter is exact, so the sketch
    // pass is invisible to the oracle; integer support comparison
    "agg_heavy_hitters" ->
      """SELECT event_type, count(*) AS n FROM events GROUP BY 1
        |HAVING count(*) * 6 > (SELECT count(*) FROM events)""".stripMargin,
    // differential test against DuckDB's NATIVE ASOF JOIN operator
    "asof_join" ->
      (EV + """, l AS (SELECT user_id, timestamp, value FROM ev WHERE event_type != 'click'),
        |r AS (SELECT user_id, timestamp, max(value) AS click_value FROM ev
        |      WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT l.user_id, l.timestamp, l.value, r.click_value AS last_click
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.timestamp >= r.timestamp""".stripMargin),
    "asof_join_forward" ->
      (EV + """, l AS (SELECT user_id, timestamp, value FROM ev WHERE event_type != 'click'),
        |r AS (SELECT user_id, timestamp, max(value) AS click_value FROM ev
        |      WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT l.user_id, l.timestamp, l.value, r.click_value AS next_click
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.timestamp <= r.timestamp""".stripMargin),
    // the union + dual-carry window formulation (NOT two ASOF joins:
    // duplicate (user, ts) left rows would cross-multiply in a
    // re-join); same ordering as the Spark plan, distance compare
    // row-local on the carried (t, v) structs
    "asof_join_nearest" ->
      (EV + """, l AS (SELECT user_id, timestamp, value FROM ev WHERE event_type != 'click'),
        |r AS (SELECT user_id, timestamp, max(value) AS click_value FROM ev
        |      WHERE event_type = 'click' GROUP BY 1, 2),
        |u AS (SELECT user_id, timestamp, 1 AS side, CAST(NULL AS DOUBLE) AS rv, value FROM l
        |      UNION ALL
        |      SELECT user_id, timestamp, 0 AS side, click_value AS rv, CAST(NULL AS DOUBLE) AS value FROM r),
        |c AS (SELECT *,
        |    last_value(CASE WHEN side = 0 THEN {'t': timestamp, 'v': rv} END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY timestamp, side, rv ROWS UNBOUNDED PRECEDING) AS bs,
        |    first_value(CASE WHEN side = 0 THEN {'t': timestamp, 'v': rv} END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY timestamp, side, rv
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fs
        |  FROM u)
        |SELECT user_id, timestamp, value,
        |  CASE WHEN bs IS NULL THEN struct_extract(fs, 'v')
        |       WHEN fs IS NULL THEN struct_extract(bs, 'v')
        |       WHEN timestamp - struct_extract(bs, 't') <= struct_extract(fs, 't') - timestamp
        |         THEN struct_extract(bs, 'v') ELSE struct_extract(fs, 'v') END AS nearest_click
        |FROM c WHERE side = 1""".stripMargin),
    "asof_join_skew" ->
      ("""WITH ev AS (SELECT epoch_us(ts) AS timestamp,
         |  CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS user_id,
         |  event_type, value FROM events),
         |l AS (SELECT user_id, timestamp, value FROM ev WHERE event_type != 'click'),
         |r AS (SELECT user_id, timestamp, max(value) AS click_value FROM ev
         |      WHERE event_type = 'click' GROUP BY 1, 2)
         |SELECT l.user_id, l.timestamp, l.value, r.click_value AS last_click
         |FROM l ASOF LEFT JOIN r
         |  ON l.user_id = r.user_id AND l.timestamp >= r.timestamp""".stripMargin),
    "range_join_skew" ->
      ("""WITH ev AS (SELECT epoch_us(ts) AS timestamp,
         |  CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS user_id,
         |  event_type, value FROM events),
         |l AS (SELECT user_id, timestamp, value FROM ev WHERE event_type = 'error'),
         |r AS (SELECT user_id, timestamp, value FROM ev WHERE event_type = 'click')
         |SELECT l.user_id, l.timestamp, l.value,
         |  r.timestamp AS r_timestamp, r.value AS r_value
         |FROM l JOIN r ON l.user_id = r.user_id
         |  AND abs(l.timestamp - r.timestamp) <= 21600000000""".stripMargin),
    "range_join" ->
      (EV + """, l AS (SELECT user_id, timestamp, value FROM ev WHERE event_type = 'error'),
        |r AS (SELECT user_id, timestamp, value FROM ev WHERE event_type = 'click')
        |SELECT l.user_id, l.timestamp, l.value,
        |  r.timestamp AS r_timestamp, r.value AS r_value
        |FROM l JOIN r ON l.user_id = r.user_id
        |  AND abs(l.timestamp - r.timestamp) <= 21600000000""".stripMargin),
    "join_bucketed_revenue" ->
      s"""SELECT o_orderpriority, ${sumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(*) AS n
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1""".stripMargin,
    // the sketch verdicts gate as constants: the oracle reproduces the
    // exact side; if Spark's sketch ever drifts past its error budget
    // the engine-side verdict flips to 0 and the hash check fails
    "events_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "agg_rollup_sets" ->
      s"""SELECT event_type, user_id % 10 AS cohort, count(*) AS n,
         |  ${sumSql("value")} AS sum_value,
         |  CAST(GROUPING(event_type) * 2 + GROUPING(user_id % 10) AS BIGINT) AS gid
         |FROM events GROUP BY ROLLUP(event_type, user_id % 10)""".stripMargin,
    "agg_pivot" -> {
      val arms = EVENT_TYPES.map(v =>
        s"count(CASE WHEN event_type = '$v' THEN 1 END) AS $v").mkString(", ")
      s"SELECT user_id % 5 AS cohort, $arms FROM events GROUP BY 1"
    },
    "ts_heatmap" ->
      (EV + """SELECT (timestamp // 3600000000) % 24 AS hod,
        |  CAST(floor(value / 25.0) AS BIGINT) AS vband, count(*) AS n
        |FROM ev GROUP BY 1, 2""".stripMargin),
    "ts_seasonal_profile" ->
      (EV + """, v AS (SELECT event_type,
        |    (timestamp // 3600000000) % 24 AS hod,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v6 FROM ev),
        |h AS (SELECT event_type, hod, count(*) AS n, sum(v6) AS sv
        |  FROM v GROUP BY 1, 2),
        |tt AS (SELECT event_type, count(*) AS tn, sum(v6) AS tsv
        |  FROM v GROUP BY 1)
        |SELECT event_type, hod, n,
        |  CAST(sv // n AS BIGINT) AS mean6,
        |  CAST(sv // n - tsv // tn AS BIGINT) AS dev6
        |FROM h JOIN tt USING (event_type)""".stripMargin),
    "agg_audience_overlap" ->
      """WITH a AS (SELECT DISTINCT event_type, user_id FROM events),
        |per AS (SELECT event_type, count(*) AS n FROM a GROUP BY 1),
        |ov AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM a x JOIN a y ON x.user_id = y.user_id
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b,
        |  pa.n AS n_a, pb.n AS n_b, n_both,
        |  CAST(n_both * 1000000 // (pa.n + pb.n - n_both) AS BIGINT) AS jaccard_ppm
        |FROM ov
        |JOIN per pa ON pa.event_type = type_a
        |JOIN per pb ON pb.event_type = type_b""".stripMargin,
    "profile_events" -> graft.ops.Profile.profileOracleSql(
      "SELECT event_id, user_id, value, event_type FROM events",
      Seq("event_id", "user_id", "value"), Seq("event_type")),
    "agg_bitmap_distinct" ->
      """SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events""".stripMargin,
    "cdc_upsert_latest" ->
      (EV + """SELECT user_id, m.t AS last_ts, m.e AS last_event_id,
        |  m.v AS last_value
        |FROM (SELECT user_id, max({'t': timestamp, 'e': event_id,
        |    'ty': event_type, 'v': value}) AS m FROM ev GROUP BY 1)
        |WHERE m.ty != 'error'""".stripMargin),
    "agg_cube" ->
      s"""SELECT event_type, user_id % 10 AS cohort, count(*) AS n,
         |  ${sumSql("value")} AS sum_value,
         |  CAST(GROUPING(event_type) * 2 + GROUPING(user_id % 10) AS BIGINT) AS gid
         |FROM events GROUP BY CUBE(event_type, user_id % 10)""".stripMargin,
    "ts_acf" ->
      (EV + ", " + graft.ops.SeriesStats.acfOracleSql()),
    "win_mad" ->
      (EV + graft.ops.SeriesStats.rollingMadOracleSql()),
    "ts_histogram_quantile" ->
      (EV + ", " + graft.ops.SeriesStats.histogramQuantileOracleSql),
    "zorder_layout" -> {
      val z = graft.ops.ZOrder.interleaveSql(Seq("ox", "oy"), 16)
      s"""WITH k AS (SELECT ((l_orderkey % 65536) * 2654435761) % 65536 AS ox,
         |    ((l_partkey % 65536) * 2654435761) % 65536 AS oy FROM lineitem),
         |z AS (SELECT ox, oy, $z AS z FROM k)
         |SELECT z // 134217728 AS zb, count(*) AS n,
         |  min(ox) AS min_x, max(ox) AS max_x,
         |  min(oy) AS min_y, max(oy) AS max_y
         |FROM z GROUP BY 1""".stripMargin
    },
    "agg_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_n,
        |  CAST(1 AS BIGINT) AS within_3rsd
        |FROM events GROUP BY 1""".stripMargin,
    "ts_gap_stats" ->
      (EV + """SELECT user_id, count(*) AS n_gaps,
        |  CAST(max(gap) AS BIGINT) AS max_gap_us,
        |  CAST(sum(gap) // count(*) AS BIGINT) AS avg_gap_us,
        |  CAST(sum(CASE WHEN gap > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_stalls
        |FROM (SELECT user_id, timestamp - lag(timestamp) OVER (
        |    PARTITION BY user_id ORDER BY timestamp, event_id) AS gap FROM ev)
        |WHERE gap IS NOT NULL GROUP BY 1""".stripMargin),
    // same strictly-after frontier chain; nested min-aggregation joins
    "agg_funnel" ->
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
    // same chain with the 7-day bound carried from the step-1 frontier
    "agg_funnel_gap" ->
      """WITH ev AS (SELECT epoch_us(ts) AS timestamp, user_id, event_type FROM events),
        |s1 AS (SELECT user_id, min(timestamp) AS t FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.timestamp) AS t FROM ev e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.timestamp > s1.t
        |    AND e.timestamp <= s1.t + 604800000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.timestamp) AS t FROM ev e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'purchase' AND e.timestamp > s2.t
        |    AND e.timestamp <= s1.t + 604800000000 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
        |  (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT CAST(2 AS BIGINT), 'view', (SELECT count(*) FROM s2)
        |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', (SELECT count(*) FROM s3)""".stripMargin,
    "agg_retention" ->
      """WITH ev AS (SELECT epoch_us(ts) AS timestamp, user_id FROM events),
        |a AS (SELECT DISTINCT user_id, timestamp // 604800000000 AS period FROM ev),
        |f AS (SELECT user_id, min(period) AS cohort_period FROM a GROUP BY 1)
        |SELECT f.cohort_period, a.period - f.cohort_period AS offset,
        |  count(*) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    "agg_sketch_merge" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_n,
        |  count(DISTINCT epoch_us(ts) // 86400000000) AS n_partials,
        |  CAST(1 AS BIGINT) AS merged_ok, CAST(1 AS BIGINT) AS direct_ok
        |FROM events GROUP BY 1""".stripMargin,
    // like-for-like: DuckDB pays its OWN HLL (approx_count_distinct),
    // and the estimate gates through the shared ratio band — the
    // ln(1.25) divisor is the identical IEEE double literal on both
    // sides (Approx.BandLn125); at gate scale both sketches are in
    // their exact range, so est is 150 on both before banding
    "agg_sketch_rollup" ->
      s"""SELECT event_type,
        |  count(DISTINCT epoch_us(ts) // 86400000000) AS n_days,
        |  CAST(floor(ln(CAST(greatest(approx_count_distinct(user_id), 1) AS DOUBLE))
        |    / ${graft.ops.Approx.BandLn125} + 0.5) AS BIGINT) AS est_band
        |FROM events GROUP BY 1""".stripMargin,
    "agg_sketch_rollup_inferred" ->
      s"""SELECT event_type,
        |  count(DISTINCT epoch_us(ts) // 86400000000) AS n_days,
        |  CAST(floor(ln(CAST(greatest(approx_count_distinct(user_id), 1) AS DOUBLE))
        |    / ${graft.ops.Approx.BandLn125} + 0.5) AS BIGINT) AS est_band
        |FROM events GROUP BY 1""".stripMargin,
    "agg_approx_percentiles" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(1 AS BIGINT) AS ok50, CAST(1 AS BIGINT) AS ok90,
        |  CAST(1 AS BIGINT) AS ok99
        |FROM events GROUP BY 1""".stripMargin,
    "agg_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
  )
}
