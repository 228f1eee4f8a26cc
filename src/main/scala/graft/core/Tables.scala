package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * `events.ts` has shipped under TWO parquet encodings across driver
  * fixture generations:
  *   - TIMESTAMP(NANOS): Spark's `TimestampType` is micros-only and
  *     refuses the type, so it reads as `LongType` epoch-nanos via
  *     `spark.sql.legacy.parquet.nanosAsLong` — matching the reference
  *     engine's time model (uint64 nanoseconds since epoch, reference
  *     src/timeseries.h:50-55).
  *   - TIMESTAMP(MICROS) (isAdjustedToUTC=false): reads natively as
  *     `TimestampNTZType`.
  * Every consumer goes through [[tsMicros]] / [[tsRawAtLeast]] /
  * [[tsRawBelow]], which branch on the ACTUAL column type — so a future
  * fixture regeneration flips one branch instead of 40 query plans.
  * The micros projection and the raw-unit predicates are kept separate
  * on purpose: predicates on the raw column (in its own unit/type)
  * reach the parquet scan as PushedFilters for row-group pruning, while
  * predicates on the derived micros projection never do.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Runtime-settable; only affects TIMESTAMP(NANOS) columns (events.ts).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→timestamp cast inside tsMicros is exact only under a UTC
    // session zone; pin it at the chokepoint so no caller can skew it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Epoch-micros Long projection of the raw `ts` column under either
    * fixture encoding. NTZ→timestamp cast is a no-op on the internal
    * micros under the UTC session zone pinned in [[load]]. */
  def tsMicros(df: DataFrame): Column = tsMicrosOf(df.schema("ts").dataType)

  def tsMicrosOf(dt: DataType): Column = dt match {
    case LongType => expr("ts div 1000") // epoch-nanos → micros
    case TimestampNTZType => assertUtc("Tables.tsMicrosOf")
      unix_micros(col("ts").cast(TimestampType))
    case TimestampType => unix_micros(col("ts"))
    case other => throw new IllegalStateException(
      s"events.ts has unsupported type $other — fixture schema changed again?")
  }

  /** The NTZ→timestamp cast above resolves its zone from the SESSION
    * timezone at analysis — exact epoch-micros only under UTC. [[load]]
    * pins the conf, but any entry point that builds on an NTZ ts column
    * WITHOUT passing through load in a non-UTC JVM would silently shift
    * every timestamp by the zone offset; fail loudly instead. (The
    * pruning rule has the same dependency and degrades to no-pruning —
    * SampleWindowPrune.ntzTranslationSafe.) */
  private def assertUtc(site: String): Unit = {
    val tz = org.apache.spark.sql.SparkSession.active
      .conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"$site requires spark.sql.session.timeZone=UTC (got $tz): the " +
        "NTZ ts projection would shift every timestamp — go through " +
        "Tables.load, which pins the session zone")
  }

  /** Epoch-nanos Long projection of raw `ts` (the reference's native
    * time model). Exact under both encodings: a micros fixture carries
    * no sub-micro precision, so ×1000 reproduces the nanos domain. */
  def tsNanos(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => col("ts")
    case TimestampNTZType => assertUtc("Tables.tsNanos")
      unix_micros(col("ts").cast(TimestampType)) * 1000L
    case TimestampType => unix_micros(col("ts")) * 1000L
    case other => throw new IllegalStateException(
      s"events.ts has unsupported type $other — fixture schema changed again?")
  }

  /** A literal comparable to the raw `ts` column at exactly `us`
    * epoch-micros, typed to the column's own encoding (so the
    * comparison stays a bare-attribute PushedFilter). */
  private def tsLit(dt: DataType, us: Long): Column = dt match {
    case LongType => lit(us * 1000L) // nanos domain
    case TimestampNTZType => lit(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
    case _ => lit(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
  }

  /** Raw-column predicate ⟺ `tsMicros(ts) >= t0Us`, pushable to the
    * parquet scan in the column's own unit. Exact in both domains: a
    * nanos value ≥ t0·1000 iff its micros floor ≥ t0. */
  def tsRawAtLeast(df: DataFrame, t0Us: Long): Column =
    col("ts") >= tsLit(df.schema("ts").dataType, t0Us)

  /** Raw-column predicate ⟺ `tsMicros(ts) < t1ExclUs` (exclusive). */
  def tsRawBelow(df: DataFrame, t1ExclUs: Long): Column =
    col("ts") < tsLit(df.schema("ts").dataType, t1ExclUs)

  /** The `events` table as the canonical (timestamp, value) time series
    * of the reference's data model (reference src/timeseries.h:50-55).
    *
    * Timestamps are projected to MICROS: the driver's DuckDB oracle
    * reads the parquet timestamps at micro precision, so
    * oracle-comparable queries must live in the micros domain. The tsql
    * engine itself (graft.engine) keeps full nanos via [[tsNanos]].
    */
  def eventSeries(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = load(spark, sfDir, "events")
    ev.select(
      tsMicros(ev).as("timestamp"), // epoch-micros
      col("value"),
      col("event_id"), col("user_id"), col("event_type"))
  }

  /** [[eventSeries]] pre-filtered to a closed MICROS range `[t0, t1]`.
    *
    * The range predicate is applied to the RAW `ts` column before the
    * micros projection: a filter on the derived projection cannot reach
    * the parquet scan (observed `PushedFilters: [IsNotNull(ts)]` only),
    * while the equivalent raw-column predicate pushes down to row-group
    * min/max pruning — the difference between scanning the range and
    * scanning the table. */
  def eventSeriesRanged(spark: SparkSession, sfDir: String,
      t0Us: Long, t1Us: Long): DataFrame = {
    val ev = load(spark, sfDir, "events")
    ev.filter(tsRawAtLeast(ev, t0Us) && tsRawBelow(ev, t1Us + 1))
      .select(
        tsMicros(ev).as("timestamp"),
        col("value"),
        col("event_id"), col("user_id"), col("event_type"))
  }
}
