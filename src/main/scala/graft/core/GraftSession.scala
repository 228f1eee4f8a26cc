package graft.core

import java.io.File

import org.apache.spark.sql.SparkSession

/** The one session profile of graft's mains (Bench, Verify, PlanDump,
  * ServerMain, cli.Repl, catalog.Maintenance): the plans `Bench` times
  * are the plans `Verify` hash-checks and `PlanDump` prints.
  *
  * Every setting comes from [[conf]], which builds no session:
  *  - `local[cores]` with one shuffle partition per core, where cores
  *    is `SPARK_GRAFT_CPUS` or, when unset, the JVM's available
  *    processors;
  *  - UTC session time zone, no UI;
  *  - 32 MB file splits: a single-file scale fixture still fans out
  *    across the cores (a 460 MB lineitem read as 4 splits left 28 of
  *    32 cores idle in the r10 agg_corr scale row), while the
  *    many-small-files tables are packed as before (docs/SCALING.md);
  *  - a 256 KB AQE coalesce floor: at Spark's 1 MB floor AQE coalesced
  *    small but expensive post-shuffle stages into one task (r16:
  *    dedup_containment's 1.7 MB posting-list shuffle, whose rows fan
  *    out into pairs, ran a 2.1 s one-task stage); shuffle size is a
  *    bad proxy for downstream cost when rows fan out;
  *  - adaptive execution only for inputs of 1 GiB or more
  *    ([[adaptiveFor]]): on a fixture that fits one advisory partition
  *    each AQE stage round trip is pure per-query floor (r17: the
  *    101-key sf0.1 fleet ran 71.6 s with AQE off against 83.5 s on,
  *    bench_r17_aqe_{on,off}.json), while large inputs keep AQE's
  *    coalescing and skew handling. With no input (the server, the
  *    REPL, maintenance) the size is unknown, so AQE stays on.
  *
  * A `spark.*` JVM system property that is already set wins over the
  * derived value, as in Spark's own `SparkConf` precedence; e.g.
  * `-Dspark.sql.adaptive.enabled=true` runs the gate under AQE. */
object GraftSession {

  /** Source bytes from which adaptive execution pays for itself. */
  private val AdaptiveMinBytes = 1L << 30

  /** A session for the main `appName`, sized to `input` (the data
    * directory the main reads, if it has one). The caller sets its own
    * log level. */
  def build(appName: String, input: Option[File] = None): SparkSession =
    conf(sys.env.get("SPARK_GRAFT_CPUS"), input)
      .foldLeft(SparkSession.builder().appName(appName)) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** The session settings for `cores` (the raw `SPARK_GRAFT_CPUS`
    * value; None means every available processor) and `input`. */
  def conf(cores: Option[String], input: Option[File]): Map[String, String] = {
    val n = cores.fold(Runtime.getRuntime.availableProcessors()) { v =>
      val parsed = v.trim.toIntOption
      require(parsed.exists(_ > 0),
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      parsed.get
    }
    Map(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> s"${32 * 1024 * 1024}",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> s"${256 * 1024}",
      "spark.sql.adaptive.enabled" ->
        input.forall(adaptiveFor(_, AdaptiveMinBytes)).toString
    ).map { case (k, v) => k -> sys.props.getOrElse(k, v) }
  }

  /** Whether adaptive execution pays for itself on the input under
    * `dir`: on when the whole tree (partitioned tables included) holds
    * at least `minBytes`, and on whenever some path cannot be read —
    * an input of unknown size is treated as a large one. */
  private[graft] def adaptiveFor(dir: File, minBytes: Long): Boolean = {
    def bytes(f: File): Option[Long] =
      if (f.isFile) Some(f.length())
      else Option(f.listFiles()).flatMap(_.foldLeft(Option(0L))((acc, c) =>
        for (a <- acc; b <- bytes(c)) yield a + b))
    bytes(dir).forall(_ >= minBytes)
  }
}
