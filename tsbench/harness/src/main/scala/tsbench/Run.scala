package tsbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One metric as measured, with the number of samples behind it (0 for
  * a single reading). */
final case class Metric(name: String, value: Double, unit: String, n: Int = 0)

/** What a run reports. `metrics` go into the result line; `extra` are
  * printed for people only; a traced run also has its spans. */
final case class Outcome(attempted: Long, failures: Seq[String], metrics: Seq[Metric],
    extra: Seq[Metric], spans: Option[Tracer])

/** Settings of one run, from the command line. */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: File, traceDir: File, benchDir: File, sfDir: String) {
  /** Process start, so the first set-up counts JVM and Spark start too. */
  val processStartNs: Long = System.nanoTime() -
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
  /** The machine's CPU ticks when the run began. */
  val hostStart: Option[HostTicks] = HostTicks.now()
}

/** The two session shapes the benchmark times, each built the way the
  * program builds it for real use. */
object Sessions {
  private def base(ctx: Ctx, app: String) = SparkSession.builder()
    .master(s"local[${ctx.cores}]")
    .appName(app)
    .config("spark.sql.shuffle.partitions", ctx.cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // keep Spark's scratch space inside the run's own directory
    .config("spark.local.dir", new File(ctx.work, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(ctx.work, "warehouse").getPath)

  /** As graft.server.ServerMain builds it, with the core count explicit. */
  def server(ctx: Ctx): SparkSession = {
    val spark = base(ctx, "graft-server").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** As graft.Bench builds it, with the core count explicit instead of
    * Bench's default of 32: adaptive execution only for inputs of 1 GiB
    * or more, 32 MB file splits and a 256 KB coalesce floor. */
  def fleet(ctx: Ctx): SparkSession = {
    val srcBytes = Option(new File(ctx.sfDir).listFiles()).map(_.map { f =>
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.filter(_.isFile).map(_.length()).sum).getOrElse(0L)
    }.sum).getOrElse(Long.MaxValue)
    val spark = base(ctx, "graft-bench")
      .config("spark.sql.adaptive.enabled", (srcBytes >= (1L << 30)).toString)
      .config("spark.sql.files.maxPartitionBytes", s"${32 * 1024 * 1024}")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", s"${256 * 1024}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Run {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** A wall time, and the same time less the share of the machine's CPU
    * time the hypervisor stole while it was measured: the time it would
    * have taken on CPUs nobody else wanted. The harness reports the
    * second, so that runs of the same code agree on a shared host. */
  final case class Took(wallS: Double, unstolenS: Double)

  object Took {
    def between(wallS: Double, from: Option[HostTicks], to: Option[HostTicks]): Took =
      Took(wallS, wallS * (1 - HostTicks.stolenShare(from, to)))

    def of(body: => Unit): Took = {
      val (h, t) = (HostTicks.now(), System.nanoTime())
      body
      between(secondsSince(t), h, HostTicks.now())
    }
  }

  /** The first set-up: everything since the process started. */
  def firstSetup(ctx: Ctx): Took =
    Took.between(secondsSince(ctx.processStartNs), ctx.hostStart, HostTicks.now())

  /** Set up again after the measured region, twice, each time from a
    * stopped session. Returns `setup_s`, the median of the three set-ups,
    * and the median of their wall times. */
  def setupMedian(first: Took, again: () => Took): (Metric, Metric) = {
    val all = Seq(first, again(), again())
    (Metric("setup_s", Stats.median(all.map(_.unstolenS)), "s", all.size),
      Metric("setup_wall_s", Stats.median(all.map(_.wallS)), "s", all.size))
  }
}
