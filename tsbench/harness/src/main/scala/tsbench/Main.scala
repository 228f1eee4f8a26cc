package tsbench

import java.io.File

/** Runs one workload and prints its metrics, each with unit and sample
  * count, then one JSON result line. Exits 1 when any answer was wrong.
  *
  * {{{
  * tsbench.Main --workload tsql_ingest|fleet --seed N --seconds S
  *   --trace 0|1 --work DIR --trace-dir DIR --bench-dir DIR --sf-dir DIR
  * }}}
  * `tsbench/run.py` builds the classpath and passes every flag. */
object Main {
  val Workloads = Seq("tsql_ingest", "fleet")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val ctx = Ctx(
      workload = opt("workload"),
      seed = opt("seed").toLong,
      seconds = opt("seconds").toInt,
      trace = opt("trace") == "1",
      cores = Runtime.getRuntime.availableProcessors(),
      work = new File(opt("work")),
      traceDir = new File(opt("trace-dir")),
      benchDir = new File(opt("bench-dir")),
      sfDir = opt("sf-dir"))
    require(Workloads.contains(ctx.workload), s"unknown workload ${ctx.workload}; one of ${Workloads.mkString(", ")}")

    val outcome = if (ctx.workload == "fleet") FleetBench.run(ctx) else IngestBench.run(ctx)
    val metrics = if (ctx.trace) Layers.complete(outcome.metrics) else outcome.metrics
    val failed = outcome.failures.size
    val correct = failed == 0

    def show(m: Metric) = println(f"${m.name}%-34s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}")
    println(s"# ${ctx.workload} seed=${ctx.seed} seconds=${ctx.seconds} trace=${if (ctx.trace) 1 else 0} cores=${ctx.cores}")
    (metrics ++ outcome.extra).foreach(show)
    println(s"failed/attempted ${failed}/${outcome.attempted}")
    outcome.failures.take(20).foreach(f => println(s"FAILED $f"))

    if (ctx.trace) {
      ctx.traceDir.mkdirs()
      val stem = s"${ctx.workload}-seed${ctx.seed}"
      val layerJson = Json.obj(metrics.map(m => m.name -> Json.obj(Seq(
        "value" -> Json.num(m.value), "unit" -> Json.str(m.unit), "n" -> m.n.toString))))
      java.nio.file.Files.write(new File(ctx.traceDir, s"$stem.layers.json").toPath,
        (layerJson + "\n").getBytes("UTF-8"))
      outcome.spans.foreach(_.write(new File(ctx.traceDir, s"$stem.spans.jsonl").toPath))
      println(s"# per-layer metrics: ${new File(ctx.traceDir, s"$stem.layers.json")}")
      println(s"# spans: ${new File(ctx.traceDir, s"$stem.spans.jsonl")}")
    }
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map(m => m.name -> Json.obj(Seq(
        "value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
