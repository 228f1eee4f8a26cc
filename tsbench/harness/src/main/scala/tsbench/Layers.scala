package tsbench

/** The per-layer metrics of a traced run. Every workload prints every
  * name; a layer a workload does not reach reads 0. */
object Layers {

  /** (name, unit) of every per-layer metric, in print order. */
  val Names: Seq[(String, String)] = Seq(
    "protocol.decode_us" -> "us", "protocol.encode_ms" -> "ms", "protocol.bytes_out" -> "B",
    "tsql.parse_us" -> "us",
    "engine.construct_ms" -> "ms", "engine.drain_ms" -> "ms", "engine.driver_jobs_per_stmt" -> "count",
  ) ++ Gen.Classes.map(c => s"engine.${c}_p50_ms" -> "ms") ++ Seq(
    "catalog.read_ms" -> "ms", "catalog.files_per_series" -> "count", "catalog.insert_ms" -> "ms",
    "catalog.jobs_per_insert" -> "count", "catalog.files_per_insert" -> "count",
    "catalog.bytes_per_user_byte" -> "ratio",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.codegen_classes" -> "count", "spark.codegen_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_delay_ms" -> "ms", "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.utilization" -> "ratio",
    "fleet.construct_ms" -> "ms", "fleet.exec_ms" -> "ms", "fleet.driver_jobs" -> "count",
    "fleet.cold_penalty_s" -> "s",
    "latency.p90_ms" -> "ms",
  ) ++ Gen.Classes.map(c => s"server.${c}_unaccounted_ms" -> "ms") ++ Seq(
    "jvm.gc_ms" -> "ms", "jvm.classes_loaded" -> "count",
    "trace.ops_per_s" -> "1/s",
  )

  /** `measured` in print order, with 0 for every name it lacks. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    require(byName.keySet.subsetOf(Names.map(_._1).toSet),
      s"unlisted layer metrics: ${byName.keySet -- Names.map(_._1)}")
    Names.map { case (name, unit) => byName.getOrElse(name, Metric(name, 0.0, unit)) }
  }

  /** Spark counters averaged per op (`ops` traced ops), plus codegen per
    * op over all `allOps` of the region and core utilization over `wall`. */
  def spark(ctx: Ctx, perOp: Seq[SparkCounts], ops: Int, before: Counters.Snap, after: Counters.Snap,
      allOps: Int, allTaskRunMs: Long, wall: Double): Seq[Metric] = {
    val n = math.max(ops, 1).toDouble
    def avg(f: SparkCounts => Double) = perOp.map(f).sum / n
    val compiles = after.codegenCount - before.codegenCount
    // the compile-time histogram keeps every sample up to its 1028-sample
    // reservoir; past that its sum is scaled from the mean
    val kept = math.min(after.codegenCount, 1028L).max(1L)
    val codegenMs =
      if (after.codegenCount <= 1028) after.codegenMsSum - before.codegenMsSum
      else compiles * after.codegenMsSum / kept
    Seq(
      Metric("spark.analysis_ms", avg(_.analysisMs.toDouble), "ms", ops),
      Metric("spark.optimization_ms", avg(_.optimizationMs.toDouble), "ms", ops),
      Metric("spark.planning_ms", avg(_.planningMs.toDouble), "ms", ops),
      Metric("spark.codegen_classes", compiles.toDouble / math.max(allOps, 1), "count", allOps),
      Metric("spark.codegen_ms", codegenMs / math.max(allOps, 1), "ms", allOps),
      Metric("spark.jobs", avg(_.jobs.toDouble), "count", ops),
      Metric("spark.stages", avg(_.stages.toDouble), "count", ops),
      Metric("spark.tasks", avg(_.tasks.toDouble), "count", ops),
      Metric("spark.sched_delay_ms",
        perOp.map(_.schedDelayMs).sum.toDouble / math.max(perOp.map(_.tasks).sum, 1), "ms",
        perOp.map(_.tasks).sum),
      Metric("spark.task_run_ms", avg(_.taskRunMs.toDouble), "ms", ops),
      Metric("spark.task_cpu_ms", avg(_.taskCpuNs / 1e6), "ms", ops),
      Metric("spark.gc_ms", avg(_.gcMs.toDouble), "ms", ops),
      Metric("spark.shuffle_read_bytes", avg(_.shuffleReadBytes.toDouble), "B", ops),
      Metric("spark.shuffle_write_bytes", avg(_.shuffleWriteBytes.toDouble), "B", ops),
      Metric("spark.spill_bytes", avg(_.spillBytes.toDouble), "B", ops),
      Metric("spark.utilization", allTaskRunMs / (ctx.cores * wall * 1000.0), "ratio"),
    )
  }

  def jvm(before: Counters.Snap, after: Counters.Snap, opsPerS: Double): Seq[Metric] = Seq(
    Metric("jvm.gc_ms", (after.gcMs - before.gcMs).toDouble, "ms"),
    Metric("jvm.classes_loaded", after.classes.toDouble, "count"),
    Metric("trace.ops_per_s", opsPerS, "1/s"),
  )
}
