package perfbench

import perfbench.Counters.Job

/** The per-layer metrics of a traced run. Every traced run reports the
  * whole set; a layer the workload does not reach reads 0.
  */
object Layers {
  val Families: Seq[String] =
    Seq("q", "t", "d", "e", "m", "s", "sleep", "dash", "ingest")

  val Names: Seq[(String, String)] = Seq(
    "edf.decode_ms_per_subject" -> "ms",
    "signal.extract_ms_per_subject" -> "ms",
    "ingest.extract_task_cpu_s" -> "s",
    "ingest.extract_s" -> "s",
    "ingest.extract_jobs" -> "count",
    "ingest.validate_s" -> "s",
    "ingest.validate_jobs" -> "count",
    "warehouse.load_s" -> "s",
    "warehouse.load_jobs" -> "count",
    "warehouse.files_written" -> "count",
    "warehouse.bytes_written" -> "B",
    "sleep.transform_s" -> "s",
    "sleep.transform_jobs" -> "count",
    "sleep.data_test_jobs" -> "count",
    "sleep.shuffle_bytes" -> "B",
    "sleep.spill_bytes" -> "B",
    "sleep.mart_files" -> "count",
    "api.plan_ms" -> "ms",
    "api.exec_ms" -> "ms",
    "api.jobs_per_read" -> "count",
    "api.rows_scanned_per_row_returned" -> "ratio",
    "registry.jobs" -> "count",
    "registry.tasks" -> "count",
    "registry.shuffle_bytes" -> "B",
    "registry.spill_bytes" -> "B",
    "registry.task_cpu_s" -> "s") ++
    Families.map(f => s"registry.family_s.$f" -> "s") ++ Seq(
    "spark.core_busy_ratio" -> "ratio",
    "spark.jobs_per_op" -> "count",
    "spark.failed_tasks" -> "count",
    "spark.retained_cache_mb" -> "MB")

  def complete(values: collection.Map[String, Double]): Seq[(String, Metric)] = {
    val unknown = values.keySet -- Names.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    Names.map { case (n, u) => n -> Metric(values.getOrElse(n, 0.0), u) }
  }

  /** Jobs of each operation, each job labelled with the layer component it
    * belongs to (its call site's, else the operation's layer). Also adds a
    * span per job under its operation's span.
    */
  def attribute(ctx: Ctx, jobs: Seq[Job], ops: Seq[Op]): Map[Long, Seq[(String, Job)]] = {
    val byOp = jobs.filter(j => j.op >= 0 && j.endNs > j.startNs).groupBy(_.op)
    ops.map { op =>
      val labelled = byOp.getOrElse(op.id, Nil).map { j =>
        val c = Counters.component(j.frames).getOrElse(op.layer)
        ctx.tracer.add(s"job ${j.id}", c, op.id, op.spanId, j.startNs, j.endNs)
        c -> j
      }
      op.id -> labelled
    }.toMap
  }

  def wallSeconds(jobs: Seq[Job]): Double =
    Spans.covered(jobs.map(j => (j.startNs, j.endNs)), Long.MinValue, Long.MaxValue) / 1e9

  /** Executor run time over wall time times cores, across `ops`. */
  def coreBusy(ctx: Ctx, counters: Counters, ops: Seq[Op],
      labelled: Map[Long, Seq[(String, Job)]]): Double = {
    val runMs = ops.flatMap(o => labelled.getOrElse(o.id, Nil))
      .map { case (_, j) => counters.stageCounters(j).runTimeMs }.sum
    val wallMs = ops.map(_.millis).sum
    if (wallMs <= 0) 0.0 else runMs / (wallMs * ctx.cores)
  }

  /** Storage memory the session still holds (cached blocks, broadcasts). */
  def retainedMb(ctx: Ctx): Double =
    ctx.spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / Files.MB

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
