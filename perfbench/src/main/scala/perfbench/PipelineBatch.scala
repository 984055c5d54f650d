package perfbench

import java.io.File
import java.nio.file.{Files => NioFiles}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col

import graft.api.SleepReads
import graft.edf.Edf
import graft.ingest.{Ingest, JobRunner, RecordingRef, SyntheticSource, Validation}

/** `pipeline_batch`: `JobRunner.run` over a batch of synthetic subjects whose
  * EDF pairs are written in set-up, then a closed loop of dashboard clients
  * reading the marts the batches built.
  *
  * The batch is drawn by seed from a fixed pool of recordings, so the
  * expected epochs and mart digest of any batch are sums of per-subject
  * values pinned from a run over the whole pool
  * (`src/main/resources/perfbench/pipeline_pins.tsv`). One subject per batch
  * gets a truncated PSG and must land in the error channel.
  */
object PipelineBatch {
  val PoolSize = 24
  val BatchSize = 6
  val PoolSeed = 42L
  val SetupRepeats = 5
  val MinBatches = 2
  val MinPageViews = 6
  val Clients = 2
  /** Share of `--seconds` spent on batches; the rest goes to page views. */
  val BatchShare = 0.8
  val ProbeSubjects = 3

  val Marts = Seq("sleep_metrics", "sleep_summary", "sleep_features")
  /** Columns that differ between identical loads. */
  val Volatile = Set("load_timestamp", "error_id", "occurred_at")

  final case class Pick(healthy: Seq[Int], truncated: Int)

  def pick(seed: Long): Pick = {
    val chosen = new Random(seed).shuffle((0 until PoolSize).toVector).take(BatchSize)
    Pick(chosen.tail.sorted, chosen.head)
  }

  final case class Pin(epochs: Long, digest: Digest.D)

  val PinsResource = "/perfbench/pipeline_pins.tsv"

  lazy val pins: Map[Int, Pin] = Pins.read(PinsResource).map {
    case Seq(s, e, d) => s.toInt -> Pin(e.toLong, Digest.parse(d))
    case other => sys.error(s"bad pin line: $other")
  }.toMap

  /** Writes the pool recordings of `subjects` as EDF files, in parallel;
    * the PSG of `truncated` keeps only its first 40% of bytes.
    */
  def writeCorpus(dir: File, subjects: Seq[Int], truncated: Option[Int],
      threads: Int): Seq[RecordingRef] = {
    dir.mkdirs()
    val pool = Executors.newFixedThreadPool(threads)
    try {
      subjects.map { s =>
        pool.submit(new Callable[RecordingRef] {
          def call(): RecordingRef = {
            val (psg, hyp) = SyntheticSource.recording(s, PoolSeed)
            val psgFile = new File(dir, s"subject${s}_psg.edf")
            val hypFile = new File(dir, s"subject${s}_hypno.edf")
            val bytes = if (truncated.contains(s)) psg.take(psg.length * 2 / 5) else psg
            NioFiles.write(psgFile.toPath, bytes)
            NioFiles.write(hypFile.toPath, hyp)
            RecordingRef(s, psgFile.getPath, hypFile.getPath)
          }
        })
      }.map(_.get())
    } finally pool.shutdown()
  }

  def config(wh: File): JobRunner.JobConfig =
    JobRunner.JobConfig(startingSubject = 0, endingSubject = PoolSize,
      warehouseDir = wh.getPath)

  /** Per-subject digests of the three marts. */
  def martDigests(ctx: Ctx, wh: File): Map[Int, Digest.D] =
    Marts.flatMap { m =>
      val df = ctx.spark.read.parquet(new File(wh, m).getPath)
      Digest.byKey(m, df.columns.toSeq, df.collect().toSeq, "subject_id", Volatile).toSeq
    }.groupMapReduce(_._1.asInstanceOf[Int])(_._2)(_ + _)

  def failedSubjects(ctx: Ctx, wh: File): Set[Int] =
    ctx.spark.read.parquet(new File(wh, "ingestion_errors").getPath)
      .filter(col("error_type") =!= Ingest.SalvageWarningType)
      .select("subject_id").collect().map(_.getInt(0)).toSet

  /** Checks a batch's outputs; returns the mismatches. */
  def check(ctx: Ctx, wh: File, report: JobRunner.JobReport, p: Pick): Seq[String] = {
    val expectEpochs = p.healthy.map(pins(_).epochs).sum
    val expectDigest = p.healthy.map(pins(_).digest).foldLeft(Digest.Zero)(_ + _)
    val digest = martDigests(ctx, wh).values.foldLeft(Digest.Zero)(_ + _)
    val failed = failedSubjects(ctx, wh)
    Seq(
      Option.when(report.epochsLoaded != expectEpochs)(
        s"epochs loaded ${report.epochsLoaded}, expected $expectEpochs"),
      Option.when(failed != Set(p.truncated))(
        s"error-channel subjects $failed, expected ${Set(p.truncated)}"),
      Option.when(digest != expectDigest)(
        s"mart digest $digest, expected $expectDigest")).flatten
  }

  /** Dashboard rows derived from full scans of the marts. */
  final class Expected(ctx: Ctx, wh: File, subjects: Seq[Int]) {
    private def scan(m: String) = ctx.spark.read.parquet(new File(wh, m).getPath)
    private val summaryDf = scan("sleep_summary")
    private val summary: Map[Int, Row] = summaryDf.collect()
      .map(r => r.getAs[Int]("subject_id") -> r).toMap
    private val metrics: Map[Int, Seq[Row]] = scan("sleep_metrics")
      .select("subject_id", "epoch_idx", "sleep_stage", "is_in_sleep_period")
      .collect().toSeq.groupBy(_.getInt(0))
    private val stageOrder = Seq("W", "REM", "N1", "N2", "N3")
    private val bands = Seq(
      ("Delta", "0.5-4 Hz", "avg_delta_power"), ("Theta", "4-8 Hz", "avg_theta_power"),
      ("Alpha", "8-12 Hz", "avg_alpha_power"), ("Sigma", "12-16 Hz", "avg_sigma_power"),
      ("Beta", "16-30 Hz", "avg_beta_power"))

    val subjectList: Seq[Seq[Any]] = subjects.sorted.map(s => Seq(s))

    def summaryFor(s: Int): Seq[Seq[Any]] = summary.get(s).map(_.toSeq).toSeq

    def hypnogramFor(s: Int): Seq[Seq[Any]] = {
      val inPeriod = metrics.getOrElse(s, Nil).filter(_.getBoolean(3)).sortBy(_.getInt(1))
      val onset = if (inPeriod.isEmpty) 0 else inPeriod.map(_.getInt(1)).min
      inPeriod.map { r =>
        val stage = r.getString(2)
        val pos = stageOrder.indexOf(stage)
        Seq((r.getInt(1) - onset) * 0.5, if (pos < 0) null else pos, stage)
      }
    }

    def bandPowersFor(s: Int): Seq[Seq[Any]] = summary.get(s).toSeq.flatMap { r =>
      bands.map { case (b, hz, c) => Seq(b, hz, r.getAs[Any](c)) }
    }
  }

  def same(got: Seq[Row], want: Seq[Seq[Any]]): Boolean =
    got.map(r => Digest.canonical(r.toSeq)) == want.map(Digest.canonical)

  private object PlanScan extends AdaptiveSparkPlanHelper {
    def rowsScanned(df: DataFrame): Long =
      collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
  }

  final case class ReadTrace(planMs: Double, rowsScanned: Long, rowsReturned: Long)

  def run(ctx: Ctx): Outcome = {
    val p = pick(ctx.seed)
    val corpus = new File(ctx.work, "corpus")
    val wh = new File(ctx.work, "warehouse")
    val all = p.healthy :+ p.truncated

    // Set-up: write the corpus, several times, keep the last.
    val setup = ctx.phase("setup")(ctx.repeatedSetup(SetupRepeats) {
      Files.delete(corpus)
      writeCorpus(corpus, all, Some(p.truncated), ctx.cores)
    })
    val corpusBytes = Files.bytes(corpus)
    val orderedRefs = setup.result.sortBy(_.subjectId)

    // Per batch: (files, bytes) of epochs and of errors, and mart files.
    val outputs = collection.mutable.ArrayBuffer.empty[((Long, Long), (Long, Long))]
    val martFiles = collection.mutable.ArrayBuffer.empty[Long]
    def batch(kind: String, batchPick: Pick): Unit = {
      Files.delete(wh)
      ctx.settle()
      val batchRefs = orderedRefs.filter(r =>
        r.subjectId == batchPick.truncated || batchPick.healthy.contains(r.subjectId))
      val outcome = scala.util.Try(ctx.op(kind, "JobRunner.run", "ingest") {
        JobRunner.run(ctx.spark, config(wh), batchRefs)
      })
      val problems = outcome match {
        case scala.util.Success((report, _)) => check(ctx, wh, report, batchPick)
        case scala.util.Failure(e) => Seq(s"JobRunner.run threw $e")
      }
      ctx.tally.record(problems.isEmpty, s"$kind: ${problems.mkString("; ")}")
      if (kind == "batch") {
        outputs += Files.parquet(new File(wh, "sleep_epochs")) ->
          Files.parquet(new File(wh, "ingestion_errors"))
        martFiles += Marts.map(m => Files.parquet(new File(wh, m))._1).sum
      }
    }

    // Untimed warm-up batch of one healthy and the truncated subject: JIT,
    // codegen and file-system caches.
    ctx.phase("warmup")(batch("warmup", Pick(p.healthy.take(1), p.truncated)))

    val batchStart = System.nanoTime()
    var batches = 0
    while (batches < MinBatches ||
        Budget.fits(batchStart, batches, ctx.seconds * BatchShare)) {
      ctx.phase("batches")(batch("batch", p))
      batches += 1
    }

    // Dashboard: a closed loop of clients over the last batch's marts. A
    // page view is four reads; its latency is the sum of theirs.
    val expected = ctx.phase("expected")(new Expected(ctx, wh, p.healthy))
    ctx.settle()
    val reads = new SleepReads(ctx.spark, wh.getPath)
    val pages = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val readTraces = new java.util.concurrent.ConcurrentHashMap[Long, ReadTrace]()
    def read(kind: String, name: String, want: => Seq[Seq[Any]])(df: => DataFrame): Double = {
      val res = scala.util.Try(ctx.op(kind, name, "api") {
        val d = df
        (d, d.collect().toSeq)
      })
      val ok = res match {
        case scala.util.Success(((d, rows), o)) =>
          if (ctx.traced) readTraces.put(o.id, ReadTrace(
            d.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble,
            PlanScan.rowsScanned(d), rows.size.toLong))
          same(rows, want)
        case scala.util.Failure(_) => false
      }
      ctx.tally.record(ok, s"read $name: ${res.failed.toOption.getOrElse("wrong rows")}")
      res.map(_._2.millis).getOrElse(0.0)
    }
    def pageView(kind: String, s: Int): Double = Seq(
      read(kind, "SleepReads.subjects", expected.subjectList)(reads.subjects()),
      read(kind, "SleepReads.summaryFor", expected.summaryFor(s))(reads.summaryFor(s)),
      read(kind, "SleepReads.hypnogramFor", expected.hypnogramFor(s))(reads.hypnogramFor(s)),
      read(kind, "SleepReads.bandPowersFor", expected.bandPowersFor(s))(reads.bandPowersFor(s))
    ).sum
    // Each client's first page view is untimed (it compiles the read
    // plans); the timed phase starts when every client is past it.
    var readStart = 0L
    var readCpu0 = 0L
    val start = new java.util.concurrent.CyclicBarrier(Clients, () => {
      readStart = System.nanoTime()
      readCpu0 = Cpu.usage().programNs
    })
    val pool = Executors.newFixedThreadPool(Clients)
    try {
      (0 until Clients).map { c =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val rng = new Random(ctx.seed * 1000003L + c)
            def subject() = p.healthy(rng.nextInt(p.healthy.size))
            pageView("read.warmup", subject())
            start.await()
            val deadline = readStart + (ctx.seconds * (1 - BatchShare) * 1e9).toLong
            while (pages.size < MinPageViews || System.nanoTime() < deadline)
              pages.add(pageView("read", subject()))
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val readWall = (System.nanoTime() - readStart) / 1e9
    val readCpuS = (Cpu.usage().programNs - readCpu0) / 1e9
    ctx.addPhase("page_views", readWall)

    val retainedMb = Layers.retainedMb(ctx)
    val diskMb = Files.bytes(wh) / Files.MB

    val probes = Option.when(ctx.traced)(ctx.phase("probes")(
      probe(ctx, orderedRefs.filter(r => p.healthy.contains(r.subjectId)), wh)))

    val batchOps = ctx.ops.filter(_.kind == "batch")
    val readOps = ctx.ops.filter(_.kind == "read")
    val batchS = Stats.summarize(batchOps.map(_.seconds))
    val batchCpuS = Stats.summarize(batchOps.map(_.cpuSeconds))
    val batchJitCpuS = Stats.summarize(batchOps.map(_.cpu.compilerNs / 1e9))
    val batchGcS = Stats.summarize(batchOps.map(_.cpu.gcNs / 1e9))
    val pageMs = Stats.summarize(pages.asScala)
    val readMs = readOps.groupBy(_.name).map { case (n, os) =>
      n -> Stats.summarize(os.map(_.millis)).json }
    val epochs = p.healthy.map(pins(_).epochs).sum

    val perLayer = ctx.counters.map { counters =>
      import Counters._
      val lab = Layers.attribute(ctx, counters.snapshot(), ctx.ops)
      def jobsOf(o: Op, comps: String*) =
        lab.getOrElse(o.id, Nil).filter(x => comps.contains(x._1)).map(_._2)
      def perBatch(f: Op => Double) = Layers.median(batchOps.map(f))
      def cs(js: Seq[Job]) = js.map(counters.stageCounters).foldLeft(StageCounters.Zero)(_ + _)
      val validateOps = ctx.ops.filter(_.kind == "probe.validate")
      val traces = readOps.flatMap(o => Option(readTraces.get(o.id)).map(o -> _))
      val (decodeMs, extractMs) = probes.get
      collection.mutable.LinkedHashMap[String, Double](
        "edf.decode_ms_per_subject" -> decodeMs,
        "signal.extract_ms_per_subject" -> extractMs,
        "ingest.extract_task_cpu_s" -> perBatch(o => cs(jobsOf(o, Extract)).cpuNs / 1e9),
        "ingest.extract_s" -> perBatch(o => Layers.wallSeconds(jobsOf(o, Extract))),
        "ingest.extract_jobs" -> perBatch(o => jobsOf(o, Extract).size),
        "ingest.validate_s" -> Layers.median(validateOps.map(_.seconds)),
        "ingest.validate_jobs" -> Layers.median(validateOps.map(o => lab.getOrElse(o.id, Nil).size.toDouble)),
        "warehouse.load_s" -> perBatch(o => Layers.wallSeconds(jobsOf(o, Load))),
        "warehouse.load_jobs" -> perBatch(o => jobsOf(o, Load).size),
        "warehouse.files_written" -> Layers.median(outputs.map(x => (x._1._1 + x._2._1).toDouble).toSeq),
        "warehouse.bytes_written" -> Layers.median(outputs.map(x => (x._1._2 + x._2._2).toDouble).toSeq),
        "sleep.transform_s" -> perBatch(o => Layers.wallSeconds(jobsOf(o, Transform, DataTest))),
        "sleep.transform_jobs" -> perBatch(o => jobsOf(o, Transform, DataTest).size),
        "sleep.data_test_jobs" -> perBatch(o => jobsOf(o, DataTest).size),
        "sleep.shuffle_bytes" -> perBatch(o => cs(jobsOf(o, Transform, DataTest)).shuffleBytes),
        "sleep.spill_bytes" -> perBatch(o => cs(jobsOf(o, Transform, DataTest)).spillBytes),
        "sleep.mart_files" -> Layers.median(martFiles.map(_.toDouble).toSeq),
        "api.plan_ms" -> Layers.median(traces.map(_._2.planMs)),
        "api.exec_ms" -> Layers.median(traces.map { case (o, t) => o.millis - t.planMs }),
        "api.jobs_per_read" -> (if (readOps.isEmpty) 0.0 else
          readOps.map(o => lab.getOrElse(o.id, Nil).size).sum.toDouble / readOps.size),
        "api.rows_scanned_per_row_returned" -> {
          val returned = traces.map(_._2.rowsReturned).sum
          if (returned == 0) 0.0 else traces.map(_._2.rowsScanned).sum.toDouble / returned
        },
        "spark.core_busy_ratio" -> Layers.coreBusy(ctx, counters, batchOps, lab),
        "spark.jobs_per_op" -> perBatch(o => lab.getOrElse(o.id, Nil).size),
        "spark.failed_tasks" -> counters.failedTasks.toDouble,
        "spark.retained_cache_mb" -> retainedMb)
    }

    Outcome(
      endToEnd = Seq(
        "setup_s" -> Metric(setup.seconds, "s"),
        "batch_cpu_s" -> Metric(batchCpuS.p50, "s"),
        "disk_mb" -> Metric(diskMb, "MB")),
      perLayer = perLayer.map(Layers.complete).getOrElse(Nil),
      details = Seq(
        "batch_subjects" -> p.healthy, "truncated_subject" -> p.truncated,
        "epochs_per_batch" -> epochs,
        "epochs_per_s" -> epochs / batchS.p50,
        "corpus_mb" -> corpusBytes / Files.MB,
        "batch_s" -> batchS.json,
        "batch_cpu_s" -> batchCpuS.json,
        "batch_jit_cpu_s" -> batchJitCpuS.json,
        "batch_gc_s" -> batchGcS.json,
        "page_view_ms" -> pageMs.json,
        "page_view_cpu_ms" -> readCpuS * 1000 / pageMs.n,
        "page_views_per_s" -> pageMs.n / readWall,
        "read_ms" -> readMs,
        "retained_cache_mb" -> retainedMb) ++ setup.details)
  }

  /** Direct calls into the layers `JobRunner.run` hides: EDF decode and the
    * signal kernels on a seeded sample of corpus files (driver-side, no
    * Spark), and contract validation over the loaded epochs. Returns the
    * median decode and extract ms per subject.
    */
  private def probe(ctx: Ctx, healthy: Seq[RecordingRef], wh: File): (Double, Double) = {
    val sample = new Random(ctx.seed).shuffle(healthy).take(ProbeSubjects)
    val decode = collection.mutable.ArrayBuffer.empty[Double]
    val extract = collection.mutable.ArrayBuffer.empty[Double]
    (1 to 2).foreach { _ =>
      sample.foreach { r =>
        val psgBytes = NioFiles.readAllBytes(new File(r.psgPath).toPath)
        val hypBytes = NioFiles.readAllBytes(new File(r.hypnoPath).toPath)
        val ((psg, hyp), d) = ctx.op("probe.edf", "Ingest.parsePsgPicked+Edf.parse", "edf") {
          (Ingest.parsePsgPicked(psgBytes), Edf.parse(hypBytes))
        }
        val (res, e) = ctx.op("probe.signal", "Ingest.extractRecording", "signal") {
          Ingest.extractRecording(r.subjectId, psg, hyp)
        }
        ctx.tally.record(res.rows.size == pins(r.subjectId).epochs,
          s"probe: subject ${r.subjectId} extracted ${res.rows.size} epochs")
        decode += d.millis
        extract += e.millis
      }
    }
    ctx.settle()
    val epochs = ctx.spark.read.parquet(new File(wh, "sleep_epochs").getPath)
    val (n, _) = ctx.op("probe.validate", "Validation.validateBySubject", "ingest") {
      val (valid, errors) = Validation.validateBySubject(epochs)
      valid.write.format("noop").mode("overwrite").save()
      errors.count()
    }
    ctx.tally.record(n == 0, s"probe: validation rejected $n subjects")
    (Stats.median(decode), Stats.median(extract))
  }
}
