package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => NioFiles}

import scala.collection.immutable.ListMap
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point; `perfbench/run.py` builds and starts it.
  *
  * {{{
  * Main --workload <pipeline_batch|registry_sweep> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --out <dir>
  * Main --pin <resource dir> --work <dir>
  * }}}
  *
  * Prints one JSON object as the last line of stdout: `correct`,
  * `attempted`, `failed` and `metrics` (the end-to-end metrics, or with
  * `--trace 1` the per-layer ones). Writes the full result, with the run's
  * environment, to `<out>/results/`, and a traced run's spans and job
  * counters to `<out>/traces/`. Exits 1 when any output was wrong.
  */
object Main {
  /** Writes the result line and files; handles Scala maps, sequences and
    * options. Maps are [[ListMap]]s, so keys keep their order.
    */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "pipeline_batch" -> PipelineBatch.run,
    "registry_sweep" -> RegistrySweep.run)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = args.getOrElse(k, usage(s"missing --$k"))
    val work = new File(need("work"))
    val code =
      if (args.contains("pin")) { pin(new File(args("pin")), work); 0 }
      else run(need("workload"), Try(need("seed").toLong).getOrElse(usage("bad --seed")),
        Try(need("seconds").toInt).getOrElse(usage("bad --seconds")),
        need("trace") == "1", work, new File(need("out")))
    System.out.flush()
    sys.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: Main --workload <name> --seed <n> --seconds <s> " +
      "--trace <0|1> --work <dir> --out <dir> | --pin <dir> --work <dir>")
    sys.exit(2)
  }

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(s => Try(s.toInt).toOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(work: File): SparkSession = {
    val spark = graft.Sessions.localBuilder(cores.toString)
      .appName("perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-catalog").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def environment(spark: SparkSession): Seq[(String, Any)] = Seq(
    "cores" -> cores,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "spark_driver_mem" -> sys.env.getOrElse("SPARK_DRIVER_MEM", ""),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "java_vm" -> System.getProperty("java.vm.name"),
    "scala_version" -> scala.util.Properties.versionNumberString,
    "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}")

  def run(workload: String, seed: Long, seconds: Int, traced: Boolean,
      work: File, out: File): Int = {
    val body = Workloads.getOrElse(workload,
      usage(s"unknown workload '$workload' (${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    work.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(traced)
    val counters = if (traced) Some(new Counters(spark.sparkContext)) else None
    val ctx = new Ctx(spark, seed, seconds, work, cores, tracer, counters)
    val env = environment(spark)
    val started = System.nanoTime()
    val threads0 = Cpu.threads()
    val outcome = Try(body(ctx))
    val threadCpuS = Cpu.busiest(threads0, Cpu.threads())
    val heapCommittedMb = Runtime.getRuntime.totalMemory() / (1024 * 1024)
    val jobs = counters.map(_.snapshot()).getOrElse(Nil)
    spark.stop()
    val wallS = (System.nanoTime() - started) / 1e9

    outcome.failed.foreach { e =>
      System.err.println(s"[perfbench] $workload failed: $e")
      e.printStackTrace()
    }
    val tally = ctx.tally
    val correct = outcome.isSuccess && tally.failed == 0 && tally.attempted > 0
    if (!correct) tally.errors.foreach(e => System.err.println(s"[perfbench] mismatch: $e"))

    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    val results = new File(out, "results")
    val metrics = outcome.toOption.map(o => if (traced) o.perLayer else o.endToEnd).getOrElse(Nil)
    val overhead = outcome.toOption.flatMap(o =>
      tracingOverhead(results, workload, seed, traced, o.endToEnd))
    val result = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "correct" -> correct,
      "attempted" -> tally.attempted, "failed" -> tally.failed,
      "failed_ops_ratio" -> tally.failedRatio, "errors" -> tally.errors,
      "run_wall_s" -> wallS, "session_s" -> sessionS,
      "environment" -> ListMap(env: _*),
      "end_to_end" -> metricsJson(outcome.toOption.map(_.endToEnd).getOrElse(Nil)),
      "per_layer" -> metricsJson(outcome.toOption.map(_.perLayer).getOrElse(Nil)),
      "phase_s" -> ListMap(ctx.phases: _*),
      "thread_cpu_s" -> ListMap(threadCpuS: _*),
      "heap_committed_mb" -> heapCommittedMb,
      "details" -> ListMap(outcome.toOption.map(_.details).getOrElse(Nil): _*),
      "tracing_overhead" -> overhead)
    writeJson(new File(results, s"$tag.json"), result)
    if (traced) {
      val spans = tracer.spans
      val self = Spans.selfTimes(spans)
      writeJson(new File(new File(out, "traces"), s"$tag.json"), ListMap(
        "workload" -> workload, "seed" -> seed,
        "environment" -> ListMap(env: _*),
        "tracing_overhead" -> overhead,
        "per_layer" -> metricsJson(outcome.toOption.map(_.perLayer).getOrElse(Nil)),
        "spans" -> spans.map(s => s.json ++ Map("self_ns" -> self(s.id))),
        "jobs" -> jobs.map { j =>
          val c = counters.get.stageCounters(j)
          ListMap("id" -> j.id, "op" -> j.op, "start_ns" -> j.startNs,
            "end_ns" -> j.endNs, "succeeded" -> j.succeeded,
            "component" -> Counters.component(j.frames),
            "call_site" -> j.frames.headOption, "tasks" -> c.tasks,
            "executor_run_ms" -> c.runTimeMs, "executor_cpu_ns" -> c.cpuNs,
            "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes)
        }))
    }

    println(json.writeValueAsString(ListMap(
      "correct" -> correct,
      "attempted" -> math.max(1L, tally.attempted),
      "failed" -> (if (tally.attempted == 0) 1L else tally.failed),
      "metrics" -> metricsJson(metrics))))
    if (correct) 0 else 1
  }

  private def metricsJson(ms: Seq[(String, Metric)]) =
    ListMap(ms.map { case (n, m) => n -> ListMap("value" -> m.value, "unit" -> m.unit) }: _*)

  private def writeJson(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    NioFiles.write(f.toPath, (json.writeValueAsString(v) + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Relative difference, traced over untraced, of each end-to-end metric
    * of this run and the run of the same workload and seed with the other
    * trace setting, when that run's result file is present.
    */
  def tracingOverhead(results: File, workload: String, seed: Long, traced: Boolean,
      mine: Seq[(String, Metric)]): Option[ListMap[String, Any]] = {
    val other = new File(results, s"$workload-seed$seed-trace${if (traced) 0 else 1}.json")
    Try {
      val node = json.readTree(other)
      val theirs = node.get("end_to_end")
      val pairs = mine.flatMap { case (n, m) =>
        Option(theirs.get(n)).map(_.get("value").asDouble()).map { t =>
          val (tr, un) = if (traced) (m.value, t) else (t, m.value)
          n -> (if (un == 0) 0.0 else tr / un - 1)
        }
      }
      ListMap(pairs: _*)
    }.toOption.filter(_ => other.exists())
  }

  /** Regenerates the pinned outputs under `dir` (the resources directory). */
  def pin(dir: File, work: File): Unit = {
    work.mkdirs()
    val spark = session(work)
    val ctx = new Ctx(spark, 0L, 0, work, cores, new Tracer(false), None)
    try {
      val corpus = new File(work, "corpus")
      val wh = new File(work, "warehouse")
      val pool = 0 until PipelineBatch.PoolSize
      val refs = PipelineBatch.writeCorpus(corpus, pool, None, cores)
      graft.ingest.JobRunner.run(spark, PipelineBatch.config(wh), refs)
      val epochs = spark.read.parquet(new File(wh, "sleep_epochs").getPath)
        .groupBy("subject_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val digests = PipelineBatch.martDigests(ctx, wh)
      Pins.write(new File(dir, "perfbench/pipeline_pins.tsv"),
        "Per pool subject: epochs loaded and order-independent digest of its\n" +
          "rows in the three marts. Regenerate with `run.py --pin`.",
        pool.map(s => Seq(s, epochs(s), digests(s))))

      val tables = new File(work, "tables")
      RegistrySweep.redirectStage(new File(work, "stage"))
      TableGen.write(spark, tables.getPath)
      Pins.write(new File(dir, "perfbench/registry_pins.tsv"),
        "Per registry query in the sweep: order-independent digest of its\n" +
          "output on the generated tables. Regenerate with `run.py --pin`.",
        RegistrySweep.Queries.map(q => Seq(q, RegistrySweep.digestOf(ctx, tables, q))))
    } finally spark.stop()
  }
}
