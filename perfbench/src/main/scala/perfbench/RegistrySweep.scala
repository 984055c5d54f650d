package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.util.{Random, Try}

/** `registry_sweep`: a fixed cut of the query registry, one query from
  * each of the relational, text, embedding and streaming families, over
  * tables generated in set-up. The cut is small because every run of the
  * benchmark pays the registry's cold start again. One untimed pass checks
  * every output against a pinned digest
  * (`src/main/resources/perfbench/registry_pins.tsv`); then timed passes
  * materialise each result through the `noop` sink, in a seeded order.
  * The cached data is dropped before each query and garbage collected
  * before each pass, outside the timer.
  */
object RegistrySweep {
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "t2_token_stats", "e1_knn_brute",
    "e7_quantized_ann", "s1_stream_windows")
  val SetupRepeats = 5
  val MinPasses = 3

  def family(query: String): String =
    query.takeWhile(_ != '_').replaceAll("[0-9]+$", "")

  val PinsResource = "/perfbench/registry_pins.tsv"

  lazy val pins: Map[String, Digest.D] = Pins.read(PinsResource).map {
    case Seq(q, d) => q -> Digest.parse(d)
    case other => sys.error(s"bad pin line: $other")
  }.toMap

  /** `graft.Stage` stages intermediates under a fixed scratch root, a
    * static final field. Point it into the run's work directory before any
    * query runs, so the sweep writes nowhere else; a static final field can
    * only be rewritten through `Unsafe`.
    */
  def redirectStage(dir: File): Unit = {
    val field = Class.forName("graft.Stage$").getDeclaredField("Root")
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    val unsafe = f.get(null).asInstanceOf[sun.misc.Unsafe]
    unsafe.putObject(unsafe.staticFieldBase(field), unsafe.staticFieldOffset(field),
      dir.getPath)
    require(graft.Stage.Root == dir.getPath, "stage root not redirected")
  }

  def digestOf(ctx: Ctx, tables: File, query: String): Digest.D =
    Digest.ofFrame(query, graft.Registry.byName(query).run(ctx.spark, tables.getPath))

  def run(ctx: Ctx): Outcome = {
    val tables = new File(ctx.work, "tables")
    val stage = new File(ctx.work, "stage")
    redirectStage(stage)

    val setup = ctx.phase("setup")(ctx.repeatedSetup(SetupRepeats) {
      Files.delete(tables)
      TableGen.write(ctx.spark, tables.getPath)
    })

    // Untimed pass: warms every query and checks its output.
    ctx.phase("warmup")(Queries.foreach { q =>
      ctx.settle()
      val got = Try(digestOf(ctx, tables, q))
      ctx.tally.record(got.toOption.contains(pins(q)),
        s"$q: digest ${got.getOrElse("threw " + got.failed.get)}, expected ${pins(q)}")
    })

    val rng = new Random(ctx.seed)
    val start = System.nanoTime()
    val passTimes = collection.mutable.ArrayBuffer.empty[Double]
    val passOps = collection.mutable.ArrayBuffer.empty[Seq[Op]]
    while (passTimes.size < MinPasses ||
        Budget.fits(start, passTimes.size, ctx.seconds)) ctx.phase("passes") {
      ctx.settle()
      val ops = rng.shuffle(Queries).flatMap { q =>
        ctx.settle(gc = false)
        val r = Try(ctx.op("query", q, "registry") {
          graft.Registry.byName(q).run(ctx.spark, tables.getPath)
            .write.format("noop").mode("overwrite").save()
        })
        ctx.tally.record(r.isSuccess, s"$q threw ${r.failed.toOption.orNull}")
        r.toOption.map(_._2)
      }
      passOps += ops
      passTimes += ops.map(_.seconds).sum
    }

    val retainedMb = Layers.retainedMb(ctx)
    val diskMb = Files.bytes(stage) / Files.MB
    val queryOps = passOps.flatten.toSeq
    val callMs = Stats.summarize(queryOps.map(_.millis))
    def perQuery(f: Op => Double) =
      Queries.map(q => q -> Layers.median(queryOps.filter(_.name == q).map(f)))
    val perQueryMs = perQuery(_.millis)
    val perQueryCpuMs = perQuery(_.cpuNs / 1e6)
    val passCpuS = Stats.summarize(passOps.map(_.map(_.cpuSeconds).sum).toSeq)
    val passJitCpuS = Stats.summarize(passOps.map(_.map(_.cpu.compilerNs / 1e9).sum).toSeq)
    val passGcS = Stats.summarize(passOps.map(_.map(_.cpu.gcNs / 1e9).sum).toSeq)
    val passS = Stats.summarize(passTimes)
    val wall = queryOps.map(_.seconds).sum

    val perLayer = ctx.counters.map { counters =>
      val lab = Layers.attribute(ctx, counters.snapshot(), queryOps)
      def perPass(f: Op => Double) = Layers.median(passOps.map(_.map(f).sum).toSeq)
      def cs(o: Op) = lab.getOrElse(o.id, Nil).map(_._2).map(counters.stageCounters)
        .foldLeft(Counters.StageCounters.Zero)(_ + _)
      val values = collection.mutable.LinkedHashMap[String, Double](
        "registry.jobs" -> perPass(o => lab.getOrElse(o.id, Nil).size),
        "registry.tasks" -> perPass(o => cs(o).tasks),
        "registry.shuffle_bytes" -> perPass(o => cs(o).shuffleBytes),
        "registry.spill_bytes" -> perPass(o => cs(o).spillBytes),
        "registry.task_cpu_s" -> perPass(o => cs(o).cpuNs / 1e9))
      Layers.Families.foreach { f =>
        values(s"registry.family_s.$f") =
          perPass(o => if (family(o.name) == f) o.seconds else 0.0)
      }
      values ++= Seq(
        "spark.core_busy_ratio" -> Layers.coreBusy(ctx, counters, queryOps, lab),
        "spark.jobs_per_op" -> Layers.median(queryOps.map(o => lab.getOrElse(o.id, Nil).size.toDouble)),
        "spark.failed_tasks" -> counters.failedTasks.toDouble,
        "spark.retained_cache_mb" -> retainedMb)
      values
    }

    Outcome(
      endToEnd = Seq(
        "setup_s" -> Metric(setup.seconds, "s"),
        "batch_cpu_s" -> Metric(passCpuS.p50, "s"),
        "disk_mb" -> Metric(diskMb, "MB")),
      perLayer = perLayer.map(Layers.complete).getOrElse(Nil),
      details = Seq(
        "queries" -> Queries,
        "pass_s" -> passS.json,
        "pass_cpu_s" -> passCpuS.json,
        "pass_jit_cpu_s" -> passJitCpuS.json,
        "pass_gc_s" -> passGcS.json,
        "query_ms" -> callMs.json,
        "queries_per_s" -> queryOps.size / wall,
        "query_median_cpu_ms" -> ListMap(perQueryCpuMs: _*),
        "query_median_ms" -> ListMap(perQueryMs: _*),
        "retained_cache_mb" -> retainedMb) ++ setup.details)
  }
}
