package perfbench

import java.io.File
import java.nio.file.{Files => NioFiles}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** One timed operation: what was called, on which layer, when, the CPU
  * time the process spent meanwhile ([[Cpu]]; concurrent operations see
  * each other's), and its span (0 when tracing is off).
  */
final case class Op(id: Long, kind: String, name: String, layer: String,
    startNs: Long, endNs: Long, cpu: Cpu.Usage, spanId: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def millis: Double = (endNs - startNs) / 1e6
  def cpuNs: Long = cpu.programNs
  def cpuSeconds: Double = cpu.programNs / 1e9
}

final case class Metric(value: Double, unit: String)

/** What a workload run reports: end-to-end metrics (always), per-layer
  * metrics (traced runs), and details for the result file.
  */
final case class Outcome(endToEnd: Seq[(String, Metric)],
    perLayer: Seq[(String, Metric)], details: Seq[(String, Any)])

/** State shared by a workload run. `op` times one call into the engine; in a
  * traced run it also records a span and tags the call's Spark jobs with
  * the operation id.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val work: File, val cores: Int, val tracer: Tracer,
    val counters: Option[Counters]) {

  val tally = new Stats.Tally
  private val ops0 = new java.util.concurrent.ConcurrentLinkedQueue[Op]()

  def traced: Boolean = tracer.enabled

  private val phases0 = collection.mutable.LinkedHashMap.empty[String, Double]

  /** Runs one phase of the workload and keeps its wall seconds. */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally addPhase(name, (System.nanoTime() - t0) / 1e9)
  }

  def addPhase(name: String, seconds: Double): Unit = phases0.synchronized {
    phases0(name) = phases0.getOrElse(name, 0.0) + seconds
  }

  def phases: Seq[(String, Double)] = phases0.synchronized(phases0.toList)

  def op[A](kind: String, name: String, layer: String)(body: => A): (A, Op) = {
    val id = tracer.newOp()
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(Counters.OpKey, id.toString)
    var spanId = 0L
    var start = 0L
    var end = 0L
    var cpu = Cpu.Usage(0L, 0L, 0L)
    try {
      val out = tracer.span(name, layer, id) {
        spanId = tracer.currentSpan
        val cpu0 = Cpu.usage()
        start = System.nanoTime()
        val r = body
        end = System.nanoTime()
        cpu = Cpu.usage() - cpu0
        r
      }
      val o = Op(id, kind, name, layer, start, end, cpu, spanId)
      ops0.add(o)
      (out, o)
    } finally if (traced) sc.setLocalProperty(Counters.OpKey, null)
  }

  def ops: Seq[Op] = {
    import scala.jdk.CollectionConverters._
    ops0.asScala.toSeq.sortBy(_.startNs)
  }

  /** Drops cached data and, unless told not to, collects garbage and waits
    * for the work a collection sets off (Spark's cleaner dropping the
    * shuffles and broadcasts of earlier operations) to end, so that it is
    * not measured as part of the next operation. Called outside any timed
    * region.
    */
  def settle(gc: Boolean = true): Unit = {
    spark.catalog.clearCache()
    if (gc) {
      System.gc()
      Cpu.awaitQuiet()
    }
  }

  /** Runs `body` `n` times and returns the result of the last run and the
    * wall and CPU seconds of each.
    */
  def repeatedSetup[A](n: Int)(body: => A): Setup[A] = {
    var last: Option[A] = None
    val samples = (1 to n).map { _ =>
      val cpu0 = Cpu.usage()
      val t0 = System.nanoTime()
      last = Some(body)
      ((System.nanoTime() - t0) / 1e9, (Cpu.usage() - cpu0).programNs / 1e9)
    }
    Setup(last.get, samples.map(_._1), samples.map(_._2))
  }
}

final case class Setup[A](result: A, wallS: Seq[Double], cpuS: Seq[Double]) {
  /** The gated set-up time: median CPU seconds. */
  def seconds: Double = Stats.median(cpuS)
  def details: Seq[(String, Any)] =
    Seq("setup_wall_s_samples" -> wallS, "setup_cpu_s_samples" -> cpuS)
}

object Files {
  /** Data files (parquet) and bytes under `dir`. */
  def parquet(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else {
      val fs = FileUtils.listFiles(dir, Array("parquet"), true)
      import scala.jdk.CollectionConverters._
      val sizes = fs.asScala.toSeq.map(_.length())
      (sizes.size.toLong, sizes.sum)
    }

  def bytes(dir: File): Long =
    if (dir.exists()) FileUtils.sizeOfDirectory(dir) else 0L

  def delete(dir: File): Unit = FileUtils.deleteQuietly(dir)

  val MB: Double = 1024.0 * 1024.0
}

object Budget {
  /** Whether one more operation, as long as the average so far, still ends
    * within `budgetS` seconds of `start`.
    */
  def fits(start: Long, done: Int, budgetS: Double): Boolean = {
    val elapsed = (System.nanoTime() - start) / 1e9
    done == 0 || elapsed + elapsed / done <= budgetS
  }
}

/** CPU time of the process without its JIT compiler threads: every other
  * thread, including those that end inside the measured interval and the
  * garbage collector's. Unlike wall time it does not grow while the host
  * runs other work. The compiler is left out because it is the JVM warming
  * up, not the program working: a run is too short for it to finish (after
  * the untimed warm-up it still took half the process CPU time of a
  * batch), and its share of one operation varied 2x within a run.
  */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private val tasks = new File("/proc/self/task")

  /** CPU time of the process, in clock ticks of 10 ms on Linux. */
  def processNs(): Long = os.getProcessCpuTime

  /** CPU time of the JIT compiler threads, from the scheduler's per-thread
    * run time (Linux `/proc`; 0 where that is missing). `run.py` keeps the
    * number of compiler threads fixed, so none ends in between readings.
    */
  def compilerNs(): Long =
    threads(_.matches("C[12] CompilerThre.*")).values.map(_._2).sum

  /** Name and CPU time of each live thread of the process whose name
    * passes `keep`, by thread id (Linux `/proc`; empty elsewhere).
    */
  def threads(keep: String => Boolean = _ => true): Map[String, (String, Long)] =
    Option(tasks.listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val name = new String(NioFiles.readAllBytes(new File(t, "comm").toPath)).trim
        Option.when(keep(name))(t.getName -> (name ->
          new String(NioFiles.readAllBytes(new File(t, "schedstat").toPath))
            .trim.split(" ")(0).toLong))
      } catch { case _: java.io.IOException => None }
    }.toMap

  /** CPU seconds each kind of thread (name with digits masked) used between
    * two [[threads]] readings, largest first; for finding what else keeps a
    * core busy.
    */
  def busiest(before: Map[String, (String, Long)], after: Map[String, (String, Long)],
      n: Int = 12): Seq[(String, Double)] =
    after.toSeq.map { case (id, (name, ns)) =>
      name.replaceAll("[0-9]+", "#") -> (ns - before.get(id).map(_._2).getOrElse(0L))
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2).take(n)
      .map { case (k, ns) => k -> ns / 1e9 }

  /** Time the garbage collectors report as spent in their pauses. */
  def gcNs(): Long = {
    import scala.jdk.CollectionConverters._
    gcs.asScala.map(_.getCollectionTime).filter(_ > 0).sum * 1000000L
  }

  /** Process CPU time, the compiler's part of it, and garbage collection
    * time (elapsed, counted in the program's CPU time).
    */
  final case class Usage(processNs: Long, compilerNs: Long, gcNs: Long) {
    def -(o: Usage): Usage =
      Usage(processNs - o.processNs, compilerNs - o.compilerNs, gcNs - o.gcNs)
    def programNs: Long = processNs - compilerNs
  }

  def usage(): Usage = Usage(processNs(), compilerNs(), gcNs())

  /** Sleeps until the process uses less than a tenth of a core over a
    * 200 ms window, or 5 s have passed.
    */
  def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      val before = processNs()
      Thread.sleep(200)
      quiet = processNs() - before < 20000000L
    }
  }
}
