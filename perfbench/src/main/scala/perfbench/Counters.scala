package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark counters per job, from a listener the benchmark registers on its
  * own session in traced runs. Each job carries the operation id the
  * benchmark set as a local property ([[Counters.OpKey]]) and the program
  * frames of its call site, taken from the SQL execution that ran it (or
  * from the job's own stage when it ran outside SQL).
  */
final class Counters(sc: SparkContext) extends SparkListener {
  import Counters._

  // Listener times are wall-clock ms; spans are monotonic ns.
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNanos(ms: Long): Long = ms * 1000000L + nanoOffset

  private val execFrames = new ConcurrentHashMap[Long, Seq[String]]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageCounters]()
  private val failedTasks0 = new AtomicLong(0)

  sc.addSparkListener(this)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      val own = programFrames(e.details)
      val frames =
        if (own.nonEmpty) own
        else e.rootExecutionId.flatMap(r => Option(execFrames.get(r))).getOrElse(Nil)
      execFrames.put(e.executionId, frames)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val op = prop(OpKey).map(_.toLong).getOrElse(-1L)
    val frames = prop("spark.sql.execution.id").map(_.toLong)
      .flatMap(id => Option(execFrames.get(id))).filter(_.nonEmpty)
      .getOrElse(programFrames(
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")))
    jobs.put(e.jobId, Job(e.jobId, op, toNanos(e.time), -1L, frames,
      e.stageIds, succeeded = false))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) =>
      j.copy(endNs = toNanos(e.time), succeeded = e.jobResult == JobSucceeded))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    val c = StageCounters(
      tasks = i.numTasks,
      runTimeMs = m.map(_.executorRunTime).getOrElse(0L),
      cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
      shuffleBytes = m.map(x => x.shuffleReadMetrics.totalBytesRead +
        x.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spillBytes = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled)
        .getOrElse(0L))
    stages.merge(i.stageId, c, (a, b) => a + b)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != org.apache.spark.Success) failedTasks0.incrementAndGet()

  /** Every job seen so far, after the bus has delivered pending events. */
  def snapshot(): Seq[Job] = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    jobs.values.asScala.toSeq.sortBy(_.id)
  }

  def stageCounters(job: Job): StageCounters =
    job.stageIds.flatMap(s => Option(stages.get(s))).foldLeft(StageCounters.Zero)(_ + _)

  def failedTasks: Long = failedTasks0.get()
}

object Counters {
  /** Local property carrying the benchmark's operation id onto each job. */
  val OpKey = "perfbench.op"

  final case class Job(id: Int, op: Long, startNs: Long, endNs: Long,
      frames: Seq[String], stageIds: Seq[Int], succeeded: Boolean)

  final case class StageCounters(tasks: Long, runTimeMs: Long, cpuNs: Long,
      shuffleBytes: Long, spillBytes: Long) {
    def +(o: StageCounters): StageCounters = StageCounters(tasks + o.tasks,
      runTimeMs + o.runTimeMs, cpuNs + o.cpuNs,
      shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  }

  object StageCounters {
    val Zero: StageCounters = StageCounters(0, 0, 0, 0, 0)
  }

  /** Frames of the program (`graft.*`) in a call-site long form. */
  def programFrames(details: String): Seq[String] =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .filter(_.startsWith("graft."))

  /** The layer component a job belongs to, from its program frames; `None`
    * when the frames name no pipeline step, in which case the job belongs
    * to the layer of the benchmark call that ran it.
    *
    * `JobRunner.run` is one call, so its jobs are told apart by where in the
    * program they were started: the model DAG and its data tests in
    * `transform`, warehouse reads and writes in `Warehouse`, and the first
    * action of `run` (which runs the persisted extraction) as extract.
    */
  def component(frames: Seq[String]): Option[String] = {
    def has(s: String) = frames.exists(_.contains(s))
    if (frames.isEmpty) None
    else if (has("JobRunner$.transform"))
      Some(if (has("Validation$.requireAll")) DataTest else Transform)
    else if (has("graft.warehouse.Warehouse")) Some(Load)
    else if (has("graft.ingest.Validation$")) Some(Validate)
    else if (has("JobRunner$.run") || has("graft.ingest.Ingest$")) Some(Extract)
    else None
  }

  val Extract = "ingest.extract"
  val Validate = "ingest.validate"
  val Load = "warehouse.load"
  val Transform = "sleep.transform"
  val DataTest = "sleep.data_test"
}
