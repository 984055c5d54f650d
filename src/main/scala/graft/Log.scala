package graft

/** Project logger (slf4j, backed by Spark's log4j2): operator-facing
  * degrade and recovery messages go through here at WARN so cluster log
  * aggregation actually surfaces them — a bare `System.err.println` on
  * an executor or driver is invisible to most log pipelines and carries
  * no level/timestamp for alerting to key on. Library code (sources, ingest,
  * streaming) must use this; the CLI harness mains (`Bench`, `Verify`,
  * `ScaleCheck`, …) keep printing to stderr on purpose — there stderr
  * IS the user interface.
  */
private[graft] object Log {
  private val log = org.slf4j.LoggerFactory.getLogger("graft")
  def warn(msg: => String): Unit = log.warn(msg)
  def info(msg: => String): Unit = if (log.isInfoEnabled) log.info(msg)
}
