package perfbench

import scala.collection.immutable.ListMap

/** Summaries of timing samples, and the attempted/failed tally. */
object Stats {

  /** Tail levels, highest first. A tail is reported at the highest level
    * that still has at least [[MinBeyond]] samples above it.
    */
  val TailLevels: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
  val MinBeyond = 10

  /** Nearest-rank percentile of an ascending sample: the value at rank
    * `ceil(p / 100 * n)`.
    */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    sorted(rank(sorted.size, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly above the nearest-rank `p` percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest level in [[TailLevels]] with at least [[MinBeyond]]
    * samples beyond it, if `n` samples are enough for any.
    */
  def tailLevel(n: Int): Option[Double] =
    TailLevels.find(p => beyond(n, p) >= MinBeyond)

  def median(xs: Iterable[Double]): Double =
    percentile(xs.toIndexedSeq.sorted, 50.0)

  final case class Summary(n: Int, p50: Double, tailLevel: Option[Double],
      tail: Option[Double], min: Double, max: Double) {
    def json: ListMap[String, Any] = ListMap(
      "n" -> n, "p50" -> p50, "tail_level" -> tailLevel, "tail" -> tail,
      "min" -> min, "max" -> max)
  }

  def summarize(xs: Iterable[Double]): Summary = {
    val s = xs.toIndexedSeq.sorted
    val level = tailLevel(s.size)
    Summary(s.size, percentile(s, 50.0), level, level.map(percentile(s, _)),
      s.head, s.last)
  }

  /** Operations attempted and failed. An operation fails when it throws or
    * when its output does not match the expected one; `record` returns
    * whether the operation counted as good.
    */
  final class Tally {
    private var attempted0 = 0L
    private var failed0 = 0L
    private val firstErrors = collection.mutable.ArrayBuffer.empty[String]

    def record(ok: Boolean, what: => String = ""): Boolean = synchronized {
      attempted0 += 1
      if (!ok) {
        failed0 += 1
        if (firstErrors.size < 20) firstErrors += what
      }
      ok
    }

    def attempted: Long = synchronized(attempted0)
    def failed: Long = synchronized(failed0)
    def errors: Seq[String] = synchronized(firstErrors.toList)
    def failedRatio: Double =
      synchronized(if (attempted0 == 0) 0.0 else failed0.toDouble / attempted0)
  }
}
