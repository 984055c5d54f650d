package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 99) == 10.0)
    assert(Stats.percentile(IndexedSeq(7.0), 75) == 7.0)
  }

  test("the tail is the highest level with at least ten samples beyond it") {
    assert(Stats.tailLevel(39).isEmpty)
    assert(Stats.tailLevel(40).contains(75.0))
    assert(Stats.tailLevel(99).contains(75.0)) // p90 would leave 9 beyond
    assert(Stats.tailLevel(100).contains(90.0))
    assert(Stats.tailLevel(199).contains(90.0))
    assert(Stats.tailLevel(200).contains(95.0))
    assert(Stats.tailLevel(1000).contains(99.0))
    assert(Stats.tailLevel(10000).contains(99.9))
    for (n <- 1 to 3000; p <- Stats.tailLevel(n))
      assert(Stats.beyond(n, p) >= Stats.MinBeyond, s"n=$n p=$p")
  }

  test("summaries report the median, the tail and the sample count") {
    val s = Stats.summarize((1 to 100).reverse.map(_.toDouble))
    assert(s.n == 100 && s.p50 == 50.0 && s.min == 1.0 && s.max == 100.0)
    assert(s.tailLevel.contains(90.0) && s.tail.contains(90.0))
    val few = Stats.summarize(Seq(3.0, 1.0, 2.0))
    assert(few.p50 == 2.0 && few.tailLevel.isEmpty && few.tail.isEmpty)
  }

  test("failed operations are counted against those attempted") {
    val t = new Stats.Tally
    assert(t.failedRatio == 0.0)
    assert(t.record(ok = true))
    assert(!t.record(ok = false, "wrong rows"))
    t.record(ok = true)
    t.record(ok = false, "threw")
    assert(t.attempted == 4 && t.failed == 2 && t.failedRatio == 0.5)
    assert(t.errors == Seq("wrong rows", "threw"))
    (1 to 50).foreach(i => t.record(ok = false, s"e$i"))
    assert(t.failed == 52 && t.errors.size == 20)
  }

  test("concurrent clients tally every operation") {
    val t = new Stats.Tally
    val threads = (1 to 4).map(i => new Thread(() =>
      (1 to 1000).foreach(j => t.record(j % 10 != i))))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(t.attempted == 4000 && t.failed == 400)
  }
}
