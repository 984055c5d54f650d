package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, s: Long, e: Long) =
    Span(id, s"s$id", "l", 1, parent, s, e)

  test("self time subtracts the union of child intervals") {
    val p = span(1, 0, 0, 100)
    assert(Spans.selfTime(p, Nil) == 100)
    assert(Spans.selfTime(p, Seq(span(2, 1, 10, 30))) == 80)
    // Overlapping children count once; a child past the end is clipped.
    assert(Spans.selfTime(p, Seq(span(2, 1, 10, 30), span(3, 1, 20, 50),
      span(4, 1, 90, 120))) == 50)
    // A child covering everything leaves no self time.
    assert(Spans.selfTime(p, Seq(span(2, 1, -5, 105))) == 0)
    // Children outside the parent's interval do not count.
    assert(Spans.selfTime(p, Seq(span(2, 1, 200, 300))) == 100)
  }

  test("covered merges touching and nested intervals") {
    assert(Spans.covered(Seq((0L, 10L), (10L, 20L), (2L, 5L)), 0, 100) == 20)
    assert(Spans.covered(Seq((30L, 40L), (0L, 10L)), 5, 35) == 10)
    assert(Spans.covered(Nil, 0, 10) == 0)
  }

  test("self times over a tree use each span's own children") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 2, 20, 30),
      span(4, 1, 70, 80))
    assert(Spans.selfTimes(spans) == Map(1L -> 40L, 2L -> 40L, 3L -> 10L, 4L -> 10L))
  }

  test("the tracer nests spans per thread and tags them with the operation") {
    val t = new Tracer(enabled = true)
    val op = t.newOp()
    t.span("outer", "ingest", op) {
      t.span("inner", "edf")(())
      t.add("job 7", "spark", op, t.currentSpan, 1, 2)
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("outer").parent == 0 && byName("outer").op == op)
    assert(byName("inner").parent == byName("outer").id && byName("inner").op == op)
    assert(byName("job 7").parent == byName("outer").id)
    assert(t.currentSpan == 0)
  }

  test("a disabled tracer runs the body and records nothing") {
    val t = new Tracer(enabled = false)
    assert(t.span("x", "l")(41 + 1) == 42)
    t.add("job", "spark", 1, 0, 1, 2)
    assert(t.spans.isEmpty)
  }

  test("jobs are attributed to pipeline steps by call site") {
    import Counters._
    val run = "graft.ingest.JobRunner$.run(JobRunner.scala:70)"
    val transform = "graft.ingest.JobRunner$.transform(JobRunner.scala:110)"
    assert(component(Seq(run)).contains(Extract))
    assert(component(Seq("graft.warehouse.Warehouse.loadEpochs(Warehouse.scala:48)", run))
      .contains(Load))
    assert(component(Seq("graft.ingest.Validation$.requireAll(Validation.scala:105)",
      transform, run)).contains(DataTest))
    assert(component(Seq(transform, run)).contains(Transform))
    assert(component(Seq("graft.ingest.Validation$.validateBySubject(Validation.scala:45)"))
      .contains(Validate))
    assert(component(Seq("graft.api.SleepReads.mart(SleepReads.scala:20)")).isEmpty)
    assert(component(Nil).isEmpty)
    assert(programFrames("a.B.c(B.scala:1)\n  graft.X.y(X.scala:2)\nz") ==
      Seq("graft.X.y(X.scala:2)"))
  }
}
