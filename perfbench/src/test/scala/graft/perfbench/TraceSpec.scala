package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("covered time is the union of intervals, clipped to the window") {
    assert(Spans.coveredMs(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0)), 0, 100) == 25.0)
    assert(Spans.coveredMs(Seq((0.0, 10.0), (5.0, 15.0)), 8, 12) == 4.0)
    assert(Spans.coveredMs(Seq((40.0, 50.0)), 0, 10) == 0.0)
    assert(Spans.coveredMs(Nil, 0, 10) == 0.0)
  }

  test("self time is duration minus the time children cover") {
    val op = Span(1, 0, "7", "op", 0, 100)
    val plan = Span(2, 1, "7", "plan", 0, 20)
    val exec = Span(3, 1, "7", "execute", 20, 90)
    val job1 = Span(4, 3, "7", "job.1", 30, 60)
    val job2 = Span(5, 3, "7", "job.2", 50, 80) // overlaps job1: counted once
    val stage = Span(6, 4, "7", "stage.1", 30, 60)
    val self = Spans.selfTimes(Seq(op, plan, exec, job1, job2, stage))
    assert(self(1) == 10.0)
    assert(self(2) == 20.0)
    assert(self(3) == 20.0)
    assert(self(4) == 0.0)
    assert(self(5) == 30.0)
    assert(self(6) == 30.0)
  }

  test("a child running past its parent only counts inside the parent") {
    val self = Spans.selfTimes(Seq(Span(1, 0, "1", "op", 0, 10), Span(2, 1, "1", "job.1", 5, 50)))
    assert(self(1) == 5.0)
  }

  test("a job attaches to the deepest span of its op that contains its start") {
    val spans = Seq(Span(1, 0, "7", "op", 0, 100), Span(2, 1, "7", "probe", 10, 90),
      Span(3, 2, "7", "execute", 40, 90), Span(4, 0, "8", "op", 0, 100))
    assert(Spans.innermost(spans, "7", 50).map(_.id).contains(3L))
    assert(Spans.innermost(spans, "7", 20).map(_.id).contains(2L))
    assert(Spans.innermost(spans, "8", 50).map(_.id).contains(4L))
    assert(Spans.innermost(spans, "7", 150).isEmpty)
  }

  test("the tracer nests spans and records nothing when disabled") {
    val t = new Tracer
    t.span(enabled = true, "1", "op") { t.span(enabled = true, "1", "inner")(()) }
    t.span(enabled = false, "2", "op")(())
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(t.spans.size == 2)
    assert(byName("inner").parent == byName("op").id)
    assert(byName("op").parent == 0L)
  }
}
