package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("self time subtracts the union of overlapping children once") {
    val spans = Seq(
      Span(1, 0, "op", "op", 0, 100),
      Span(2, 1, "op", "dispatch.job", 10, 40),
      Span(3, 1, "op", "dispatch.job", 30, 60), // overlaps the first job
      Span(4, 1, "op", "plans.planning", 50, 55), // inside the second
      Span(5, 1, "op", "dispatch.job", 90, 130)) // runs past the op's end
    val self = Spans.selfMs(spans)
    // covered: [10, 60] and [90, 100] = 60 ms of the op's 100
    assert(self(1) == 40.0)
    assert(self(2) == 30.0 && self(3) == 30.0 && self(5) == 40.0)
  }

  test("covered merges touching and nested intervals") {
    assert(Spans.covered(Seq((0.0, 5.0), (5.0, 7.0), (1.0, 2.0)), 0, 10) == 7.0)
    assert(Spans.covered(Nil, 0, 10) == 0.0)
    assert(Spans.covered(Seq((-5.0, 3.0), (8.0, 20.0)), 0, 10) == 5.0)
  }

  test("Spark-side spans move under the innermost client span that holds them") {
    val spans = Seq(
      Span(1, 0, "a", "op", 0, 100),
      Span(2, 1, "a", "queries.construct", 0, 30),
      Span(3, 1, "a", "dispatch.job", 10, 20), // memo build during construction
      Span(4, 3, "a", "dispatch.stage", 11, 19),
      Span(5, 1, "a", "dispatch.job", 40, 90), // the materializing write
      Span(6, 0, "b", "op", 100, 200),
      Span(7, 6, "b", "dispatch.job", 120, 150))
    val nested = Spans.nest(spans).map(s => s.id -> s.parent).toMap
    assert(nested(3) == 2)
    assert(nested(4) == 3)
    assert(nested(5) == 1)
    assert(nested(7) == 6)
  }
}
