package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  test("self time is the duration not covered by children") {
    val spans = Seq(
      Span(1, -1, "op", "op", 0, 10),
      Span(2, 1, "build", "queries", 1, 3),
      Span(3, 1, "action", "sql", 2, 5),
      Span(4, 1, "late", "sql", 8, 12),
      Span(5, 3, "job", "exec", 2, 4))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 4.0)          // [1,5] and [8,10] are covered
    assert(self(2) == 2.0)          // no children
    assert(self(3) == 1.0)          // its job covers [2,4]
    assert(self(5) == 2.0)
    val byLayer = Spans.selfByLayer(spans)
    assert(byLayer == Map("op" -> 4.0, "queries" -> 2.0, "sql" -> 5.0, "exec" -> 2.0))
  }

  test("self times of a span tree add up to the root's duration when children nest") {
    val spans = Seq(
      Span(1, -1, "op", "op", 0, 100),
      Span(2, 1, "train", "bdf", 10, 90),
      Span(3, 2, "job", "exec", 20, 30),
      Span(4, 2, "job", "exec", 40, 70))
    assert(Spans.selfTimes(spans).values.sum == 100.0)
  }
}
