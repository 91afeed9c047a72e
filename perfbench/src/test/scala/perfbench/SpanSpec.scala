package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, s: Long, e: Long) = Span(id, s"s$id", parent, 0, s, e)

  test("self time subtracts the children's cover") {
    val root = span(0, -1, 0, 100)
    assert(Span.selfNs(root, Nil) == 100)
    assert(Span.selfNs(root, Seq(span(1, 0, 10, 30), span(2, 0, 50, 60))) == 70)
  }

  test("overlapping children are counted once and clipped to the parent") {
    val root = span(0, -1, 0, 100)
    val kids = Seq(span(1, 0, 10, 40), span(2, 0, 30, 50), span(3, 0, 90, 130))
    // covered: [10, 50) and [90, 100)
    assert(Span.selfNs(root, kids) == 50)
  }

  test("selfTimes walks one level of children per span") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 0, 60), span(2, 1, 10, 20))
    assert(Span.selfTimes(spans) == Map(0 -> 40L, 1 -> 50L, 2 -> 10L))
  }
}
