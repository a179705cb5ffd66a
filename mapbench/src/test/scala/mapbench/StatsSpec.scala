package mapbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the value with exactly ten samples beyond it") {
    val xs = (1 to 25).map(_.toDouble)
    assert(Stats.tail(xs) == 15.0)
    assert(Stats.tailLevel(25) == 60.0)
    assert(Stats.tail((1 to 11).map(_.toDouble).reverse) == 1.0)
  }

  test("with ten or fewer samples the tail is the maximum") {
    assert(Stats.tail(Seq(2.0, 9.0, 4.0)) == 9.0)
    assert(Stats.tailLevel(3) == 100.0)
  }

  private def span(id: Int, parent: Option[Int], a: Long, b: Long) =
    Span(id, s"s$id", parent, 1, a * 1000000000L, b * 1000000000L, chain = true)

  test("self time subtracts the union of the children's intervals") {
    val spans = Seq(
      span(0, None, 0, 10),
      span(1, Some(0), 1, 4),
      span(2, Some(0), 3, 6), // overlaps child 1: together they cover 1..6
      span(3, Some(0), 8, 12), // runs past the parent: only 8..10 counts
      span(4, Some(1), 2, 3)) // grandchild: counts against child 1 only
    val self = Trace.selfTimes(spans)
    assert(self(0) == 10.0 - 5.0 - 2.0)
    assert(self(1) == 3.0 - 1.0)
    assert(self(2) == 3.0)
    assert(self(3) == 4.0)
    assert(self(4) == 1.0)
  }

  test("a span without children keeps its whole duration") {
    assert(Trace.selfTimes(Seq(span(0, None, 5, 7)))(0) == 2.0)
  }
}
