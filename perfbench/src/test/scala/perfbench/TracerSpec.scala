package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  // op 7: root [0, 100) with children [10, 40) and [30, 60) (overlapping)
  // and a grandchild [15, 20) under the first child
  private val spans = Seq(
    Span(1, "op.x", 0, 100, 0, 7),
    Span(2, "a", 10, 40, 1, 7),
    Span(3, "b", 30, 60, 1, 7),
    Span(4, "c", 15, 20, 2, 7))

  test("self time is duration minus the union of the children") {
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - 50) // children cover [10, 60)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(4) == 5)
  }

  test("self times account for the op's wall time") {
    // overlapping siblings make the sum exceed the wall; disjoint ones don't
    val disjoint = Seq(Span(1, "op.x", 0, 100, 0, 7), Span(2, "a", 10, 40, 1, 7),
      Span(3, "b", 50, 60, 1, 7), Span(4, "c", 15, 20, 2, 7))
    val op = OpRecord(7, "read", "x", 0, 100, ok = true)
    assert(Layers.selfResidualMs(disjoint, Seq(op)) == 0.0)
    assert(Tracer.selfTimes(disjoint).values.sum == 100)
  }

  test("children are clipped to the parent") {
    val s = Seq(Span(1, "p", 10, 20, 0, 1), Span(2, "k", 5, 25, 1, 1))
    assert(Tracer.selfTimes(s)(1) == 0)
  }

  test("nested spans record parent and op on one thread") {
    val t = new Tracer(true)
    t.span("outer", op = 42) { t.span("inner")(()) }
    val all = t.all.sortBy(_.id)
    assert(all.map(_.name) == Seq("outer", "inner"))
    assert(all(1).parent == all.head.id && all.forall(_.op == 42))
    val off = new Tracer(false)
    assert(off.span("x")(5) == 5 && off.all.isEmpty)
  }
}
