package kgbench

import org.scalatest.funsuite.AnyFunSuite

class SelfTimeSpec extends AnyFunSuite {
  private val s = 1000000000L // ns per second
  private def span(id: Int, parent: Int, from: Double, to: Double) =
    Span(id, s"l$id", parent, op = 0, (from * s).toLong, (to * s).toLong, rowsOut = 0)

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  test("a parent's self time is its duration minus its children's") {
    val spans = Seq(span(0, -1, 1, 9), span(1, 0, 2, 4), span(2, 0, 5, 6))
    val split = SelfTime(spans, 0, 10 * s)
    assert(close(split.self(0), 8 - 2 - 1))
    assert(close(split.self(1), 2))
    assert(close(split.self(2), 1))
    assert(close(split.unattributed, 2))
  }

  test("sequential root spans leave the gaps unattributed") {
    val spans = Seq(span(0, -1, 0, 3), span(1, -1, 4, 10))
    val split = SelfTime(spans, 0, 10 * s)
    assert(close(split.self(0), 3) && close(split.self(1), 6) && close(split.unattributed, 1))
  }

  test("concurrent children share the time they overlap") {
    // arms 1 and 2 overlap on [3, 5): each gets half of it
    val spans = Seq(span(0, -1, 0, 10), span(1, 0, 1, 5), span(2, 0, 3, 8))
    val split = SelfTime(spans, 0, 10 * s)
    assert(close(split.self(1), 2 + 1))
    assert(close(split.self(2), 1 + 3))
    assert(close(split.self(0), 1 + 2))
    assert(close(split.unattributed, 0))
  }

  test("self times plus unattributed time equal the wall, and none is negative") {
    val rnd = new scala.util.Random(11)
    (1 to 50).foreach { _ =>
      val root = span(0, -1, rnd.nextDouble(), 5 + rnd.nextDouble())
      val kids = (1 to 6).map { i =>
        val a = root.start / 1e9 + rnd.nextDouble() * 4
        span(i, if (i % 3 == 0) 1 else 0, a, math.min(a + rnd.nextDouble(), root.end / 1e9))
      }
      // children of span 1 must lie inside it: clamp them
      val one = kids.head
      val nested = kids.map(k => if (k.parent == 1) k.copy(start = one.start, end = one.start + (one.end - one.start) / 2) else k)
      val split = SelfTime(root +: nested, 0, 7 * s)
      assert(split.self.values.forall(_ >= 0))
      assert(close(split.self.values.sum + split.unattributed, 7))
    }
  }

  test("layer metrics sum spans of one name and count descendants' task time") {
    val spans = Seq(span(0, -1, 0, 4), span(1, 0, 1, 2), span(2, 0, 2, 3))
      .map(x => if (x.id > 0) x.copy(name = "arm") else x.copy(name = "experiments.grid"))
      .map(x => if (x.id == 2) x.copy(name = "metrics.eval") else x)
    val totals = Map(Tracer.group(0) -> TaskTotals(taskS = 1, jobs = 1),
      Tracer.group(1) -> TaskTotals(taskS = 2, jobs = 2), Tracer.group(2) -> TaskTotals(taskS = 3, jobs = 1))
    val m = LayerMetrics(spans, g => totals.getOrElse(g, TaskTotals()), cores = 2, 0, 4 * s)
    assert(m.violations.isEmpty)
    assert(close(m.metrics("experiments.grid.task_s"), 6))
    assert(close(m.metrics("experiments.grid.self_s"), 2))
    assert(close(m.metrics("experiments.grid.idle_slot_s"), 4 * 2 - 6))
    assert(close(m.metrics("metrics.eval.task_s"), 3))
    assert(m.metrics("extraction.wall_s") == 0)
  }

  test("concurrent spans of one name count their overlap once in wall and idle slot time") {
    // two arms' spans overlap on [2, 3); a third runs alone on [5, 6)
    val spans = Seq(span(0, -1, 0, 8), span(1, 0, 1, 3), span(2, 0, 2, 4), span(3, 0, 5, 6))
      .map(x => if (x.id > 0) x.copy(name = "metrics.eval") else x.copy(name = "experiments.grid"))
    val totals = Map(Tracer.group(1) -> TaskTotals(taskS = 1), Tracer.group(2) -> TaskTotals(taskS = 2),
      Tracer.group(3) -> TaskTotals(taskS = 1))
    val m = LayerMetrics(spans, g => totals.getOrElse(g, TaskTotals()), cores = 2, 0, 8 * s)
    assert(m.violations.isEmpty)
    assert(close(m.metrics("metrics.eval.wall_s"), 3 + 1))
    assert(close(m.metrics("metrics.eval.task_s"), 4))
    assert(close(m.metrics("metrics.eval.idle_slot_s"), 4 * 2 - 4))
    assert(close(m.metrics("metrics.eval.self_s"), 4))
    assert(m.metrics("metrics.eval.idle_slot_s") <= m.metrics("experiments.grid.wall_s") * 2)
  }
}
