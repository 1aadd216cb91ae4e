package kgbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.SparkContext

/** One call into a layer, as seen from outside it. Times in ns from
  * `System.nanoTime`; `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long,
                      rowsOut: Long) {
  def wallS: Double = (end - start) / 1e9
  def toJson: String =
    s"""{"id":$id,"name":"$name","parent":$parent,"op":$op,"start_ns":$start,"end_ns":$end,"rows_out":$rowsOut}"""
}

/** Records spans in memory. Each span runs its body under a job group
  * of its own, set in the thread that makes the call, so the
  * [[TaskListener]] can attribute executor work to it. */
final class Tracer(sc: SparkContext) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(0)

  /** Runs `body` as span `name` of op `op`. The body gets the span's id
    * (to parent spans it starts in other threads) and returns its
    * result with the number of rows the layer produced. */
  def span[T](name: String, op: Int, parent: Int = -1)(body: Int => (T, Long)): T = {
    val id = nextId.getAndIncrement()
    inGroup(Tracer.group(id), name) {
      val start = System.nanoTime()
      val (result, rows) = body(id)
      val s = Span(id, name, parent, op, start, System.nanoTime(), rows)
      recorded.synchronized(recorded += s)
      result
    }
  }

  /** Runs `body` in another thread under an enclosing span's group, so
    * the jobs it submits outside any child span count for that span. */
  def within[T](spanId: Int)(body: => T): T = inGroup(Tracer.group(spanId), "")(body)

  private def inGroup[T](group: String, description: String)(body: => T): T = {
    val previous = sc.getLocalProperty(TaskListener.GroupKey)
    sc.setJobGroup(group, description)
    try body
    finally if (previous == null) sc.clearJobGroup() else sc.setJobGroup(previous, "")
  }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)
}

object Tracer {
  def group(spanId: Int): String = s"kgbench-span-$spanId"

  /** The span names, one per layer entry point the benchmark wraps. */
  val Layers: Seq[String] = Seq("extraction", "entitylinking", "canonicalize", "materialize",
    "tableio.write", "tableio.resume", "fewshots.pool", "extraction.fewshot_detect",
    "metrics.eval", "experiments.grid")

  /** Per-span metric suffixes with their units. */
  val SpanMetrics: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s", "task_s" -> "s",
    "gc_s" -> "s", "idle_slot_s" -> "s", "jobs" -> "count", "tasks_failed" -> "count",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "rows_out" -> "rows")
}

/** Self time: the op's wall split into elementary intervals at every
  * span boundary. An interval goes to the spans active in it that
  * have no active child, shared equally when several run at once
  * (concurrent arms); an interval with no active span is unattributed.
  * So self times plus unattributed time equal the op's wall exactly,
  * and for nested sequential spans a span's self time is its duration
  * minus the part its children cover. */
object SelfTime {
  final case class Split(self: Map[Int, Double], unattributed: Double)

  def apply(spans: Seq[Span], from: Long, to: Long): Split = {
    val cuts = (spans.flatMap(s => Seq(s.start, s.end)) ++ Seq(from, to))
      .filter(t => t >= from && t <= to).distinct.sorted
    val self = mutable.Map(spans.map(_.id -> 0.0): _*)
    var unattributed = 0.0
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = spans.filter(s => s.start <= a && s.end >= b)
      val parents = active.map(_.parent).toSet
      val leaves = active.filterNot(s => parents(s.id))
      val len = (b - a) / 1e9
      if (leaves.isEmpty) unattributed += len
      else leaves.foreach(s => self(s.id) += len / leaves.size)
    }
    Split(self.toMap, unattributed)
  }
}

/** Per-layer metrics of one traced op, from its spans and the listener's
  * per-group totals. A span's counters include its descendants' (its
  * wall does too); self time does not. Several spans of one name in an
  * op (one per arm, one per run) have their counters summed; their wall
  * is the union of their intervals, so spans that run at once count
  * each slot once, and idle slot time is that wall × cores − task time.
  * A layer the workload never enters reads 0. */
object LayerMetrics {
  final case class OfOp(metrics: Map[String, Double], unattributedS: Double,
                        violations: Seq[String])

  def apply(spans: Seq[Span], groups: String => TaskTotals, cores: Int,
            from: Long, to: Long): OfOp = {
    val split = SelfTime(spans, from, to)
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def inclusive(s: Span): TaskTotals =
      subtree(s).map(c => groups(Tracer.group(c.id))).foldLeft(TaskTotals())(_ + _)

    val metrics = Tracer.Layers.flatMap { layer =>
      val mine = spans.filter(_.name == layer)
      val totals = mine.map(inclusive)
      val task = totals.foldLeft(TaskTotals())(_ + _)
      val wall = unionS(mine)
      Seq(
        "wall_s" -> wall,
        "self_s" -> mine.map(s => split.self(s.id)).sum,
        "task_s" -> task.taskS,
        "gc_s" -> task.gcS,
        "idle_slot_s" -> (wall * cores - task.taskS),
        "jobs" -> task.jobs.toDouble,
        "tasks_failed" -> task.tasksFailed.toDouble,
        "shuffle_write_mb" -> task.shuffleWriteBytes / 1048576.0,
        "spill_mb" -> task.spillBytes / 1048576.0,
        "rows_out" -> mine.map(_.rowsOut).sum.toDouble
      ).map { case (k, v) => s"$layer.$k" -> v }
    }.toMap

    val wall = (to - from) / 1e9
    val violations = Seq(
      Tracer.Layers.collect { case l if metrics(s"$l.idle_slot_s") > wall * cores =>
        s"$l idle slot time ${metrics(s"$l.idle_slot_s")} exceeds the op's ${wall * cores} slot seconds" },
      split.self.collect { case (id, v) if v < 0 => s"span $id has negative self time $v" },
      Option.when(math.abs(split.self.values.sum + split.unattributed - wall) > 1e-6 * math.max(1.0, wall))(
        s"self times ${split.self.values.sum} + unattributed ${split.unattributed} != wall $wall"),
      spans.collect { case s if s.start < from || s.end > to => s"span ${s.name} lies outside its op" }
    ).flatten
    OfOp(metrics, split.unattributed, violations)
  }

  /** Seconds covered by at least one of `spans`. */
  def unionS(spans: Seq[Span]): Double = {
    var covered = 0L
    var end = Long.MinValue
    spans.sortBy(_.start).foreach { s =>
      if (s.end > end) { covered += s.end - math.max(s.start, end); end = s.end }
    }
    covered / 1e9
  }
}
