package kgbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of the KG pipeline: one client, each op starts
  * when the previous one has completed.
  *
  * {{{
  * kgbench.Main --workload <bulk_build|entity_resolve|prompt_grid> --seed <n>
  *   --seconds <s> --trace <0|1> --cores <n> --work <dir> --spans <file> [--source <id>]
  * }}}
  *
  * `--trace 0` times ops and prints the end-to-end metrics; `--trace 1`
  * alternates untraced and traced ops and prints the per-layer metrics.
  * The last stdout line is the result object; the lines before it give
  * every metric with its unit, and the run's provenance. */
object Main {
  /** Set-ups per untraced run; setup_s is their median, so that one
    * slow JVM start or input write does not decide a run's figure. */
  val SetupReps = 3
  /** Timed ops per untraced run at least, whatever `--seconds`. */
  val MinOps = 3
  /** Untraced + traced op pairs per traced run at least. */
  val MinPairs = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
                        work: Path, spans: Path, source: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, Paths.get(need("work")).toAbsolutePath, Paths.get(need("spans")).toAbsolutePath,
      m.getOrElse("source", "unknown"))
    require(Workload.Names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0 && a.cores > 0, "seconds and cores must be positive")
    a
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    // a printed result (correct or not) exits 0; no result exits non-zero
    val code = Try(run(a)) match {
      case Success(_) => 0
      case Failure(e) => e.printStackTrace(); 2
    }
    sys.exit(code)
  }

  def session(cores: Int, work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("kgbench")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.default.parallelism", cores)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.sql.files.openCostInBytes", "1m")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  /** Book-keeping of ops attempted and failed. */
  final class Ledger {
    var attempted = 0
    val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
    var failed = 0
    def record(what: String, problems: Seq[String]): Unit = {
      attempted += 1
      if (problems.nonEmpty) { failed += 1; failures ++= problems.map(p => s"$what: $p") }
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def now(): Long = System.nanoTime()
  private def secs(from: Long, to: Long): Double = (to - from) / 1e9

  private def problemsOf(e: Throwable): Seq[String] = Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")

  /** Checks one op's output against the warm-up's fingerprint. */
  private def check(wl: Workload, o: Outcome, reference: Option[String]): Seq[String] =
    Try(wl.verify(o, first = false)) match {
      case Success(v) => v.failures ++ reference.filter(_ != v.fingerprint)
        .map(_ => "output differs from the warm-up op's")
      case Failure(e) => problemsOf(e)
    }

  /** Runs one benchmark and prints its result. */
  def run(a: Args): Unit = {
    deleteTree(a.work)
    val ledger = new Ledger
    var spark: SparkSession = null
    var listener: TaskListener = null
    var wl: Workload = null
    var inputSizes: Seq[(String, Long)] = Nil
    var reference: Option[String] = None

    // set-up: session start + input generation + one untimed warm-up op
    val setupTimes = (1 to (if (a.trace) 1 else SetupReps)).map { rep =>
      if (spark != null) { spark.stop(); deleteTree(a.work) }
      val t0 = now()
      spark = session(a.cores, a.work)
      listener = TaskListener.register(spark.sparkContext)
      wl = Workload(a.workload, spark, a.seed, a.work)
      inputSizes = wl.prepare()
      val warm = Try(wl.op(-rep))
      val dt = secs(t0, now())
      warm match {
        case Success(o) =>
          val v = Try(wl.verify(o, first = true))
          ledger.record(s"warm-up $rep", v.map(_.failures).getOrElse(problemsOf(v.failed.get)))
          if (reference.isEmpty) reference = v.toOption.map(_.fingerprint)
          wl.release(o)
        case Failure(e) => ledger.record(s"warm-up $rep", problemsOf(e))
      }
      dt
    }
    val sc = spark.sparkContext
    val result = try {
      if (a.trace) traced(a, wl, sc, listener, ledger, reference)
      else untraced(a, wl, sc, listener, ledger, reference, setupTimes)
    } finally spark.stop()
    val (metrics, provenance) = result

    val prov = provenance ++ Seq(
      "workload" -> s""""${a.workload}"""", "seed" -> a.seed.toString, "trace" -> (if (a.trace) "1" else "0"),
      "nproc" -> a.cores.toString, "client_threads" -> "1",
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "java" -> s""""${System.getProperty("java.version")}"""",
      "scala" -> s""""${scala.util.Properties.versionNumberString}"""",
      "spark" -> s""""${org.apache.spark.SPARK_VERSION}"""",
      "source" -> s""""${a.source}"""", "warm" -> "true",
      "setup_samples" -> setupTimes.size.toString,
      "input" -> inputSizes.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    println(prov.map { case (k, v) => s""""$k":$v""" }.mkString("""{"provenance":{""", ",", "}}"))
    ledger.failures.foreach(f => System.err.println(s"[kgbench] FAILED $f"))
    val bad = metrics.collect { case (k, (v, _)) if !v.isFinite => k }
    require(bad.isEmpty, s"metrics without a value: ${bad.mkString(", ")}")
    val body = metrics.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${ledger.failed == 0},"attempted":${ledger.attempted},"failed":${ledger.failed},"metrics":{$body}}""")
  }

  type Metrics = Seq[(String, (Double, String))]

  private def untraced(a: Args, wl: Workload, sc: org.apache.spark.SparkContext, listener: TaskListener,
                       ledger: Ledger, reference: Option[String],
                       setupTimes: Seq[Double]): (Metrics, Seq[(String, String)]) = {
    val walls, tasks, heaps = mutable.ArrayBuffer.empty[Double]
    var quality = Double.NaN
    var committed = 0L
    var gates = Map.empty[String, Double]
    val start = now()
    var opId = 0
    while (opId < MinOps || secs(start, now()) < a.seconds) {
      opId += 1
      ListenerBusDrain(sc)
      val before = listener.total
      HeapMonitor.reset()
      val t0 = now()
      val o = Try(wl.op(opId))
      val wall = secs(t0, now())
      val heap = HeapMonitor.peakMb()
      ListenerBusDrain(sc)
      // read before the checks below submit jobs of their own
      val task = (listener.total - before).taskS
      o match {
        case Success(out) =>
          var problems = check(wl, out, reference)
          if (quality.isNaN) {
            Try((wl.quality(out), out.stages.map(Workload.gates).getOrElse(Map.empty))) match {
              case Success(((q, gateFailures), g)) => quality = q; problems ++= gateFailures; gates = g
              case Failure(e) => problems ++= problemsOf(e)
            }
          }
          if (problems.isEmpty) {
            walls += wall; tasks += task; heaps += heap
            committed = out.committed
          }
          ledger.record(s"op $opId", problems)
          wl.release(out)
        case Failure(e) => ledger.record(s"op $opId", problemsOf(e))
      }
    }
    val wall = median(walls.toSeq)
    val metrics: Metrics = Seq(
      "setup_s" -> (median(setupTimes), "s"),
      "wall_s" -> (wall, "s"),
      "rows_per_s" -> (wl.rows / wall, "rows/s"),
      "task_s" -> (median(tasks.toSeq), "s"),
      "heap_peak_mb" -> (median(heaps.toSeq), "MB"),
      "quality_f1" -> (quality, "ratio"))
    // printed with the gated metrics; not gated, as they do not apply
    // to every workload or read 0 on a passing run
    val extra = Seq(
      Option.when(committed > 0)("triples_per_s" -> (committed / wall, "triples/s")),
      Some("error_rate" -> (ledger.failed.toDouble / ledger.attempted, "ratio"))).flatten
    (metrics ++ extra).foreach { case (k, (v, u)) => println(s"metric $k $v $u") }
    println(s"samples wall_s ${walls.mkString(",")} heap_peak_mb ${heaps.mkString(",")} setup_s ${setupTimes.mkString(",")}")
    (metrics, Seq("samples" -> walls.size.toString,
      "gates" -> gates.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")))
  }

  /** Names of the per-layer metrics, in the order they are printed. */
  val LayerNames: Seq[(String, String)] =
    Tracer.Layers.flatMap(l => Tracer.SpanMetrics.map { case (m, u) => s"$l.$m" -> u }) ++ Seq(
      "extraction.kept_ratio" -> "ratio", "extraction.verified_ratio" -> "ratio",
      "entitylinking.dedup_ratio" -> "ratio", "entitylinking.accept_ratio" -> "ratio",
      "entitylinking.jw_pairs" -> "count", "entitylinking.path" -> "code",
      "canonicalize.path" -> "code", "canonicalize.edges" -> "count",
      "materialize.path" -> "code", "materialize.distinct_ratio" -> "ratio",
      "tableio.files_written" -> "count", "tableio.mb_written" -> "MB",
      "spark.slot_util" -> "ratio", "trace.unattributed_s" -> "s", "tracing.overhead_pct" -> "%")

  private def traced(a: Args, wl: Workload, sc: org.apache.spark.SparkContext, listener: TaskListener,
                     ledger: Ledger, reference: Option[String]): (Metrics, Seq[(String, String)]) = {
    val tracer = new Tracer(sc)
    val plainWalls, tracedWalls = mutable.ArrayBuffer.empty[Double]
    val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
    var gates = Map.empty[String, Double]
    var resumeS: Option[Double] = None
    var resumeMetrics = Map.empty[String, Double]
    val start = now()
    var pair = 0
    while (pair < MinPairs || secs(start, now()) < a.seconds) {
      pair += 1
      val plainId = 2 * pair - 1
      val t0 = now()
      Try(wl.op(plainId)) match {
        case Success(o) =>
          val wall = secs(t0, now())
          val problems = check(wl, o, reference)
          if (problems.isEmpty) plainWalls += wall
          ledger.record(s"op $plainId", problems)
          wl.release(o)
        case Failure(e) => ledger.record(s"op $plainId", problemsOf(e))
      }

      val opId = 2 * pair
      ListenerBusDrain(sc)
      val before = listener.total
      val from = now()
      Try(wl.tracedOp(tracer, opId)) match {
        case Success(o) =>
          val to = now()
          ListenerBusDrain(sc)
          val wall = secs(from, to)
          val slotUtil = (listener.total - before).taskS / (wall * a.cores)
          val layers = LayerMetrics(tracer.spans.filter(_.op == opId), listener.group, a.cores, from, to)
          val stats = Try {
            val g = o.stages.map(Workload.gates).getOrElse(Map.empty)
            val files = o.out.map(Workload.filesWritten).map { case (n, mb) =>
              Map("tableio.files_written" -> n.toDouble, "tableio.mb_written" -> mb)
            }.getOrElse(Map.empty)
            g ++ files
          }
          val problems = check(wl, o, reference) ++ layers.violations ++
            Option.when(slotUtil > 1.0)(s"slot utilisation $slotUtil > 1") ++
            stats.failed.toOption.toSeq.flatMap(problemsOf)
          var m = layers.metrics ++ stats.getOrElse(Map.empty) ++
            Map("spark.slot_util" -> slotUtil, "trace.unattributed_s" -> layers.unattributedS)
          if (gates.isEmpty) gates = stats.getOrElse(Map.empty).filterNot(_._1.startsWith("tableio."))
          if (m.getOrElse("extraction.rows_out", 0.0) > 0)
            m += "extraction.kept_ratio" -> m("extraction.rows_out") / wl.rows
          // once per run, the crash-and-resume scenario: an op of its own,
          // whose window is its span
          if (resumeS.isEmpty) Try(wl.resume(tracer, opId + 1, o)) match {
            case Success(Some((s, fp, p))) =>
              val spans = tracer.spans.filter(_.op == opId + 1)
              val r = LayerMetrics(spans, listener.group, a.cores, spans.map(_.start).min, spans.map(_.end).max)
              val rp = p ++ r.violations ++ reference.filter(_ != fp).map(_ => "resumed table differs")
              ledger.record(s"resume op ${opId + 1}", rp)
              resumeS = Some(s)
              if (rp.isEmpty) resumeMetrics = r.metrics.filter(_._1.startsWith("tableio.resume."))
            case Success(None) => resumeS = Some(Double.NaN)
            case Failure(e) => ledger.record(s"resume op ${opId + 1}", problemsOf(e)); resumeS = Some(Double.NaN)
          }
          if (problems.isEmpty) { tracedWalls += wall; perOp += m }
          ledger.record(s"traced op $opId", problems)
          wl.release(o)
        case Failure(e) => ledger.record(s"traced op $opId", problemsOf(e))
      }
    }
    Files.createDirectories(a.spans.getParent)
    Files.write(a.spans, tracer.spans.map(_.toJson).mkString("", "\n", "\n").getBytes("UTF-8"))

    val overhead = (median(tracedWalls.toSeq) / median(plainWalls.toSeq) - 1) * 100
    val metrics: Metrics = LayerNames.map { case (k, u) =>
      val v =
        if (k == "tracing.overhead_pct") overhead
        else if (k.startsWith("tableio.resume.")) resumeMetrics.getOrElse(k, 0.0)
        else median(perOp.toSeq.map(_.getOrElse(k, 0.0)))
      k -> (v, u)
    }
    metrics.foreach { case (k, (v, u)) => println(s"metric $k $v $u") }
    resumeS.filter(_.isFinite).foreach(s => println(s"metric resume_s $s s"))
    println(s"samples traced_wall_s ${tracedWalls.mkString(",")} untraced_wall_s ${plainWalls.mkString(",")}")
    (metrics, Seq("samples" -> perOp.size.toString,
      "gates" -> gates.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")))
  }
}
