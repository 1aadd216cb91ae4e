package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg._

class ExperimentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("leaderboard: mean + t-CI per config, sorted desc") {
    import spark.implicits._
    val runs = Seq(
      Experiments.RunScore("m1", "discussion", 3, 0, 0.6, 0.7, 0.5, 10),
      Experiments.RunScore("m1", "discussion", 3, 1, 0.5, 0.6, 0.4, 11),
      Experiments.RunScore("m1", "discussion", 3, 2, 0.7, 0.8, 0.6, 12),
      Experiments.RunScore("m1", "wrapper", 3, 0, 0.9, 0.9, 0.9, 9),
      Experiments.RunScore("m1", "wrapper", 3, 1, 0.8, 0.8, 0.8, 9)).toDS()
    val lb = Experiments.leaderboard(runs).collect()
    assert(lb.head.getString(1) == "wrapper")
    val disc = lb.find(_.getString(1) == "discussion").get
    assert(math.abs(disc.getDouble(5) - 0.6) < 1e-9)
    assert(disc.getDouble(6) < 0.6 && disc.getDouble(7) > 0.6)
    assert(disc.getInt(4) == 3)
    assert(disc.getString(2) == "sentence") // default fst arm
  }

  test("leaderboardPivot: technique × nb_few_shots grid of mean F1 (plot_results pivot)") {
    import spark.implicits._
    val runs = Seq(
      Experiments.RunScore("m1", "discussion", 0, 0, 0.4, 0, 0, 1),
      Experiments.RunScore("m1", "discussion", 0, 1, 0.6, 0, 0, 1),
      Experiments.RunScore("m1", "discussion", 3, 0, 0.8, 0, 0, 1),
      Experiments.RunScore("m1", "wrapper", 3, 0, 0.7, 0, 0, 1)).toDS()
    val p = Experiments.leaderboardPivot(runs, Seq(0, 3)).collect()
    assert(p.map(_.getString(0)).toSeq == Seq("discussion", "wrapper"))
    val disc = p(0); val wrap = p(1)
    assert(math.abs(disc.getDouble(1) - 0.5) < 1e-9) // mean of 0.4, 0.6
    assert(math.abs(disc.getDouble(2) - 0.8) < 1e-9)
    assert(wrap.isNullAt(1)) // arm never run → null cell, like pandas pivot
    assert(math.abs(wrap.getDouble(2) - 0.7) < 1e-9)
  }

  test("metrics table accumulates per-stage lineage across runs (north-star sink)") {
    import graft.sources.TableIO
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("metrics").toString
    val stages = Seq("prompts", "extract", "verify", "link", "canonicalize", "materialize")
    // two runs of one corpus + config: equal lineage counts per stage,
    // different wall times
    def runMetrics(runId: String, wallMs: Long) = stages.zipWithIndex.map { case (s, i) =>
      StageMetric(runId, s, 1000L - 10 * i, 990L - 10 * i, 10L, wallMs + i)
    }.toDS()
    TableIO.appendMetrics(runMetrics("run-A", 40L), dir)
    TableIO.appendMetrics(runMetrics("run-B", 55L), dir)
    val all = TableIO.readMetrics(spark, dir).collect()
    assert(all.map(_.run_id).toSet == Set("run-A", "run-B"))
    assert(all.count(_.run_id == "run-A") == all.count(_.run_id == "run-B"))
    val byStage = all.groupBy(m => (m.stage, m.run_id)).view.mapValues(_.head).toMap
    stages.foreach { s =>
      assert(byStage((s, "run-A")).rows_out == byStage((s, "run-B")).rows_out, s)
    }
    // run_id partition pruning: a run filter reaches PartitionFilters
    import org.apache.spark.sql.functions.col
    val one = spark.read.parquet(dir).filter(col("run_id") === "run-A")
    one.collect()
    val pf = one.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("run_id"), pf)
  }

  test("confidence stage attaches levels; missing keys → null level") {
    import spark.implicits._
    val cfg = TranscriptGen.Config(nConvs = 40)
    val extracted = Extraction.extractAll(
      Extraction.scoreMentions(
        Extraction.buildPrompts(TranscriptGen.transcripts(spark, cfg)), cfg), cfg)
    val conf = Extraction.withConfidence(extracted, cfg).cache()
    val n = conf.count()
    assert(n > 0)
    val withLevel = conf.filter(_.level != null)
    assert(withLevel.count() > n * 9 / 10)
    assert(withLevel.collect().forall(c => c.score >= 0.7)) // medium-high/high
    // deterministic
    val again = Extraction.withConfidence(extracted, cfg)
      .collect().map(c => (c.conv_id, c.turn_idx, c.mention, c.level)).toSet
    assert(again == conf.collect().map(c => (c.conv_id, c.turn_idx, c.mention, c.level)).toSet)
    conf.unpersist()
  }
}
