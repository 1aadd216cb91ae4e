package kgbench

import java.nio.file.{Files, Path}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._
import graft.kg.Extraction.TurnExtraction
import graft.sources.TableIO

/** Order-independent digest of a set of distinct triples. */
final case class Digest(count: Long, hashSum: Long, hashXor: Long)

object Digest {
  def of(ds: Dataset[Triple]): Digest = {
    val r = ds.toDF().agg(
      count(lit(1)),
      coalesce(sum(hash(col("subj"), col("pred"), col("obj")).cast("long")), lit(0L)),
      coalesce(expr("bit_xor(xxhash64(subj, pred, obj))"), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** The cached stages of one KG op, read by the checks and the gate
  * statistics. `ownsExtracted` is false when the extraction rows are
  * the workload's input and outlive the op. */
final case class Stages(extracted: Dataset[TurnExtraction], verified: Dataset[Mention],
                        relations: Dataset[Relation], links: Dataset[LinkMatch], canon: DataFrame,
                        triples: Dataset[Triple], catalogue: Dataset[Entity], catalogueSize: Long,
                        ownsExtracted: Boolean) {
  def release(): Unit = {
    if (ownsExtracted) extracted.unpersist()
    links.unpersist(); canon.unpersist(); triples.unpersist()
  }
}

/** What one op produced: committed triples and where (KG workloads),
  * or the experiment scores (prompt_grid). */
final case class Outcome(committed: Long, out: Option[Path], stages: Option[Stages],
                         scores: Seq[Experiments.RunScore] = Nil)

/** Result of the checks on one op: a fingerprint that must equal the
  * warm-up op's, and the checks that failed. */
final case class Verdict(fingerprint: String, failures: Seq[String])

/** One workload: its input, its op (untraced and traced) and the
  * checks on its outputs. Every op runs in the calling thread. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path) {
  import spark.implicits._

  def name: String

  /** Generates the input (part of set-up); returns its sizes. */
  def prepare(): Seq[(String, Long)]

  /** Input rows one op processes. */
  def rows: Long

  def op(opId: Int): Outcome

  /** The op again, through the same public calls in the same order and
    * with the same arguments, each inside its span, with each layer's
    * output forced once in its span. */
  def tracedOp(t: Tracer, opId: Int): Outcome

  /** Checks one op's outputs. `first` marks the first op of a session,
    * which gets the checks too costly to repeat on every op. */
  def verify(o: Outcome, first: Boolean): Verdict

  /** quality_f1 of an op's output, and the quality gates it failed. */
  def quality(o: Outcome): (Double, Seq[String])

  /** Crash-and-resume scenario of a traced run, if the workload has one:
    * it crashes a commit of `o`'s triples, then resumes it inside the
    * `tableio.resume` span of op `opId`. Returns (resume wall in s,
    * fingerprint of the resumed table, failures). */
  def resume(t: Tracer, opId: Int, o: Outcome): Option[(Double, String, Seq[String])] = None

  def release(o: Outcome): Unit = {
    o.stages.foreach(_.release())
    o.out.foreach(deleteTree)
  }

  protected def outDir(opId: Int): Path = work.resolve(s"out/op-$opId")

  /** Read-back checks shared by the workloads that commit triples: the
    * manifest and the committed count agree with the table read back,
    * whose digest is the fingerprint. With `inMemory`, the read-back
    * must also equal the op's in-memory triple set; later ops then
    * match it through the fingerprint. */
  protected def verifyCommitted(o: Outcome, inMemory: Boolean): Verdict = {
    val out = o.out.get.toString
    val readBack = Digest.of(TableIO.readTriples(spark, out))
    val manifestRows = TableIO.readManifest(out).values.map(_.rows).sum
    val expected = if (inMemory) Some(Digest.of(o.stages.get.triples)) else None
    Verdict(readBack.toString, Seq(
      expected.filter(_ != readBack).map(d => s"read-back $readBack != in-memory $d"),
      Option.when(manifestRows != readBack.count)(s"manifest rows $manifestRows != ${readBack.count}"),
      Option.when(o.committed != readBack.count)(s"committed ${o.committed} != ${readBack.count}")
    ).flatten)
  }

  protected def flatVerified(e: Dataset[TurnExtraction]): Dataset[Mention] =
    e.flatMap(x => x.verified.map { case (m, t) => Mention(x.conv_id, x.turn_idx, m, t) })
  protected def flatRelations(e: Dataset[TurnExtraction]): Dataset[Relation] =
    e.flatMap(x => x.relations.map { case (s, p, o) => Relation(x.conv_id, x.turn_idx, s, p, o) })
}

object Workload {
  val Names: Seq[String] = Seq("bulk_build", "entity_resolve", "prompt_grid")

  def apply(name: String, spark: SparkSession, seed: Long, work: Path): Workload = name match {
    case "bulk_build" => new BulkBuild(spark, seed, work)
    case "entity_resolve" => new EntityResolve(spark, seed, work)
    case "prompt_grid" => new PromptGrid(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Layer sizes and the path each size gate takes, read from an op's
    * cached stages against the program's public thresholds. Path codes:
    * 1 local (driver), 2 broadcast, 3 distributed join; 0 not reached. */
  def gates(s: Stages): Map[String, Double] = {
    val spark = s.verified.sparkSession
    import spark.implicits._
    val linkable = s.verified.filter(m => m.tag == "PERSON" || m.tag == "ORG").count()
    val distinct = EntityLinking.valuesToMatch(s.verified).count()
    val links = s.links.count()
    val accepted = s.links.filter(_.accepted).count()
    val edges = accepted + Canonicalize.aliasEdges(s.catalogue).count()
    val canonMentions = s.canon.filter(col("member").startsWith("m:")).count()
    val triples = s.triples.count()
    val r = s.extracted.map(e => (e.parsed.size.toLong, e.verified.size.toLong,
        (e.verified.size + e.relations.size).toLong))
      .toDF("p", "v", "t").agg(sum("p"), sum("v"), sum("t")).head()
    val (parsed, verified, preDistinct) = (r.getLong(0), r.getLong(1), r.getLong(2))
    def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    Map(
      "extraction.verified_ratio" -> ratio(verified, parsed),
      "entitylinking.dedup_ratio" -> ratio(distinct, linkable),
      "entitylinking.accept_ratio" -> ratio(accepted, links),
      "entitylinking.jw_pairs" -> (distinct * s.catalogueSize).toDouble,
      "entitylinking.path" -> (
        if (s.catalogueSize > EntityLinking.BroadcastCatalogueThreshold) 3.0
        else if (distinct > EntityLinking.LocalValuesThreshold) 2.0 else 1.0),
      "canonicalize.edges" -> edges.toDouble,
      "canonicalize.path" -> (if (edges > Canonicalize.LocalEdgeThreshold) 3.0 else 1.0),
      "materialize.path" -> (if (canonMentions > KGPipeline.LocalCanonThreshold) 3.0 else 2.0),
      "materialize.distinct_ratio" -> ratio(triples, preDistinct),
      "input.linkable_mentions" -> linkable.toDouble,
      "input.distinct_surfaces" -> distinct.toDouble,
      "input.catalogue" -> s.catalogueSize.toDouble)
  }

  /** Parquet files and MB under a committed table directory. */
  def filesWritten(dir: Path): (Long, Double) = {
    val files = Files.walk(dir)
    try {
      val parts = files.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toList
      (parts.size.toLong, parts.map(Files.size).sum / 1048576.0)
    } finally files.close()
  }
}

/** Corpus parquet → `KGPipeline.run` (Discussion, no shots) →
  * `TableIO.writeTriples` into a fresh directory → `appendMetrics` of
  * one run row. Extraction, materialize and the sink do the work; the
  * lexicon is tiny, so linking and canonicalization take their local
  * gates. */
final class BulkBuild(spark: SparkSession, seed: Long, work: Path) extends Workload(spark, seed, work) {
  import spark.implicits._
  val name = "bulk_build"
  val cfg: TranscriptGen.Config = TranscriptGen.Config(nConvs = BulkBuild.Convs, seed = seed)
  private val input = work.resolve("turns.parquet").toString
  private val metricsDir = work.resolve("metrics").toString
  lazy val rows: Long = (0L until cfg.nConvs).map(c => TranscriptGen.turnsFor(c, cfg).toLong).sum

  def prepare(): Seq[(String, Long)] = {
    TranscriptGen.transcripts(spark, cfg).write.mode("overwrite").parquet(input)
    Seq("conversations" -> cfg.nConvs, "turns" -> rows, "catalogue" -> Lexicon.catalogue.size.toLong)
  }

  private def turns: Dataset[Turn] = spark.read.parquet(input).as[Turn]

  private def commit(triples: Dataset[Triple], out: Path, opId: Int, t0: Long): Long = {
    val n = TableIO.writeTriples(triples, out.toString).values.map(_.rows).sum
    TableIO.appendMetrics(Seq(StageMetric(s"seed$seed-op$opId", "kg_e2e", rows, n, 0L,
      (System.nanoTime() - t0) / 1000000L)).toDS(), metricsDir)
    n
  }

  private def stages(extracted: Dataset[TurnExtraction], verified: Dataset[Mention],
                     relations: Dataset[Relation], links: Dataset[LinkMatch], canon: DataFrame,
                     triples: Dataset[Triple]) =
    Stages(extracted, verified, relations, links, canon, triples,
      TranscriptGen.entities(spark), Lexicon.catalogue.size.toLong, ownsExtracted = true)

  def op(opId: Int): Outcome = {
    val t0 = System.nanoTime()
    val r = KGPipeline.run(spark, turns, cfg)
    val out = outDir(opId)
    Outcome(commit(r.triples, out, opId, t0), Some(out),
      Some(stages(r.extracted, r.verified, r.relations, r.links, r.canonicalMap, r.triples)))
  }

  /** `KGPipeline.run`'s body (Discussion, no shots), layer by layer. */
  def tracedOp(t: Tracer, opId: Int): Outcome = {
    val t0 = System.nanoTime()
    val in = turns
    val extracted = t.span("extraction", opId) { _ =>
      val prompts = Extraction.buildPromptsWithShots(in, Array.empty, 0)
      val e = Extraction.extractAll(Extraction.scoreMentions(prompts, cfg), cfg).cache()
      (e, e.count())
    }
    val verified = flatVerified(extracted)
    val relations = flatRelations(extracted)
    val links = t.span("entitylinking", opId) { _ =>
      val l = EntityLinking.linkAdaptive(verified, Lexicon.catalogue.toArray).cache()
      (l, l.count())
    }
    val canon = t.span("canonicalize", opId) { _ =>
      val c = Canonicalize.canonicalMap(links, TranscriptGen.entities(spark)).cache()
      (c, c.count())
    }
    val triples = t.span("materialize", opId) { _ =>
      val tr = KGPipeline.materializeTriplesAdaptive(extracted, verified, relations, canon).cache()
      (tr, tr.count())
    }
    val out = outDir(opId)
    val n = t.span("tableio.write", opId) { _ => val n = commit(triples, out, opId, t0); (n, n) }
    Outcome(n, Some(out), Some(stages(extracted, verified, relations, links, canon, triples)))
  }

  def verify(o: Outcome, first: Boolean): Verdict = verifyCommitted(o, first)

  def quality(o: Outcome): (Double, Seq[String]) = {
    val prf = Metrics.triplePR(TableIO.readTriples(spark, o.out.get.toString),
      TranscriptGen.goldTriples(spark, cfg))
    (prf.f1, Seq(
      Option.when(prf.precision < 0.95)(f"triple precision ${prf.precision}%.4f < 0.95"),
      Option.when(prf.recall < 0.95)(f"triple recall ${prf.recall}%.4f < 0.95")).flatten)
  }

  /** The commit crashes after 2 of the 4 ranges; the resume re-runs the
    * pipeline and writes the missing ranges. */
  override def resume(t: Tracer, opId: Int, o: Outcome): Option[(Double, String, Seq[String])] = {
    val dir = work.resolve(s"resume/op-$opId").toString
    val crash = Try(TableIO.writeTriples(o.stages.get.triples, dir, failAfterRanges = 2))
    val partial = TableIO.readManifest(dir)
    val t0 = System.nanoTime()
    t.span("tableio.resume", opId) { _ =>
      val again = KGPipeline.run(spark, turns, cfg)
      val m = try TableIO.writeTriples(again.triples, dir) finally again.unpersistAll()
      ((), m.values.filterNot(e => partial.contains(e.range)).map(_.rows).sum)
    }
    val resumeS = (System.nanoTime() - t0) / 1e9
    val digest = Digest.of(TableIO.readTriples(spark, dir))
    deleteTree(work.resolve(s"resume/op-$opId"))
    Some((resumeS, digest.toString, Seq(
      Option.when(crash.isSuccess)("injected crash did not happen"),
      Option.when(partial.size != 2)(s"crashed commit left ${partial.size} ranges, expected 2")).flatten))
  }
}

object BulkBuild {
  val Convs = 5000L
}

/** Generated verified mentions and a generated catalogue →
  * `EntityLinking.linkAdaptive` → `Canonicalize.canonicalMap` →
  * `KGPipeline.materializeTriplesAdaptive` → `TableIO.writeTriples`.
  * More distinct surfaces than `LocalValuesThreshold`, so linking
  * scores on the cluster against a broadcast catalogue; a hot entity;
  * extraction does no work. Not declared in BENCHMARK.json: a run takes
  * longer than a bulk_build run, and three workloads do not fit the
  * benchmark's total run time. */
final class EntityResolve(spark: SparkSession, seed: Long, work: Path) extends Workload(spark, seed, work) {
  import spark.implicits._
  val name = "entity_resolve"
  val gen: EntityResolveGen = EntityResolveGen(seed, EntityResolve.BaseEntities, EntityResolve.Strangers, EntityResolve.Turns)
  private var extracted: Dataset[TurnExtraction] = _
  private var catalogue: Dataset[Entity] = _
  private var mentionRows = 0L

  def rows: Long = mentionRows

  def prepare(): Seq[(String, Long)] = {
    extracted = gen.extracted(spark).cache()
    catalogue = spark.createDataset(gen.catalogue).cache()
    mentionRows = flatVerified(extracted).count()
    Seq("turns" -> gen.nTurns, "mention_rows" -> mentionRows, "catalogue" -> catalogue.count(),
      "aliases" -> gen.aliases.size.toLong, "strangers" -> gen.strangers.size.toLong,
      "surfaces" -> gen.truth.size.toLong)
  }

  private def stages(links: Dataset[LinkMatch], canon: DataFrame, triples: Dataset[Triple]) =
    Stages(extracted, flatVerified(extracted), flatRelations(extracted), links, canon, triples,
      catalogue, gen.catalogue.size.toLong, ownsExtracted = false)

  def op(opId: Int): Outcome = {
    val verified = flatVerified(extracted)
    val relations = flatRelations(extracted)
    val links = EntityLinking.linkAdaptive(verified, catalogue).cache()
    val canon = Canonicalize.canonicalMap(links, catalogue).cache()
    val triples = KGPipeline.materializeTriplesAdaptive(extracted, verified, relations, canon)
    val out = outDir(opId)
    val n = TableIO.writeTriples(triples, out.toString).values.map(_.rows).sum
    Outcome(n, Some(out), Some(stages(links, canon, triples)))
  }

  def tracedOp(t: Tracer, opId: Int): Outcome = {
    val verified = flatVerified(extracted)
    val relations = flatRelations(extracted)
    val links = t.span("entitylinking", opId) { _ =>
      val l = EntityLinking.linkAdaptive(verified, catalogue).cache()
      (l, l.count())
    }
    val canon = t.span("canonicalize", opId) { _ =>
      val c = Canonicalize.canonicalMap(links, catalogue).cache()
      (c, c.count())
    }
    val triples = t.span("materialize", opId) { _ =>
      val tr = KGPipeline.materializeTriplesAdaptive(extracted, verified, relations, canon).cache()
      (tr, tr.count())
    }
    val out = outDir(opId)
    val n = t.span("tableio.write", opId) { _ =>
      val n = TableIO.writeTriples(triples, out.toString).values.map(_.rows).sum
      (n, n)
    }
    Outcome(n, Some(out), Some(stages(links, canon, triples)))
  }

  private def canonical(o: Outcome): Map[String, String] =
    o.stages.get.canon.as[(String, String)].collect().toMap

  /** Every alias entity must land on its base entity's id. */
  def verify(o: Outcome, first: Boolean): Verdict = {
    val canon = canonical(o)
    val wrong = gen.aliases.filterNot(a => canon.get("e:" + a.entity_id).contains(a.entity_id.stripSuffix("x")))
    val v = verifyCommitted(o, first)
    v.copy(failures = v.failures ++
      Option.when(wrong.nonEmpty)(s"${wrong.size} alias entities not mapped to their base id"))
  }

  /** Share of the linkable surfaces resolved as the generator made
    * them: to their entity's id, or left unlinked for a stranger. */
  def quality(o: Outcome): (Double, Seq[String]) = {
    val canon = canonical(o)
    val right = gen.truth.count { case (s, id) => canon.get("m:" + s) == id }
    (right.toDouble / gen.truth.size, Nil)
  }
}

object EntityResolve {
  val BaseEntities = 60
  val Strangers = 17000
  val Turns = 8000L
}

/** `Experiments.classicalTest` over Discussion, Filing and AtAt, each
  * with no shots, sentence k=3 and entity k=3, two runs, then the
  * collected `Experiments.leaderboard`. Per-turn few-shot retrieval,
  * per-technique respond/parse and concurrent arms; no linking,
  * canonicalization or sink.
  *
  * The corpus is fixed: TranscriptGen's default seed, whatever
  * `--seed` says. The op's cost is set by how many oversized turns land
  * in the few-shot pool (every prompt that retrieves one outgrows the
  * prompt guard after its shots were scored), and that count varies by
  * a third from one corpus seed to the next at any size this benchmark
  * can afford to run. */
final class PromptGrid(spark: SparkSession, seed: Long, work: Path) extends Workload(spark, seed, work) {
  import spark.implicits._
  import Experiments.{Arm, RunScore}
  import PromptGrid._
  val name = "prompt_grid"
  val cfg: TranscriptGen.Config = TranscriptGen.Config(nConvs = Convs)
  val arms: Seq[Arm] = for {
    tech <- Seq(PromptTechniques.Discussion, PromptTechniques.Filing, PromptTechniques.AtAt)
    (fst, k) <- Seq((Extraction.FstNone, 0), (Extraction.FstSentence, 3), (Extraction.FstEntity, 3))
  } yield Arm(tech, fst, k)
  private var testTurns = 0L

  def rows: Long = testTurns * arms.size

  def prepare(): Seq[(String, Long)] = {
    val turns = TranscriptGen.transcripts(spark, cfg)
    testTurns = (0 until Runs).map { run =>
      Experiments.seededSplit(turns, "conv_id", TestPct, Experiments.RunSeeds(run % Experiments.RunSeeds.length))
        ._2.count()
    }.sum
    Seq("conversations" -> cfg.nConvs, "corpus_seed" -> cfg.seed, "test_turns_all_runs" -> testTurns,
      "arms" -> arms.size.toLong, "runs" -> Runs.toLong)
  }

  def op(opId: Int): Outcome = {
    val scores = Experiments.classicalTest(spark, cfg, arms, nbRuns = Runs, testPct = TestPct,
      poolSize = PoolSize)
    Experiments.leaderboard(scores).collect()
    Outcome(0, None, None, scores.collect().toSeq)
  }

  /** `classicalTest`'s body with the same run and arm concurrency. */
  def tracedOp(t: Tracer, opId: Int): Outcome = t.span("experiments.grid", opId) { grid =>
    val turns = TranscriptGen.transcripts(spark, cfg).cache()
    val gold = TranscriptGen.goldMentions(spark, cfg).cache()
    try {
      Await.result(Future.sequence(Seq(
        Future(t.within(grid)(turns.count())), Future(t.within(grid)(gold.count())))), Duration.Inf)
      val scores = Await.result(Future.sequence((0 until Runs).map { run => Future {
        t.within(grid) {
          val seed = Experiments.RunSeeds(run % Experiments.RunSeeds.length)
          val (trainT, testT) = Experiments.seededSplit(turns, "conv_id", TestPct, seed)
          val (trainG, testG) = Experiments.seededSplit(gold, "conv_id", TestPct, seed)
          val pool = t.span("fewshots.pool", opId, grid) { _ =>
            val p = FewShots.buildPool(trainT, trainG, PoolSize)
            (p, p.length.toLong)
          }
          val testGoldCached = testG.cache()
          val armScores = Await.result(Future.sequence(arms.map { arm => Future {
            t.within(grid) {
              val t0 = System.nanoTime()
              val mentions = t.span("extraction.fewshot_detect", opId, grid) { _ =>
                val prompts = Extraction.buildPromptsWithShots(
                  testT, if (arm.nbFewShots > 0) pool else Array.empty, arm.nbFewShots, arm.fst)
                val m = PromptTechniques.detectMentions(prompts, arm.technique, cfg).cache()
                (m, m.count())
              }
              val prf = t.span("metrics.eval", opId, grid) { _ =>
                val prf = Metrics.weightedPRF(Metrics.align(mentions, testGoldCached))
                (prf, prf.support)
              }
              mentions.unpersist()
              RunScore("deterministic-scorer", arm.technique.name, arm.nbFewShots, run,
                prf.f1, prf.precision, prf.recall, (System.nanoTime() - t0) / 1e9,
                if (arm.nbFewShots > 0) arm.fst else Extraction.FstNone)
            }
          } }), Duration.Inf)
          testGoldCached.unpersist()
          armScores
        }
      } }), Duration.Inf).flatten
      val ds = spark.createDataset(scores)
      val board = Experiments.leaderboard(ds).collect()
      (Outcome(0, None, None, scores), board.length.toLong)
    } finally { turns.unpersist(); gold.unpersist() }
  }

  /** Scores must repeat exactly from op to op; the leaderboard holds
    * one row per arm. */
  def verify(o: Outcome, first: Boolean): Verdict = {
    val fp = o.scores.map(s => (s.technique, s.fst, s.nb_few_shots, s.run_idx, s.f1, s.precision, s.recall))
      .sortBy(s => (s._1, s._2, s._3, s._4)).mkString(";")
    Verdict(fp, Seq(
      Option.when(o.scores.size != arms.size * Runs)(
        s"${o.scores.size} scores, expected ${arms.size * Runs}"),
      Option.when(o.scores.exists(s => !(s.f1 > 0 && s.f1 <= 1)))("an arm scored F1 outside (0, 1]")
    ).flatten)
  }

  /** Mean mention F1 over the arms. */
  def quality(o: Outcome): (Double, Seq[String]) = (o.scores.map(_.f1).sum / o.scores.size, Nil)
}

object PromptGrid {
  val Convs = 120L
  val Runs = 2
  val TestPct = 20
  val PoolSize = 240
}
