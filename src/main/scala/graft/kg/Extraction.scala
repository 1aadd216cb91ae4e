package graft.kg

import org.apache.spark.sql.Dataset
import graft.functions.{Parsers, TextAnalytics}

/** Mention + relation extraction stages (SURVEY.md §7.0 steps 1-4).
  * Each stage is a declarative Dataset transform; the only imperative
  * code is inside `mapPartitions` batches where the scorer lives.
  * All stages carry (conv_id, turn_idx) so the stable turn ordering
  * of the north rule is a key property, not an accident of plan
  * order.
  */
object Extraction {

  /** Prompt building + the oversized-prompt drop. The reference skips
    * prompts over the context budget (pt_abstract.py:54-60) — an
    * important drop semantic; dropped rows are COUNTED by the caller
    * via the returned datasets, not silently lost. Also applies the
    * brace filter the reference bakes into dataset cleaning
    * (Conll2003Dataset.py:62-63) and drops empty texts. */
  def buildPrompts(turns: Dataset[Turn]): Dataset[Prompt] =
    buildPromptsWithShots(turns, Array.empty, 0)

  /** Few-shot technique names (few_shots_techniques.py): sentence-kNN
    * (FST_Sentence :67-88), entity/token-kNN (FST_Entity :102-124),
    * random control (FST_Random :55-58), no-shots (FST_NoShots
    * :44-47 — the k=0 / empty-pool case). */
  val FstSentence = "sentence"
  val FstEntity = "entity"
  val FstRandom = "random"
  val FstNone = "no-shots"

  /** Prompt building with an optional few-shot block
    * (pt_abstract.get_few_shots, pt_abstract.py:75-89): per turn, k
    * examples retrieved from the broadcast pool — sentence-kNN by
    * embedding cosine (few_shots_techniques.py:71-81) or the random
    * control arm (:55-58, seeded by content hash, never rand()) —
    * rendered as EXAMPLE lines ahead of the input sentinel. Retrieval
    * is a narrow mapPartitions pass over the broadcast pool: no
    * shuffle, no driver loop, O(|pool|) per turn with a bounded pool.
    * Keeps the reference's drop semantics: brace filter, empty-text
    * drop, oversized-prompt drop (pt_abstract.py:54-60) — the length
    * guard runs AFTER the shot block is attached, exactly like the
    * reference counts the full assembled prompt. */
  def buildPromptsWithShots(turns: Dataset[Turn], pool: Array[FewShots.ShotExample],
                            k: Int, fst: String = FstSentence): Dataset[Prompt] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(pool)
    turns
      .filter(t => t.text.nonEmpty && !t.text.contains("{"))
      .mapPartitions { it =>
        val shots = bc.value
        // partition-constant index for the FstEntity arm — built once
        // per partition, not per row (same hoist as Ann.planeMatrix)
        lazy val entityIndex: Array[(Int, Array[Float])] =
          shots.iterator.zipWithIndex.flatMap { case (ex, i) =>
            ex.entityVecs.iterator.map(ev => (i, ev))
          }.toArray
        it.map { t =>
          val block =
            if (k <= 0 || shots.isEmpty) ""
            else {
              val chosen: Seq[FewShots.ShotExample] = fst match {
                case FstRandom =>
                  // seeded draws, deduped by index, first k
                  val idxs = Iterator.from(0)
                    .map(i => graft.functions.Hashing.bucket(
                      graft.functions.Hashing.hash64(s"${t.conv_id}#${t.turn_idx}#rnd$i"), shots.length))
                    .take(4 * k + 8).toSeq.distinct.take(k)
                  idxs.map(shots(_))
                case FstEntity =>
                  // per query token: top-k vs ALL pool entity embeddings;
                  // merge by score desc, dedup pool row keeping best,
                  // truncate to k (FST_Entity, few_shots_techniques
                  // .py:110-124 — the idx-dedup-after-sort semantics).
                  // Bounded heaps throughout: O(k) space per token.
                  val ord: Ordering[(Double, Int)] = Ordering.by { case (s, i) => (-s, i) }
                  val qTokens = t.text.split("\\s+").filter(_.nonEmpty)
                    .map(w => TextAnalytics.embedText(w))
                  val merged = qTokens.iterator.flatMap { qv =>
                    graft.functions.TopK.smallest(
                      entityIndex.iterator.map { case (i, ev) =>
                        (graft.functions.StringSim.cosine(qv, ev), i)
                      }, k)(ord)
                  }.toArray.sorted(ord)
                  val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
                  merged.foreach { case (_, i) => seen += i }
                  seen.take(k).toSeq.map(shots(_))
                case _ => // sentence-kNN, ties by pool index (stable argsort)
                  val qv = TextAnalytics.embedText(t.text)
                  graft.functions.TopK.smallest(
                    shots.iterator.zipWithIndex.map { case (ex, i) =>
                      (graft.functions.StringSim.cosine(qv, ex.vec), i)
                    }, k)(Ordering.by { case (s, i) => (-s, i) })
                    .map { case (_, i) => shots(i) }.toSeq
              }
              "### ASSISTANT : Can you provide me examples ?\n" +
                "### USER : There are examples :\n" +
                chosen.map(ex => s"${Scorer.ExampleMarker}${ex.text} -> ${ex.output}").mkString("\n") + "\n"
            }
          val prompt = s"### SYSTEM : The task is to extract named entities in a sentence.\n" +
            block +
            s"### USER : <start_input> ${t.text} <end_input>\n### ASSISTANT : <start_output> ["
          Prompt(t.conv_id, t.turn_idx, t.text, prompt, TextAnalytics.tokenCountWs(prompt))
        }
      }
      .filter(_.prompt_tokens <= TranscriptGen.MaxPromptTokens)
  }

  /** Batched mention scorer: matcher built once per partition
    * (replaces the reference's per-sentence model invocation,
    * llm/LLMModel.py:87-91). */
  def scoreMentions(prompts: Dataset[Prompt], cfg: TranscriptGen.Config): Dataset[Scored] = {
    import prompts.sparkSession.implicits._
    prompts.mapPartitions { it =>
      val matcher = Scorer.newMatcher() // per-partition "model load"
      it.map { p =>
        Scored(p.conv_id, p.turn_idx, p.text,
          Scorer.mentionResponse(matcher, p.conv_id, p.turn_idx, p.text, cfg,
            Scorer.exampleBlockOf(p.prompt)))
      }
    }
  }

  /** Parse the discussion-format responses into mention rows
    * (pt_discussion.py:41-59 semantics, tag filter included). */
  val MentionTags: Set[String] = Set("PERSON", "ORG", "GPE")

  def parseMentions(scored: Dataset[Scored]): Dataset[Mention] = {
    import scored.sparkSession.implicits._
    scored.flatMap { s =>
      Parsers.parseTupleList(s.response, MentionTags)
        .map { case (ne, tag) => Mention(s.conv_id, s.turn_idx, ne, tag) }
    }
  }

  /** Everything the per-turn extraction chain produces in one narrow
    * pass: parsed mentions, verifier-surviving mentions, relations. */
  final case class TurnExtraction(
      conv_id: String,
      turn_idx: Int,
      parsed: Seq[(String, String)],
      verified: Seq[(String, String)],
      relations: Seq[(String, String, String)])

  /** The fused per-turn extraction: parse the mention response, run
    * the verifier on each mention, then the stage-2 relation chain on
    * the verified set — all inside ONE narrow mapPartitions, because
    * every input (text, response, mentions) is turn-local. This is
    * exactly the reference's per-sentence control flow
    * (pt_abstract.run_prompt: parse → verify → confidence,
    * pt_abstract.py:45-73; chained stage-2 pt_multi_pt.py:81-90) —
    * and the 100-TB design: per-turn work is embarrassingly parallel,
    * shuffles happen only where semantics demand them (linking
    * aggregation, canonicalization, final distinct). */
  def extractAll(scored: Dataset[Scored], cfg: TranscriptGen.Config): Dataset[TurnExtraction] = {
    import scored.sparkSession.implicits._
    scored.mapPartitions { it =>
      it.map { s =>
        val parsed = Parsers.parseTupleList(s.response, MentionTags)
        extractTurn(s, parsed, cfg)
      }
    }
  }

  /** Technique-parameterized variant: detection runs under any of the
    * five prompt techniques (scoring + parsing fused, like the
    * discussion path), then the shared verify/relations chain. */
  def extractAllWith(prompts: Dataset[Prompt], tech: graft.kg.PromptTechniques.Technique,
                     cfg: TranscriptGen.Config): Dataset[TurnExtraction] = {
    import prompts.sparkSession.implicits._
    prompts.mapPartitions { it =>
      val m = Scorer.newMatcher()
      it.map { p =>
        val parsed = PromptTechniques.parse(tech,
          PromptTechniques.respond(tech, m, p.conv_id, p.turn_idx, p.text, cfg,
            Scorer.exampleBlockOf(p.prompt)))
        extractTurn(Scored(p.conv_id, p.turn_idx, p.text, ""), parsed, cfg)
      }
    }
  }

  /** Single-turn extraction for per-row contexts (streaming state
    * functions): score → parse → verify → relations on one turn. */
  def extractTurnRow(matcher: Scorer.Matcher, convId: String, turnIdx: Int,
                     text: String, cfg: TranscriptGen.Config): TurnExtraction = {
    val parsed = Parsers.parseTupleList(
      Scorer.mentionResponse(matcher, convId, turnIdx, text, cfg), MentionTags)
    extractTurn(Scored(convId, turnIdx, text, ""), parsed, cfg)
  }

  private def extractTurn(s: Scored, parsed: List[(String, String)],
                          cfg: TranscriptGen.Config): TurnExtraction = {
    val verified = parsed.filter { case (ne, tag) =>
      val resp = Scorer.verifierResponse(s.conv_id, s.turn_idx, ne, tag, s.text, cfg)
      Parsers.verifierAnswer(resp).contains(true)
    }
    val ordered = verified.sortBy { case (m, _) =>
      val i = s.text.indexOf(m); if (i < 0) Int.MaxValue else i
    }
    val relResp = Scorer.relationResponse(s.conv_id, s.turn_idx, s.text, ordered, cfg)
    val rels = Parsers.parseFilingJson(relResp, Scorer.RelationPreds).flatMap { case (pair, pred) =>
      val arrow = pair.indexOf(" -> ")
      if (arrow < 0) Nil
      else List((pair.substring(0, arrow), pred, pair.substring(arrow + 4)))
    }
    TurnExtraction(s.conv_id, s.turn_idx, parsed, verified, rels)
  }

  /** One verified mention with its confidence level and numeric score
    * (confidence_checker semantics; missing key → null level). */
  final case class MentionConfidence(
      conv_id: String,
      turn_idx: Int,
      mention: String,
      tag: String,
      level: String, // nullable
      score: Double)

  /** Confidence-checker pass (confidence_checker.py:7-35 +
    * pt_abstract.py:68-71): one scorer call per turn attaching a
    * level to each verified span; spans missing from the response
    * dict get a null level and score 0 (the reference degenerates
    * them to the literal 'None'). Narrow over the extracted rows. */
  def withConfidence(extracted: Dataset[TurnExtraction],
                     cfg: TranscriptGen.Config): Dataset[MentionConfidence] = {
    import extracted.sparkSession.implicits._
    extracted.mapPartitions { it =>
      it.flatMap { e =>
        if (e.verified.isEmpty) Iterator.empty
        else {
          // the scorer needs the turn text only to seed; confidence is
          // per-mention content-hashed, so pass a stable surrogate
          val resp = Scorer.confidenceResponse(e.conv_id, e.turn_idx, "", e.verified, cfg)
          Parsers.parseConfidenceJson(resp, e.verified.toList).iterator.map {
            case (ne, tag, levelOpt) =>
              MentionConfidence(e.conv_id, e.turn_idx, ne, tag,
                levelOpt.orNull,
                levelOpt.flatMap(Parsers.ConfidenceLevels.get).getOrElse(0.0))
          }
        }
      }
    }
  }

  /** One mention with its per-tag logits and the reference's six
    * confidence variants evaluated at the outputted tag
    * (evaluating_confidence.py show_confidence points, :140-160):
    * `correct` = (gold tag == outputted tag), the label ROC/AUC is
    * computed over. `calibrated` is the logistic-calibration score
    * over the logits (fixed broadcast weights). */
  final case class MentionLogits(
      conv_id: String,
      turn_idx: Int,
      mention: String,
      gold_tag: String,
      outputted_tag: String,
      logits: Seq[Double],
      conf_softmax: Double,
      conf_softmax_min: Double,
      conf_softmax_max: Double,
      conf_proba_direct: Double,
      conf_proba_centered: Double,
      conf_transparent: Double,
      calibrated: Double,
      correct: Boolean)

  /** Fixed logistic-calibration weights (per-tag logit weights + bias).
    * Training happens offline in the reference's notebook; these are
    * the deployed coefficients the scorer ships with. */
  val CalibrationWeights: Array[Double] = Array(0.9, 0.9, 0.9)
  val CalibrationBias: Double = -1.5

  /** Logit-confidence stage (evaluating_confidence.py:56-77 +
    * :98-160): per verified mention, per-tag logits from the scorer,
    * the six confidence functions evaluated at the outputted tag, the
    * calibrated score, and the correctness label. Narrow pass. */
  def withLogits(extracted: Dataset[TurnExtraction],
                 cfg: TranscriptGen.Config): Dataset[MentionLogits] = {
    import extracted.sparkSession.implicits._
    extracted.flatMap { e =>
      e.verified.map { case (ne, tag) =>
        val (out, logits) = Scorer.tagLogits(e.conv_id, e.turn_idx, ne, tag, cfg)
        val oi = Scorer.TagVocab.indexOf(out)
        def at(fn: Array[Double] => Array[Double]) = fn(logits)(oi)
        MentionLogits(e.conv_id, e.turn_idx, ne, tag, out, logits.toSeq,
          at(graft.functions.Confidence.softmax),
          at(graft.functions.Confidence.softmaxMin),
          at(graft.functions.Confidence.softmaxMax),
          at(graft.functions.Confidence.probaDirect),
          at(graft.functions.Confidence.probaCentered),
          at(graft.functions.Confidence.transparent),
          graft.functions.Confidence.logisticScore(logits, CalibrationWeights, CalibrationBias),
          tag == out)
      }
    }
  }
}
