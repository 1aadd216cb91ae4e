package kgbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.functions.Hashing
import graft.kg.{Canonicalize, Entity, Lexicon}
import graft.kg.Extraction.TurnExtraction

/** Input of the entity_resolve workload, a pure function of the seed.
  *
  *  - A catalogue of `nBase` synthetic people and organisations with
  *    pairwise distinct normalised names, plus a near-duplicate alias
  *    (`Lexicon.variant(name, 1)`, id suffixed "x") for about 20 % of
  *    them, as in `Lexicon.catalogue`.
  *  - Verified mention rows, `MentionsPerTurn` to a turn, each turn with
  *    one relation between its first two mentions. A row names either a
  *    catalogue entity under one of `SurfacesPerEntity` surface forms
  *    (the name, the three `Lexicon.variant`s, single-letter typos) or
  *    one of `nStrangers` people and organisations the catalogue does
  *    not hold. Rows walk this grid of surfaces with a stride, so every
  *    surface occurs once the rows outnumber the grid: the number of
  *    distinct linkable surfaces is fixed by the sizes, not by chance.
  *  - One hot entity: every tenth row carries its exact name.
  */
final case class EntityResolveGen(seed: Long, nBase: Int, nStrangers: Int, nTurns: Long) {
  import EntityResolveGen._

  /** Base entities, in id order; each id is P/O + index. */
  lazy val base: Vector[Entity] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    Iterator.from(0).map(i => (i, name(i))).filter { case (_, n) => seen.add(Canonicalize.normalizeName(n)) }
      .take(nBase).zipWithIndex.map { case ((_, n), k) =>
        if (k % 3 == 2) Entity(f"O$k%05d", n, "Entreprise") else Entity(f"P$k%05d", n, "Personne")
      }.toVector
  }

  lazy val aliases: Vector[Entity] = base
    .filter(e => Hashing.bucket(Hashing.hash64(e.entity_id, seed ^ 0xA11A5L), 100) < AliasPct)
    .map(e => Entity(e.entity_id + "x", Lexicon.variant(e.display_name, 1), e.entity_type))

  lazy val catalogue: Vector[Entity] = base ++ aliases

  /** Surface `v` of base entity `e`: 0 is the name, 1-3 the
    * `Lexicon.variant`s, the rest single-letter substitutions at
    * distinct (letter position, shift) pairs. */
  def surface(e: Int, v: Int): String = {
    val n = base(e).display_name
    if (v < 4) Lexicon.variant(n, v)
    else {
      val letters = n.indices.filter(i => n.charAt(i).isLetter)
      val k = v - 4
      val pos = letters(k % letters.length)
      val shift = 1 + k / letters.length
      val sub = ('a' + (n.charAt(pos).toLower - 'a' + shift) % 26).toChar
      n.substring(0, pos) + sub + n.substring(pos + 1)
    }
  }

  /** Names outside the catalogue: three words, so never equal to a
    * catalogue surface (two words, or a dotted initial). */
  lazy val strangers: Vector[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    Iterator.from(0).map(i => s"${word(i, 3)} ${word(i, 4)} ${word(i, 5)}").filter(seen.add)
      .take(nStrangers).toVector
  }

  def gridSize: Int = nBase * SurfacesPerEntity + nStrangers
  require(gridSize % Stride != 0, "the row walk must cover the surface grid")

  /** (surface, tag, true base id or null for a stranger) of grid cell `c`. */
  private def cell(c: Int): (String, String, String) =
    if (c < nBase * SurfacesPerEntity) {
      val e = base(c / SurfacesPerEntity)
      (surface(c / SurfacesPerEntity, c % SurfacesPerEntity),
        if (e.entity_id.startsWith("P")) "PERSON" else "ORG", e.entity_id)
    } else {
      val i = c - nBase * SurfacesPerEntity
      (strangers(i), if (i % 3 == 2) "ORG" else "PERSON", null)
    }

  /** (surface, tag, true base id or null) of mention row `j`. The k-th
    * row that is not hot takes grid cell (k * Stride + offset) mod grid. */
  def mention(j: Long): (String, String, String) =
    if (j % 10 == 9) cell(0)
    else cell(Math.floorMod((j - j / 10) * Stride + Hashing.mix64(seed), gridSize.toLong).toInt)

  def turn(t: Long): TurnExtraction = {
    val ms = (0 until MentionsPerTurn).map(i => mention(t * MentionsPerTurn + i))
    val spans = ms.map { case (s, tag, _) => (s, tag) }.distinct
    val rel = (ms(0), ms(1)) match {
      case ((s, "PERSON", _), (o, "ORG", _)) => Seq((s, "works_for", o))
      case ((s, "PERSON", _), (o, _, _)) => Seq((s, "met", o))
      case ((s, _, _), (o, _, _)) => Seq((s, "acquired", o))
    }
    TurnExtraction(f"conv-${t / 10}%08d", (t % 10).toInt, spans, spans, rel)
  }

  /** The pipeline's cached extraction rows for this input. */
  def extracted(spark: SparkSession): Dataset[TurnExtraction] = {
    import spark.implicits._
    val g = this
    spark.range(nTurns).map(t => g.turn(t))
  }

  /** Every surface of the grid with the base id it was made from, or
    * None for a stranger (the lowest id when two entities yield the
    * same string). */
  lazy val truth: Map[String, Option[String]] =
    (0 until gridSize).map(cell).groupBy(_._1).map { case (s, cs) => s -> cs.map(c => Option(c._3)).min }

  private def word(i: Int, salt: Long): String = {
    val h = Hashing.hash64(i.toLong * 0x9E3779B97F4A7C15L + salt, seed)
    (0 until 3).map(k => Syllables(Hashing.bucket(Hashing.hash64(h + k, salt), Syllables.length)))
      .mkString.capitalize
  }

  private def name(i: Int): String = s"${word(i, 1)} ${word(i, 2)}"
}

object EntityResolveGen {
  val AliasPct = 20
  val MentionsPerTurn = 3
  val SurfacesPerEntity = 76
  /** A prime: the walk covers any grid whose size it does not divide. */
  val Stride = 7919L
  private val Syllables = Vector("ka", "lo", "mi", "ren", "sa", "tor", "vel", "an", "bri", "cor",
    "da", "el", "fin", "gar", "hol", "is", "jo", "lan", "mor", "nu", "os", "pel", "ru", "sim",
    "tan", "ul", "vor", "wen", "yo", "zar")
}
