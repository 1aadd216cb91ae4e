package kgbench

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.{Canonicalize, EntityLinking}

class EntityResolveGenSpec extends AnyFunSuite {
  private def gen(seed: Long) = EntityResolveGen(seed, nBase = 30, nStrangers = 3000, nTurns = 2000)
  private def rows(g: EntityResolveGen) = (0L until g.nTurns).map(g.turn)

  test("the same seed gives identical inputs") {
    val (a, b) = (gen(7), gen(7))
    assert(a.catalogue == b.catalogue)
    assert(rows(a) == rows(b))
    assert(a.truth == b.truth)
  }

  test("another seed gives other inputs") {
    val (a, b) = (gen(7), gen(8))
    assert(a.catalogue.map(_.display_name) != b.catalogue.map(_.display_name))
    assert(rows(a) != rows(b))
  }

  test("rows cover every surface of the grid once they outnumber it") {
    val g = gen(3)
    val surfaces = rows(g).flatMap(_.verified.map(_._1)).toSet
    assert(surfaces == g.truth.keySet)
    assert(g.truth.size == g.gridSize)
  }

  test("every tenth row is the hot entity") {
    val g = gen(3)
    val hot = g.base.head.display_name
    val ms = (0L until 1000L).map(g.mention)
    assert(ms.count(_._1 == hot) >= 100)
    assert((9L until 1000L by 10).forall(j => g.mention(j)._1 == hot))
  }

  test("base names are distinct after normalisation; aliases normalise to their base") {
    val g = gen(5)
    assert(g.base.map(e => Canonicalize.normalizeName(e.display_name)).distinct.size == g.base.size)
    val byId = g.base.map(e => e.entity_id -> e).toMap
    g.aliases.foreach { a =>
      assert(Canonicalize.normalizeName(a.display_name) ==
        Canonicalize.normalizeName(byId(a.entity_id.stripSuffix("x")).display_name))
    }
  }

  test("the benchmark's sizes put linking above the local-scoring threshold") {
    val g = EntityResolveGen(1, EntityResolve.BaseEntities, EntityResolve.Strangers, EntityResolve.Turns)
    assert(g.truth.size > EntityLinking.LocalValuesThreshold)
    assert(g.nTurns * EntityResolveGen.MentionsPerTurn * 9 / 10 >= g.gridSize)
  }
}
