package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.Canonicalize

class CanonicalizeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("local union-find and distributed hash-min agree on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vertices = (0 until 300).map(i => f"v$i%03d")
    val edges = (0 until 350).map { _ =>
      (vertices(rnd.nextInt(vertices.length)), vertices(rnd.nextInt(vertices.length)))
    }.filter { case (a, b) => a != b }
    val local = Canonicalize.unionFind(edges)
    val dist = Canonicalize.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == dist)
    assert(local.nonEmpty)
    // component label is the min member
    dist.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.keys.min == comp)
    }
  }

  test("chain graph: long diameter converges") {
    import spark.implicits._
    val edges = (0 until 40).map(i => (f"c$i%02d", f"c${i + 1}%02d"))
    val local = Canonicalize.unionFind(edges)
    assert(local.values.toSet == Set("c00"))
    val dist = Canonicalize.connectedComponents(edges.toDF("src", "dst"), maxIter = 50)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist == local)
  }

  test("canonicalMapLocal ≡ canonicalMapDistributed on a mixed graph") {
    import spark.implicits._
    val edges = Seq(
      ("m:Alice Jonson", "e:P0001"), ("e:P0001x", "e:P0001"),
      ("m:Acme", "e:O0002"), ("m:Lone Mention", "e:Zz"),
      ("e:Q9", "e:Q8"), ("e:Q8", "e:Q7"))
    val local = Canonicalize.canonicalMapLocal(edges).toMap
    val distDf = Canonicalize.canonicalMapDistributed(edges.toDF("src", "dst"))
    val dist = distDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == dist)
    assert(local("e:P0001x") == "P0001")
    assert(local("m:Alice Jonson") == "P0001")
    assert(local("e:Q9") == "Q7")
  }

  test("linkLocal ≡ distributed linking on the fixture catalogue") {
    import spark.implicits._
    val cat = graft.kg.Lexicon.catalogue.toArray
    val mentions = Seq("Alice Johnson", "Alice J. Johnson", "Meridian Bank",
      "Tundra Robotics", "Bruno Keler").flatMap(m =>
      Seq(graft.kg.Mention("c", 0, m, "PERSON")))
    val ds = mentions.toDS()
    val dist = graft.kg.EntityLinking.matches(
      graft.kg.EntityLinking.proposals(
        graft.kg.EntityLinking.valuesToMatch(ds), cat))
      .collect().map(l => l.mention -> l).toMap
    val local = graft.kg.EntityLinking.linkLocal(mentions.map(_.mention).distinct, cat)
      .map(l => l.mention -> l).toMap
    assert(dist.keySet == local.keySet)
    dist.foreach { case (m, d) =>
      val l = local(m)
      assert(d.entity_id == l.entity_id, m)
      assert(math.abs(d.confidence - l.confidence) < 1e-12, m)
      assert(d.accepted == l.accepted, m)
    }
  }

  test("normalizeName drops middle initials and punctuation") {
    assert(Canonicalize.normalizeName("Alice J. Johnson") == "alice johnson")
    assert(Canonicalize.normalizeName("ACME Industries") == "acme industries")
  }
}
