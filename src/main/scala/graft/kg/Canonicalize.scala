package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Canonicalization: connected components over accepted `sameAs`
  * edges, canonical id = min member per component (SURVEY §7.0 step
  * 6). The reference delegates this merge to a human via Excel
  * (entityMatching.py:170-430); we close it with an iterative
  * DataFrame fixpoint.
  *
  * Algorithm: hash-min label propagation. Each vertex starts labeled
  * with itself; every round each vertex takes the min label among
  * itself and its neighbors; stop when no label changes. Rounds =
  * O(graph diameter) — our link graphs are star-shaped (mention ↔
  * entity ↔ alias), diameter ≤ 4. `localCheckpoint` every round cuts
  * the growing lineage (SURVEY §7.3 plan-growth hazard).
  *
  * Skew: a hot mention string produces one high-degree vertex. The
  * groupBy(dst).min aggregation handles it with map-side partial
  * aggregation (hash-min is algebraic), so no salting is needed
  * here — the skew collapses in the combiner. AQE skew-join handles
  * the join side.
  */
object Canonicalize {

  /** edges: (src, dst) string pairs, undirected. Returns
    * (vertex, component) with component = min vertex id reachable,
    * computed by the distributed hash-min loop. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()

    // Adapt the loop's shuffle width to the measured graph size: the
    // iteration runs MANY tiny jobs, and per-partition overhead
    // dominates when the distinct-vertex graph is orders of magnitude
    // smaller than the corpus (typical: |distinct mentions| ≪ |turns|).
    // The width is applied with explicit repartition() inside the loop
    // — NOT by mutating the session-global shuffle-partitions conf,
    // which would race against concurrent queries on the same session.
    val nEdges = sym.count()
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val loopPartitions = math.max(4L, math.min(sessionWidth, nEdges / 100000L + 1)).toInt
    connectedComponentsLoop(sym.repartition(loopPartitions, col("src")), maxIter, loopPartitions)
  }

  private def connectedComponentsLoop(sym: DataFrame, maxIter: Int,
                                      width: Int): DataFrame = {
    var labels = sym.select(col("src").as("vertex")).distinct()
      .withColumn("label", col("vertex"))
      .repartition(width, col("vertex"))
      .localCheckpoint()

    var changed = 1L
    var iter = 0
    // maxIter is a safety valve, not an accuracy knob: rounds needed =
    // O(graph diameter); leaving the loop with changed > 0 would
    // silently return WRONG component labels, so that case throws.
    while (changed > 0 && iter < maxIter) {
      // candidate label for each vertex: min over neighbors' labels.
      // Explicit width on every shuffle keeps the loop's many tiny
      // jobs narrow without touching session conf.
      val viaNeighbors = sym.join(labels, sym("src") === labels("vertex"))
        .select(sym("dst").as("vertex"), col("label"))
      val newLabels = labels.select(col("vertex"), col("label"))
        .union(viaNeighbors)
        .repartition(width, col("vertex"))
        .groupBy("vertex")
        .agg(min("label").as("newLabel"))
      val joined = labels.join(newLabels, "vertex")
        .select(col("vertex"), col("label"), col("newLabel"))
        .localCheckpoint()
      changed = joined.filter(col("newLabel") < col("label")).count()
      // next round's labels are a NARROW projection of the joined
      // frame that was just materialized — lineage is already cut
      // there, so the r5 second localCheckpoint per round was a
      // redundant extra job (r6: 3 jobs/round → 2)
      labels = joined.select(col("vertex"), col("newLabel").as("label"))
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter (rounds ≈ graph diameter)")
    labels.withColumnRenamed("label", "component")
  }

  /** Alias edges inside the catalogue itself: entities whose
    * normalized display name is identical are the same real-world
    * entity (the duplicate-catalogue case the reference resolves by
    * hand). Normalization: lowercase, strip punctuation, drop
    * middle initials. */
  def aliasEdges(catalogue: Dataset[Entity]): DataFrame = {
    val spark = catalogue.sparkSession
    import spark.implicits._
    val normed = catalogue.map(e => (normalizeName(e.display_name), e.entity_id))
      .toDF("norm", "entity_id")
    val grouped = normed.groupBy("norm")
      .agg(min("entity_id").as("canon"), collect_set("entity_id").as("ids"))
    grouped.select(explode(col("ids")).as("src"), col("canon").as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  def normalizeName(name: String): String =
    name.toLowerCase
      .split("\\s+")
      .filter(t => !(t.length == 2 && t.endsWith("."))) // drop middle initials
      .mkString(" ")
      .replaceAll("[^a-z0-9 ]", "")
      .trim

  /** Edge count up to which [[canonicalMap]] runs driver-local. */
  val LocalEdgeThreshold: Long = 2L << 21 // ~4M edges ≈ a few hundred MB driver-side

  /** mention→canonical-entity map from accepted links + alias edges.
    * Components that contain no catalogue entity id keep the mention
    * itself as canonical subject. Returns (member, canonical).
    * Adaptive: when the edge set fits the driver, the union-find AND
    * the canonical-pick run locally in one pass (no groupBy/join
    * stages); the distributed CC + aggregation path handles big
    * graphs — both spec-asserted equal. */
  def canonicalMap(accepted: Dataset[LinkMatch], catalogue: Dataset[Entity]): DataFrame = {
    val spark = accepted.sparkSession
    import spark.implicits._
    val linkEdges = accepted.filter(_.accepted)
      .map(lm => ("m:" + lm.mention, "e:" + lm.entity_id))
      .toDF("src", "dst")
    val aliases = aliasEdges(catalogue)
      .select(concat(lit("e:"), col("src")).as("src"), concat(lit("e:"), col("dst")).as("dst"))
    // LocalEdgeThreshold works like a broadcast-join cutoff: the
    // distinct mention/entity graph is typically orders of magnitude
    // smaller than the corpus, and the distributed loop's many small
    // jobs would otherwise dominate.
    // The bounded-probe collect picks the path in ONE job (the
    // EntityLinking.link pattern, r6 — the r5 count-then-collect pair
    // cost an extra job per pipeline run): fetch at most threshold+1
    // rows; if the limit did not truncate, those rows ARE the full
    // edge set (union-find and the canonical pick are row-order
    // independent, so the limit's arbitrary order is immaterial).
    // A big graph still never collects — the probe stops at the cap.
    val edges = linkEdges.union(aliases).cache()
    try {
      val probe = edges.as[(String, String)]
        .limit(LocalEdgeThreshold.toInt + 1).collect()
      if (probe.length <= LocalEdgeThreshold)
        spark.createDataset(canonicalMapLocal(probe.toSeq)).toDF("member", "canonical")
      else
        canonicalMapDistributed(edges)
    } finally edges.unpersist()
  }

  /** Driver-local union-find over a small undirected edge set:
    * vertex → min member of its component (the smaller root always
    * wins a union, so each root is its component's min id). */
  def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.iterator.map(v => v -> find(v)).toMap
  }

  /** Driver-local union-find + canonical pick over a small edge set. */
  def canonicalMapLocal(edges: Seq[(String, String)]): Seq[(String, String)] = {
    val root = unionFind(edges)
    val canonical = root.groupBy(_._2).map { case (r, ms) =>
      val entityIds = ms.keys.collect { case m if m.startsWith("e:") => m.substring(2) }
      r -> (if (entityIds.nonEmpty) entityIds.min else r) // r = min member
    }
    root.toSeq.map { case (m, r) => m -> canonical(r) }
  }

  /** Distributed CC + canonical aggregation (the big-graph path). */
  def canonicalMapDistributed(edges: DataFrame): DataFrame = {
    val cc = connectedComponents(edges)
    // canonical per component: min entity id if any entity member, else min member
    val canon = cc.groupBy("component")
      .agg(
        min(when(col("vertex").startsWith("e:"), substring(col("vertex"), 3, 1000000))).as("canonEntity"),
        min(col("vertex")).as("minMember"))
      .select(col("component"),
        coalesce(col("canonEntity"), col("minMember")).as("canonical"))
    cc.join(canon, "component")
      .select(col("vertex").as("member"), col("canonical"))
  }
}
