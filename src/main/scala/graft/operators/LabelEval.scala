package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.kg.LabelVersion

/** Document-label evaluation pipeline reproducing
  * ketl/mongo/testingLLMperformance.py end to end (SURVEY §3.3):
  * model filter → max-confidence row per (doc,label,model) →
  * date normalization → gold union with anti-join diagnostics →
  * meta-label drop → per-(doc,label) user-vs-model containment check
  * with the reference's two domain special cases → field-level and
  * doc-level mean-of-means scores with wrong-document-type exclusion.
  */
object LabelEval {

  /** '6536892d127f4f001df8215e' — the reference's NONE_USER sentinel
    * (testingLLMperformance.py:5). */
  val NoneUser = "6536892d127f4f001df8215e"

  /** Models considered (testingLLMperformance.py:55). */
  def filterModels(lv: Dataset[LabelVersion]): Dataset[LabelVersion] =
    lv.filter(v => v.model == "user" || v.model.contains("llm - openai azure"))

  /** filter_rows (testingLLMperformance.py:9-18): for 'entity' models
    * keep only the max-confidence row with confidence ≥ 0.5 (none if
    * all below); other models keep every row. Ties broken by earliest
    * created_on then label_value (pandas idxmax keeps first). */
  def maxConfPerGroup(lv: Dataset[LabelVersion]): Dataset[LabelVersion] = {
    import lv.sparkSession.implicits._
    val w = Window.partitionBy("doc_id", "label_name", "model")
      .orderBy(col("confidence").desc, col("created_on"), col("label_value"))
    lv.toDF()
      .withColumn("rn", row_number().over(w))
      .filter(!col("model").contains("entity") ||
        (col("rn") === 1 && col("confidence") >= 0.5))
      .drop("rn")
      .as[LabelVersion]
  }

  /** format_date (testingLLMperformance.py:21-26): values of labels
    * whose name contains 'date' normalized to yyyy-MM-dd. Uses
    * try_to_timestamp: a malformed date value degrades to null instead
    * of killing the task under ANSI mode (pandas' to_datetime would
    * raise there — but one bad row must never abort a 100-TB job; the
    * row stays visible with a null value for the containment check).
    * Round 1 only survived such rows because the downstream meta-label
    * filter happened to be pushed below this projection. */
  def normalizeDates(lv: DataFrame): DataFrame =
    lv.withColumn("label_value",
      when(lower(col("label_name")).contains("date"),
        date_format(try_to_timestamp(col("label_value")), "yyyy-MM-dd"))
        .otherwise(col("label_value")))

  /** Meta-label drop (testingLLMperformance.py:75). */
  def dropMetaLabels(lv: DataFrame): DataFrame =
    lv.filter(!col("label_name").contains("-") &&
      !col("label_name").isin("language", "description document"))

  /** Doc ids present on only one side (anti-joins both ways,
    * testingLLMperformance.py:69-71). */
  def docsNotInBoth(a: DataFrame, b: DataFrame): DataFrame = {
    val aIds = a.select("doc_id").distinct()
    val bIds = b.select("doc_id").distinct()
    aIds.join(bIds, Seq("doc_id"), "left_anti")
      .union(bIds.join(aIds, Seq("doc_id"), "left_anti"))
  }

  /** check_label_value (testingLLMperformance.py:28-48) per
    * (doc_id, label_name): 1 iff the user's value appears among model
    * values, with two special cases that award 1 when the LLM stayed
    * silent: user=='NONE_USER' on 'client', and a January-2024 user
    * date on 'relevant date'. No user row → 0. */
  def checkLabelValues(lv: DataFrame): DataFrame = {
    val userRows = lv.filter(col("model") === "user")
      .groupBy("doc_id", "label_name")
      // pandas iloc[0] on the group: first by created_on for determinism
      .agg(min_by(col("label_value"), col("created_on")).as("user_value"))
    val modelRows = lv.filter(col("model") =!= "user")
      .groupBy("doc_id", "label_name")
      .agg(collect_set("label_value").as("model_values"),
        count(lit(1)).as("n_model"))
    val groups = lv.select("doc_id", "label_name").distinct()
    groups
      .join(userRows, Seq("doc_id", "label_name"), "left_outer")
      .join(modelRows, Seq("doc_id", "label_name"), "left_outer")
      .withColumn("n_model", coalesce(col("n_model"), lit(0L)))
      .withColumn("output",
        when(col("user_value").isNull, 0)
          .when(lower(col("label_name")) === "client" && col("user_value") === NoneUser,
            when(col("n_model") === 0, 1).otherwise(0))
          .when(lower(col("label_name")) === "relevant date" &&
            col("user_value").startsWith("2024-01"),
            when(col("n_model") === 0, 1).otherwise(0))
          .when(array_contains(coalesce(col("model_values"), array()), col("user_value")), 1)
          .otherwise(0))
      .select("doc_id", "label_name", "output")
  }

  final case class Scores(byFields: Double, byDocuments: Double, nFields: Long)

  /** get_score_for_asked_fields (testingLLMperformance.py:104-112):
    * drop never-compared docs, drop non-(client|document type) fields
    * of docs whose 'document type' answer was wrong, then field mean
    * and doc-level mean of per-doc means. Field mean, doc mean and
    * row count all come out of ONE two-level aggregation job (round-1
    * bench showed action count, not shuffle volume, dominating
    * label_eval's wall). */
  def scores(scoreDf: DataFrame, noCompareDocs: DataFrame): Scores = {
    val docWrongType = scoreDf
      .filter(col("label_name") === "document type" && col("output") === 0)
      .select("doc_id").distinct()
    val s2 = scoreDf
      .join(noCompareDocs, Seq("doc_id"), "left_anti")
      .join(docWrongType.withColumnRenamed("doc_id", "wrong_doc"),
        col("doc_id") === col("wrong_doc"), "left_outer")
      .filter(col("wrong_doc").isNull ||
        col("label_name").isin("client", "document type"))
      .drop("wrong_doc")
    val row = s2.groupBy("doc_id")
      .agg(sum("output").cast("double").as("s"), count(lit(1)).as("c"))
      .agg(
        coalesce(sum("s"), lit(0.0)).as("sumOutput"),
        coalesce(sum("c"), lit(0L)).as("n"),
        avg(col("s") / col("c")).as("byDocs"))
      .head()
    val n = row.getLong(1)
    if (n == 0) Scores(0.0, 0.0, 0L)
    else Scores(row.getDouble(0) / n, row.getDouble(2), n)
  }

  /** Deterministic synthetic label_versions table (FIXTURES.md §6
    * shape) for queries/bench: per doc a 'document type' + 2 value
    * fields, each with a user row and 0-2 model rows whose agreement
    * is hash-driven. */
  def syntheticLabelVersions(spark: org.apache.spark.sql.SparkSession, nDocs: Long): Dataset[LabelVersion] = {
    import spark.implicits._
    import graft.functions.Hashing
    spark.range(nDocs).flatMap { d =>
      val docId = f"doc-$d%06d"
      def h(salt: Long) = Hashing.hash64(d, salt)
      val fields = Seq("document type", "client", "amount")
      fields.zipWithIndex.flatMap { case (f, i) =>
        val userVal = s"v${Hashing.bucket(h(i * 7 + 1), 5)}"
        val base = new java.sql.Timestamp(1700000000000L + d * 1000 + i)
        val user = LabelVersion(docId, f, userVal, 1.0, "user", base)
        val nModels = Hashing.bucket(h(i * 7 + 2), 3)
        val models = (0 until nModels).map { m =>
          val agree = Hashing.bucket(h(i * 7 + 3 + m), 100) < 70
          LabelVersion(docId, f,
            if (agree) userVal else s"w${Hashing.bucket(h(i * 7 + 9 + m), 5)}",
            0.4 + Hashing.toUnit(h(i * 7 + 13 + m)) * 0.6,
            if (m == 0) "llm - openai azure" else "llm - openai azure entity",
            new java.sql.Timestamp(base.getTime + m + 1))
        }
        user +: models
      }
    }
  }

  // ------------------------------------------------------------------
  // Nested document/label store (the Mongo `documents` collection
  // shape, myMongoClient.py:32-104): labels[].versions[] arrays with
  // file metadata — and its flattening to LabelVersion rows
  // (get_labels_versions, :123-142).
  // ------------------------------------------------------------------

  /** One stored label version; modelName is null for user-entered
    * versions (the reference maps null → 'user', :140). */
  final case class NestedVersion(value: String, confidence: Double,
                                 modelName: String, createdOn: java.sql.Timestamp)
  final case class NestedLabel(name: String, value: String, versions: Seq[NestedVersion])
  final case class NestedFile(fileName: String, fullPath: String)
  final case class NestedDoc(_id: String, files: Seq[NestedFile], labels: Seq[NestedLabel])

  /** Deterministic nested document store carrying EXACTLY the rows of
    * [[syntheticLabelVersions]] re-rolled into the Mongo shape (user
    * rows as modelName=null versions), split across two storage path
    * prefixes so the path filter is exercised. */
  def syntheticNestedDocs(spark: org.apache.spark.sql.SparkSession, nDocs: Long): Dataset[NestedDoc] = {
    import spark.implicits._
    val flat = syntheticLabelVersions(spark, nDocs)
    flat.groupByKey(_.doc_id)
      .mapGroups { (docId: String, it: Iterator[LabelVersion]) =>
        val byLabel = it.toSeq.groupBy(_.label_name).toSeq.sortBy(_._1)
        val labels = byLabel.map { case (name, vs) =>
          val versions = vs.sortBy(v => (v.created_on.getTime, v.model)).map { v =>
            NestedVersion(v.label_value, v.confidence,
              if (v.model == "user") null else v.model, v.created_on)
          }
          NestedLabel(name, versions.last.value, versions)
        }
        val shard = if (graft.functions.Hashing.bucket(
          graft.functions.Hashing.hash64(docId), 10) < 8) "inbox" else "archive"
        NestedDoc(docId,
          Seq(NestedFile(s"$docId.pdf", s"/storage/$shard/$docId.pdf")), labels)
      }
  }

  /** get_labels_versions (myMongoClient.py:123-142): keep docs with a
    * file under the storage path prefix, explode labels[].versions[]
    * to flat LabelVersion rows, null modelName → 'user'. Pure
    * DataFrame explodes — the row-by-row Python loop becomes two
    * generators the optimizer can pipeline. */
  def flattenLabelVersions(docs: Dataset[NestedDoc], pathStorage: String): Dataset[LabelVersion] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.toDF()
      .filter(exists(col("files"), f => f.getField("fullPath").startsWith(pathStorage)))
      .select(col("_id").as("doc_id"), explode(col("labels")).as("label"))
      .select(col("doc_id"), col("label.name").as("label_name"),
        explode(col("label.versions")).as("v"))
      .select(col("doc_id"), col("label_name"),
        col("v.value").as("label_value"),
        col("v.confidence").as("confidence"),
        coalesce(col("v.modelName"), lit("user")).as("model"),
        col("v.createdOn").as("created_on"))
      .as[LabelVersion]
  }

  /** Just the per-(doc,label) score frame — the pipeline through
    * [[checkLabelValues]] WITHOUT the [[scores]] scalar aggregation
    * (its own eager `.head()` job) and without the anti-join
    * diagnostics that only the scalars consume. The bench/driver
    * `label_eval` query returns this frame alone, so computing the
    * discarded scalars was a wasted action + branch (guide §1.2:
    * "don't compute things you throw away"). `cleaned` is materialized
    * once: the three checkLabelValues branches would otherwise each
    * re-run the max-conf WINDOW + union. */
  def scoreFrame(lv: Dataset[LabelVersion], gold: DataFrame): DataFrame = {
    val filtered = maxConfPerGroup(filterModels(lv)).toDF()
    val normalized = normalizeDates(filtered)
    val unioned = normalized.unionByName(gold, allowMissingColumns = true)
    val cleaned = dropMetaLabels(unioned).localCheckpoint()
    checkLabelValues(cleaned)
  }

  /** Full pipeline (get_LLM_performance, testingLLMperformance.py:50-84).
    * `normalized` is materialized once (localCheckpoint): it feeds the
    * anti-join diagnostics, the gold union and (through it) the three
    * checkLabelValues branches — recomputing the max-conf WINDOW per
    * branch dominated the label_eval wall before this. */
  def evaluate(lv: Dataset[LabelVersion], gold: DataFrame): (Scores, DataFrame) = {
    val filtered = maxConfPerGroup(filterModels(lv)).toDF()
    val normalized = normalizeDates(filtered).localCheckpoint()
    val noCompare = docsNotInBoth(normalized, gold)
    val unioned = normalized.unionByName(gold, allowMissingColumns = true)
    val cleaned = dropMetaLabels(unioned)
    val scoreDf = checkLabelValues(cleaned).localCheckpoint()
    (scores(scoreDf, noCompare), scoreDf)
  }
}
