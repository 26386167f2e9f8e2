package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expr.VectorCodec
import graft.jobs.Pipeline
import graft.ledger.Ledger
import graft.ml.{Keywords, SdgClassifier}
import graft.schema.Warehouse.Step
import graft.sinks.{CollectionRouter, Merge}

/** The pipeline stages read each new state's `operation_order` off their
  * own latest-state selection, and `keywords` links its docs without a
  * second extraction. This spec keeps the earlier formulations — a
  * full-ledger `Ledger.withNextOperationOrder` per stage, and links
  * joined to `existing ∪ fresh` — and checks that both give the same
  * rows on a ledger with non-dense orders, docs at other steps and
  * multi-event histories. */
class StageParitySpec extends SparkSuite {

  private val body = Map(
    "en" -> ("Climate action matters for every city. Poverty reduction " +
      "needs clean water and schools. "),
    "fr" -> ("Les systemes energetiques et la sante publique. Education " +
      "pour tous les enfants du monde. "),
    "xx" -> "Unrouteable language document content goes here. ")

  private def documents = {
    val s = initSpark()
    import s.implicits._
    Seq(("v1", "en"), ("v2", "fr"), ("c1", "en"), ("c2", "fr"),
      ("c3", "en"), ("k1", "en"), ("k2", "fr"), ("k3", "en"),
      ("s1", "en"), ("s2", "fr"), ("s3", "en"), ("s4", "xx"),
      ("o1", "en"), ("o2", "fr"), ("o3", "en"))
      .map { case (id, lang) =>
        (id, s"https://x/$id", s"Doc $id", lang,
          body(lang) * (2 + id.last.asDigit))
      }
      .toDF("id", "url", "title", "lang", "full_content")
  }

  /** (document_id, title, operation_order) histories: orders are sparse
    * and interleave across documents; v2 and c2 went round the flow
    * once and came back, k2 has an older row at a lower step, o1-o3
    * sit at steps no stage selects. */
  private def ledger = {
    val s = initSpark()
    import s.implicits._
    Seq(
      ("v1", Step.UrlRetrieved, 3L), ("v1", Step.DocumentScraped, 17L),
      ("v2", Step.DocumentScraped, 9L), ("v2", Step.DocumentVectorized, 12L),
      ("v2", Step.UrlRetrieved, 30L), ("v2", Step.DocumentScraped, 41L),
      ("c1", Step.DocumentScraped, 2L), ("c1", Step.DocumentVectorized, 77L),
      ("c2", Step.DocumentVectorized, 21L),
      ("c2", Step.DocumentClassifiedNonSdg, 22L),
      ("c2", Step.DocumentScraped, 60L), ("c2", Step.DocumentVectorized, 64L),
      ("c3", Step.DocumentVectorized, 100L),
      ("k1", Step.DocumentVectorized, 8L),
      ("k1", Step.DocumentClassifiedSdg, 90L),
      ("k2", Step.DocumentScraped, 29L),
      ("k2", Step.DocumentClassifiedSdg, 31L),
      ("k3", Step.DocumentClassifiedSdg, 45L),
      ("s1", Step.DocumentWithKeywords, 70L),
      ("s2", Step.DocumentClassifiedNonSdg, 33L),
      ("s3", Step.DocumentVectorized, 80L),
      ("s3", Step.DocumentIsInvalid, 81L),
      ("s4", Step.DocumentClassifiedNonSdg, 15L),
      ("o1", Step.DocumentInQdrant, 200L),
      ("o2", Step.UrlRetrieved, 7L),
      ("o3", Step.DocumentVectorized, 299L),
      ("o3", Step.DocumentIsIrretrievable, 300L))
      .toDF("document_id", "title", "operation_order")
      .select(concat(col("document_id"), lit("@"), col("operation_order"))
        .as("id"), col("document_id"), col("title"),
        lit(null).cast("timestamp").as("created_at"), col("operation_order"))
  }

  /** Every doc's slices, whatever its ledger step. */
  private def slices = {
    val scraped = documents.select(col("id").as("document_id"),
      lit(Step.DocumentScraped).as("title"), lit(1L).as("operation_order"))
    Pipeline.vectorize(documents, scraped, maxWordsPerSlice = 12)._1
  }

  private def models = {
    val s = initSpark()
    import s.implicits._
    (Seq(("bi-1", graft.ml.StubEmbedder.embed("climate action matters", 64),
        0.0, 0.5)).toDF("model_id", "weights", "bias", "threshold"),
      SdgClassifier.stubModelTable(s, "n-1", 64, threshold = 0.4))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def states(df: DataFrame): Seq[String] =
    rows(df.select("document_id", "title", "operation_order"))

  private def docs(df: DataFrame): Set[String] =
    df.select("document_id").collect().map(_.getString(0)).toSet

  test("vectorize states match the full-ledger next order") {
    val (sl, newStates) = Pipeline.vectorize(documents, ledger,
      maxWordsPerSlice = 12)
    val old = Ledger.withNextOperationOrder(
      sl.select("document_id").distinct()
        .withColumn("title", lit(Step.DocumentVectorized)), ledger)
    assert(states(newStates) === states(old))
    assert(states(newStates) === Seq(
      s"v1|${Step.DocumentVectorized}|18", s"v2|${Step.DocumentVectorized}|42"))
    assert(newStates.columns.toSeq === old.columns.toSeq)
  }

  test("classify states match the full-ledger next order") {
    val (biModel, nModel) = models
    val (_, newStates) = Pipeline.classify(slices, ledger, biModel, nModel)
    val vectorized = Ledger
      .selectByLastStep(ledger, Seq(Step.DocumentVectorized))
      .select(col("document_id"))
    val bi = SdgClassifier.classifyBinary(
      slices.join(vectorized, Seq("document_id"), "left_semi")
        .withColumn("embedding_vec",
          VectorCodec.bytesToFloatVector(col("embedding"))),
      biModel, "embedding_vec")
    val old = Ledger.withNextOperationOrder(
      SdgClassifier.documentIsSdg(bi).select(col("document_id"),
        when(col("document_is_sdg"), lit(Step.DocumentClassifiedSdg))
          .otherwise(lit(Step.DocumentClassifiedNonSdg)).as("title")),
      ledger)
    assert(states(newStates) === states(old))
    assert(docs(newStates) === Set("c1", "c2", "c3"))
    assert(rows(newStates.select("operation_order")) ===
      Seq("101", "65", "78"))
  }

  test("keywords links and states match extracted ⋈ (existing ∪ fresh) " +
      "with non-kw- ids and a duplicated existing keyword") {
    val s = initSpark()
    import s.implicits._
    val eligible = Ledger
      .selectByLastStep(ledger, Seq(Step.DocumentClassifiedSdg))
      .select(col("document_id"))
    val d = documents
    val extracted = d
      .join(eligible, d("id") === eligible("document_id"))
      .select(col("id").as("document_id"),
        explode(Keywords.extract(col("full_content"), 64, topN = 5))
          .as("kw"))
      .select(col("document_id"), col("kw.keyword").as("keyword"))
    val picked = extracted.where(col("document_id") === "k1")
      .select("keyword").distinct().orderBy("keyword")
      .collect().map(_.getString(0)).take(2)
    assert(picked.length === 2)
    val existing = Seq((picked(0), "legacy-a"), (picked(0), "legacy-a2"),
      (picked(1), "legacy-b"), ("never extracted", "legacy-z"))
      .toDF("keyword", "id")

    val (dim, links, newStates) =
      Pipeline.keywords(d, ledger, existing)
    val fresh = Merge.insertIfAbsentDf(existing,
      extracted.select("keyword").distinct()
        .withColumn("id", concat(lit("kw-"), col("keyword"))),
      "keyword", "keyword")
    val oldLinks = extracted.join(existing.unionByName(fresh), "keyword")
      .select(col("document_id"), col("id").as("keyword_id"))
      .distinct()
    val oldStates = Ledger.withNextOperationOrder(
      oldLinks.select("document_id").distinct()
        .withColumn("title", lit(Step.DocumentWithKeywords)), ledger)
    assert(rows(links) === rows(oldLinks))
    assert(links.columns.toSeq === oldLinks.columns.toSeq)
    assert(rows(links.where(col("keyword_id").startsWith("legacy-")))
      .map(_.split('|')(1)).toSet === Set("legacy-a", "legacy-a2",
        "legacy-b"))
    assert(states(newStates) === states(oldStates))
    assert(docs(newStates) === Set("k1", "k2", "k3"))
    assert(rows(newStates.select("operation_order")) ===
      Seq("32", "46", "91"))
    assert(rows(dim) === rows(existing.unionByName(fresh)))
  }

  test("sync outputs and states match the full-ledger formulation") {
    val (biModel, nModel) = models
    val allVectorized = slices.select(col("document_id"))
      .distinct().withColumn("title", lit(Step.DocumentVectorized))
      .withColumn("operation_order", lit(1L))
    val (sliceSdgs, _) =
      Pipeline.classify(slices, allVectorized, biModel, nModel)
    val (routable, errors, newStates) =
      Pipeline.sync(slices, documents, ledger, sliceSdgs)
    val eligible = Ledger.selectByLastStep(ledger,
        Seq(Step.DocumentWithKeywords, Step.DocumentClassifiedNonSdg,
          Step.DocumentIsInvalid))
      .select(col("document_id"))
    val enriched = slices
      .join(eligible, Seq("document_id"), "left_semi")
      .join(broadcast(documents.select(col("id").as("document_id"),
        col("url"), col("title"), col("lang"))), Seq("document_id"))
      .join(SdgClassifier.topKSdgsPerDocument(sliceSdgs, 2),
        Seq("document_id"), "left")
    val (oldRoutable, oldErrors) = CollectionRouter.route(
      enriched, "lang", "embedding_model_name")
    val oldStates = Ledger.withNextOperationOrder(
      oldRoutable.select("document_id").distinct()
        .withColumn("title", lit(Step.DocumentInQdrant)), ledger)
    def plain(df: DataFrame) = rows(df.drop("embedding"))
    assert(routable.columns.toSeq === oldRoutable.columns.toSeq)
    assert(errors.columns.toSeq === oldErrors.columns.toSeq)
    assert(plain(routable) === plain(oldRoutable))
    assert(plain(errors) === plain(oldErrors))
    assert(states(newStates) === states(oldStates))
    assert(docs(newStates) === Set("s1", "s2", "s3"))
    assert(docs(errors) === Set("s4"))
    assert(rows(newStates.select("operation_order")) ===
      Seq("34", "71", "82"))
  }
}
