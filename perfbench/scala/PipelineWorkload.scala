package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.expr.VectorCodec
import graft.jobs.Pipeline
import graft.ledger.Ledger
import graft.ml.{Chunker, Keywords, ModelRegistry, SdgClassifier,
  TensorFileEmbedder}
import graft.schema.Warehouse.Step
import graft.sinks.{CollectionRouter, Merge}

/** The WeLearn stage flow over consecutive batches: vectorize, classify,
  * keywords, sync. Every stage persists its outputs and appends its
  * states to an on-disk ledger, as the reference's separate cron stages
  * do. One op is one cycle of the four stages over one batch.
  *
  * Traced, each stage is rebuilt from the same public module functions
  * `Pipeline` composes, with every module's output materialized at its
  * boundary so each module span has self time. */
final class PipelineWorkload(seed: Long, dir: String) extends Workload {
  import PipelineWorkload._

  private case class Doc(id: String, lang: String, sdg: Boolean,
      text: String, slices: Seq[String]) {
    def routable: Boolean = Routable.contains(lang)
  }

  private final class Tables(root: String) {
    val docs = s"$root/documents"
    val ledger = s"$root/ledger"
    def slices(k: Int) = s"$root/slices/batch=$k"
    def sdgs(k: Int) = s"$root/sdgs/batch=$k"
    def keywords(k: Int) = s"$root/keywords/v=$k"
    val links = s"$root/links"
    val routed = s"$root/routed"
    val errors = s"$root/errors"
  }

  private var pool: IndexedSeq[Doc] = IndexedSeq.empty
  private var warm: IndexedSeq[Doc] = IndexedSeq.empty
  private var markerBody = ""
  private var modelName = ""
  private var biModel: DataFrame = _
  private var nModel: DataFrame = _
  private val main = new Tables(s"$dir/main")
  private var cycle = 0
  private var ledgerRows = 0L
  private val held = mutable.ArrayBuffer[DataFrame]()
  /** Per cycle: slices written, and rows of the stage inputs other than
    * the ledger. */
  private val cycleStats = mutable.HashMap[Int, (Long, Long)]()

  def generate(): Seq[String] = {
    val rng = new Random(seed)
    val vocab = (Routable ++ Unroutable).map { l =>
      l -> Gen.vocabulary(rng, Syllables(l), 600) }.toMap
    val zipf = new Gen.Zipf(600, 1.0)
    // the marker draws on syllables no language uses, so its tokens
    // appear in no other slice
    val markerWords = Gen.vocabulary(rng, MarkerSyllables, MaxWords + 6)
    val marker = Gen.sentence(markerWords)
    markerBody = Gen.packSlices(Seq(marker), MaxWords).head
    def doc(id: String): Doc = {
      val lang =
        if (rng.nextDouble() < UnroutableShare)
          Unroutable(rng.nextInt(Unroutable.size))
        else Routable(rng.nextInt(Routable.size))
      val sdg = rng.nextDouble() < SdgShare
      val target = DocWordsMin + rng.nextInt(DocWordsMax - DocWordsMin + 1)
      val sentences = mutable.ArrayBuffer[String]()
      var words = 0
      while (words < target) {
        val n = 6 + rng.nextInt(13)
        sentences += Gen.sentence(Seq.fill(n)(vocab(lang)(zipf.draw(rng))))
        words += n
      }
      if (sdg) sentences.insert(rng.nextInt(sentences.size + 1), marker)
      Doc(id, lang, sdg, sentences.mkString(" "),
        Gen.packSlices(sentences.toSeq, MaxWords))
    }
    pool = (0 until Batch * Cycles).map(i => doc(f"p$i%06d"))
    warm = (0 until WarmDocs).map(i => doc(f"w$i%06d"))
    val n = pool.size.toDouble
    Seq(
      Gen.within("slices per doc", pool.map(_.slices.size).sum / n, 4.0, 8.0),
      Gen.within("sdg share", pool.count(_.sdg) / n,
        SdgShare - 0.03, SdgShare + 0.03),
      Gen.within("unroutable share", pool.count(!_.routable) / n,
        UnroutableShare - 0.03, UnroutableShare + 0.03),
      Gen.within("marker slice words", markerBody.split(" ").length,
        MaxWords - 1, MaxWords - 1)).flatten
  }

  private def writeTables(spark: SparkSession, t: Tables,
      docs: Seq[Doc]): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, s"https://example.org/${d.lang}/${d.id}",
        s"Title ${d.id}", d.lang, d.text))
      .toDF("id", "url", "title", "lang", "full_content")
      .write.parquet(t.docs)
    docs.flatMap(d => Seq(
        (s"${d.id}@1", d.id, Step.UrlRetrieved, 1L),
        (s"${d.id}@2", d.id, Step.DocumentScraped, 2L)))
      .toDF("id", "document_id", "title", "operation_order")
      .select(col("id"), col("document_id"), col("title"),
        lit(null).cast("timestamp").as("created_at"),
        col("operation_order"))
      .write.parquet(t.ledger)
  }

  def writeInputs(spark: SparkSession): Unit = {
    writeTables(spark, main, pool)
    ledgerRows = 2L * pool.size
  }

  def setUp(spark: SparkSession, rep: Int): Unit = {
    import spark.implicits._
    val path = s"$dir/model-$rep.safetensors"
    TensorFileEmbedder.writeTinyModel(path, vocab = 4096, dModel = 32,
      outDim = Dim, seed = seed)
    modelName = s"safetensors:$path"
    // The binary SDG model fires on the planted marker slice only: its
    // weights are the marker slice's embedding and it needs a cosine of
    // 0.999, which only the marker slice itself reaches; the warm-up
    // slices check that the encoder keeps other slices well below.
    val embed = ModelRegistry.embedderFor(modelName)
    val m = embed(markerBody)
    val closest = warm.flatMap(_.slices).filter(_ != markerBody)
      .map(b => dot(m, embed(b))).max
    if (closest > 0.995)
      throw new IllegalStateException(
        f"encoder cannot separate the marker slice (cosine $closest%.4f)")
    val cut = 0.999
    biModel = Seq(("bi-1", m.map(_ * 50f).toSeq, -50.0 * cut, 0.5))
      .toDF("model_id", "weights", "bias", "threshold")
    nModel = SdgClassifier.stubModelTable(spark, "n-1", Dim)
    spark.read.parquet(main.docs).count()
    spark.read.parquet(main.ledger).count()
  }

  def warmUp(spark: SparkSession): Unit = {
    val t = new Tables(s"$dir/warm")
    writeTables(spark, t, warm)
    runCycle(spark, new Tracer(spark), t, 0, warm.size, 2L * warm.size)
  }

  override def exhausted: Boolean = cycle >= Cycles

  def op(spark: SparkSession, tr: Tracer, i: Int): OpResult = {
    val k = cycle
    cycle += 1
    val r = runCycle(spark, tr, main, k, Batch, ledgerRows)
    ledgerRows += r.parts("appended").toLong
    r
  }

  private def dot(a: Array[Float], b: Array[Float]): Double =
    a.indices.map(i => a(i).toDouble * b(i)).sum

  private def mat(tr: Tracer, name: String, df: => DataFrame): DataFrame =
    tr.span(name) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      held += p
      p
    }

  private def runCycle(spark: SparkSession, tr: Tracer, t: Tables, k: Int,
      batch: Int, ledger0: Long): OpResult = {
    val docs = spark.read.parquet(t.docs)
    def ledger = spark.read.parquet(t.ledger)
    val parts = mutable.LinkedHashMap[String, Double]()
    var appended = 0L
    var appendedBytes = 0L
    var ledgerRead = 0L
    def append(states: DataFrame, title: String): Unit = {
      val n = tr.span("sinks.insert") {
        Merge.insertIfAbsent(spark, t.ledger, states.select(
            concat(col("document_id"), lit("@"), col("operation_order"))
              .as("id"),
            col("document_id"), col("title"),
            lit(null).cast("timestamp").as("created_at"),
            col("operation_order")),
          "id", "operation_order")
      }
      appended += n
      appendedBytes += n * (2 * 7 + 2 + title.length + 16)
    }
    def stage(name: String)(body: => Unit): Unit = {
      val s0 = System.nanoTime()
      ledgerRead += ledger0 + appended
      tr.span(s"jobs.$name")(body)
      parts(name) = (System.nanoTime() - s0) / 1e9
    }
    try {
      stage("vectorize") {
        val (slices, states) = vectorize(tr, docs, ledger, batch)
        tr.span("sinks.write") {
          slices.select("id", "document_id", "embedding", "body",
            "order_sequence", "embedding_model_name")
            .write.parquet(t.slices(k))
        }
        append(states, Step.DocumentVectorized)
      }
      val slices = spark.read.parquet(t.slices(k))
      stage("classify") {
        val (sliceSdgs, states) = classify(tr, slices, ledger)
        tr.span("sinks.write")(sliceSdgs.write.parquet(t.sdgs(k)))
        append(states, Step.DocumentClassifiedSdg)
      }
      val sliceSdgs = spark.read.parquet(t.sdgs(k))
      stage("keywords") {
        val existing =
          if (k == 0) spark.emptyDataFrame.select(
            lit(null).cast("string").as("keyword"),
            lit(null).cast("string").as("id")).limit(0)
          else spark.read.parquet(t.keywords(k - 1))
        val (dim, links, states) = keywords(tr, docs, ledger, existing)
        tr.span("sinks.write") {
          dim.write.parquet(t.keywords(k))
          links.write.mode("append").parquet(t.links)
        }
        append(states, Step.DocumentWithKeywords)
      }
      stage("sync") {
        val (routable, errors, states) =
          sync(tr, slices, docs, ledger, sliceSdgs)
        tr.span("sinks.write") {
          CollectionRouter.writeCollections(
            routable.select("id", "document_id", "collection")
              .withColumn("batch", lit(k)), t.routed)
          errors.select("id", "document_id", "lang")
            .withColumn("batch", lit(k))
            .write.mode("append").parquet(t.errors)
        }
        append(states, Step.DocumentInQdrant)
      }
    } finally {
      held.foreach(_.unpersist())
      held.clear()
    }
    parts("cycle") = k
    parts("appended") = appended.toDouble
    parts("appended_bytes") = appendedBytes.toDouble
    parts("ledger_read") = ledgerRead.toDouble
    OpResult(0.0, batch, parts.toMap, Nil)
  }

  private def vectorize(tr: Tracer, docs: DataFrame, ledger: DataFrame,
      batch: Int): (DataFrame, DataFrame) =
    if (!tr.enabled)
      Pipeline.vectorize(docs, ledger, pickQtyMax = batch,
        byteCap = ByteCap, maxWordsPerSlice = MaxWords, embedDim = Dim,
        modelName = modelName)
    else {
      val selected = mat(tr, "ledger.select", Ledger
        .selectByLastStep(ledger, Seq(Step.DocumentScraped))
        .select(col("document_id"), col("operation_order")))
      val candidates = docs.join(selected,
          docs("id") === selected("document_id"))
        .withColumn("content_bytes", octet_length(col("full_content")))
      val admitted = mat(tr, "ledger.admit", Ledger.byteCapAdmit(
        candidates, Seq(col("operation_order").desc, col("document_id")),
        "content_bytes", ByteCap, limitRows = batch))
      val chunks = mat(tr, "ml.chunk", admitted.select(
        col("id").as("document_id"),
        posexplode(Chunker.slices(col("full_content"), MaxWords))
          .as(Seq("order_sequence", "body"))))
      val embedded = mat(tr, "ml.embed", chunks.withColumn("embedding_vec",
        ModelRegistry.embedding(col("body"), modelName)))
      val slices = mat(tr, "expr.codec", embedded
        .withColumn("embedding",
          VectorCodec.floatVectorToBytes(col("embedding_vec")))
        .withColumn("id",
          concat(col("document_id"), lit("#"), col("order_sequence")))
        .withColumn("embedding_model_name", lit(modelName)))
      val states = mat(tr, "ledger.next_order", Ledger.withNextOperationOrder(
        slices.select("document_id").distinct()
          .withColumn("title", lit(Step.DocumentVectorized)), ledger))
      (slices, states)
    }

  private def classify(tr: Tracer, slices: DataFrame,
      ledger: DataFrame): (DataFrame, DataFrame) =
    if (!tr.enabled) Pipeline.classify(slices, ledger, biModel, nModel)
    else {
      val vectorized = mat(tr, "ledger.select", Ledger
        .selectByLastStep(ledger, Seq(Step.DocumentVectorized))
        .select(col("document_id")))
      val inScope = mat(tr, "expr.codec", slices
        .join(vectorized, Seq("document_id"), "left_semi")
        .withColumn("embedding_vec",
          VectorCodec.bytesToFloatVector(col("embedding"))))
      val bi = mat(tr, "ml.classify",
        SdgClassifier.classifyBinary(inScope, biModel, "embedding_vec"))
      val n = mat(tr, "ml.classify", SdgClassifier.classifyNWay(
        bi.where(col("is_sdg")), nModel, "embedding_vec", "id", None))
      val docFlag = mat(tr, "ml.classify", SdgClassifier.documentIsSdg(bi))
      val states = mat(tr, "ledger.next_order", Ledger.withNextOperationOrder(
        docFlag.select(col("document_id"),
          when(col("document_is_sdg"), lit(Step.DocumentClassifiedSdg))
            .otherwise(lit(Step.DocumentClassifiedNonSdg)).as("title")),
        ledger))
      (n.select(col("id").as("slice_id"), col("document_id"),
        col("sdg_number"), col("n_score"), col("n_model_id")), states)
    }

  private def keywords(tr: Tracer, docs: DataFrame, ledger: DataFrame,
      existing: DataFrame): (DataFrame, DataFrame, DataFrame) =
    if (!tr.enabled) Pipeline.keywords(docs, ledger, existing, Dim)
    else {
      val eligible = mat(tr, "ledger.select", Ledger
        .selectByLastStep(ledger, Seq(Step.DocumentClassifiedSdg))
        .select(col("document_id")))
      val extracted = mat(tr, "ml.keywords", docs
        .join(eligible, docs("id") === eligible("document_id"))
        .select(col("id").as("document_id"),
          explode(Keywords.extract(col("full_content"), Dim, topN = 5))
            .as("kw"))
        .select(col("document_id"), col("kw.keyword").as("keyword")))
      val fresh = mat(tr, "sinks.insert", Merge.insertIfAbsentDf(existing,
        extracted.select("keyword").distinct()
          .withColumn("id", concat(lit("kw-"), col("keyword"))),
        "keyword", "keyword"))
      val dim = existing.unionByName(fresh)
      val links = extracted.join(dim, "keyword")
        .select(col("document_id"), col("id").as("keyword_id")).distinct()
      val states = mat(tr, "ledger.next_order", Ledger.withNextOperationOrder(
        links.select("document_id").distinct()
          .withColumn("title", lit(Step.DocumentWithKeywords)), ledger))
      (dim, links, states)
    }

  private def sync(tr: Tracer, slices: DataFrame, docs: DataFrame,
      ledger: DataFrame, sliceSdgs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) =
    if (!tr.enabled) Pipeline.sync(slices, docs, ledger, sliceSdgs)
    else {
      val eligible = mat(tr, "ledger.select", Ledger.selectByLastStep(ledger,
          Seq(Step.DocumentWithKeywords, Step.DocumentClassifiedNonSdg,
            Step.DocumentIsInvalid))
        .select(col("document_id")))
      val top2 = mat(tr, "ml.classify",
        SdgClassifier.topKSdgsPerDocument(sliceSdgs, 2))
      val enriched = slices
        .join(eligible, Seq("document_id"), "left_semi")
        .join(broadcast(docs.select(col("id").as("document_id"),
          col("url"), col("title"), col("lang"))), Seq("document_id"))
        .join(top2, Seq("document_id"), "left")
      val (r0, e0) =
        CollectionRouter.route(enriched, "lang", "embedding_model_name")
      val routable = mat(tr, "sinks.route", r0)
      val errors = mat(tr, "sinks.route", e0)
      val states = mat(tr, "ledger.next_order", Ledger.withNextOperationOrder(
        routable.select("document_id").distinct()
          .withColumn("title", lit(Step.DocumentInQdrant)), ledger))
      (routable, errors, states)
    }

  /** Checks the last cycle's outputs against the generator's ground
    * truth, and counts the rows the cycle's stages took as input. */
  def check(spark: SparkSession): Seq[String] = {
    val k = cycle - 1
    val expected = pool.slice(k * Batch, (k + 1) * Batch)
    val byId = expected.map(d => d.id -> d).toMap
    val problems = mutable.ArrayBuffer[String]()
    val rows = spark.read.parquet(main.slices(k))
      .select(col("document_id"), col("order_sequence"), col("body"),
        octet_length(col("embedding")))
      .collect()
    val got = rows.groupBy(_.getString(0))
    if (got.keySet != byId.keySet)
      problems += s"admitted ${got.size} docs, not the ${byId.size} expected"
    got.foreach { case (id, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      if (sorted.map(_.getInt(1)).toSeq != sorted.indices)
        problems += s"$id: order_sequence not dense from 0"
      val words = sorted.flatMap(_.getString(2).split("\\s+")).toSeq
      byId.get(id).foreach { d =>
        if (words != d.slices.flatMap(_.split(" ")))
          problems += s"$id: slice words do not re-join to the document"
      }
      if (rs.exists(_.getInt(3) != 4 * Dim))
        problems += s"$id: embedding is not ${4 * Dim} bytes"
    }
    def docsIn(path: String, batchFilter: Boolean): Set[String] = {
      val df = spark.read.parquet(path)
      (if (batchFilter) df.where(col("batch") === k) else df)
        .select("document_id").distinct().collect().map(_.getString(0))
        .toSet
    }
    // rows of every stage's inputs: the documents (read by three
    // stages), the ledger as each stage found it, this batch's slices
    // (read by two) and its sdg rows
    val sdgRows = spark.read.parquet(main.sdgs(k)).count()
    cycleStats(k) = (rows.length.toLong,
      3L * pool.size + 2L * rows.length + sdgRows)
    val sdg = docsIn(main.sdgs(k), batchFilter = false)
    if (sdg != expected.filter(_.sdg).map(_.id).toSet)
      problems += s"sdg docs ${sdg.size} != planted ${expected.count(_.sdg)}"
    val routed = docsIn(main.routed, batchFilter = true)
    val errored = docsIn(main.errors, batchFilter = true)
    if (routed != expected.filter(_.routable).map(_.id).toSet)
      problems += s"routed ${routed.size} docs != routable " +
        s"${expected.count(_.routable)}"
    if (errored != expected.filterNot(_.routable).map(_.id).toSet)
      problems += s"error bucket ${errored.size} docs != unroutable " +
        s"${expected.count(!_.routable)}"
    problems.toSeq
  }

  /** Every processed doc's ledger history is exactly its expected path
    * with strictly increasing operation_order; unprocessed docs keep
    * their two seeded states. */
  def finish(spark: SparkSession): Seq[String] = {
    val history = spark.read.parquet(main.ledger)
      .select("document_id", "title", "operation_order").collect()
      .groupBy(_.getString(0))
    val done = cycle * Batch
    val bad = pool.zipWithIndex.flatMap { case (d, idx) =>
      val path = if (idx >= done) Seq(Step.UrlRetrieved, Step.DocumentScraped)
        else Seq(Step.UrlRetrieved, Step.DocumentScraped,
          Step.DocumentVectorized) ++
          (if (d.sdg) Seq(Step.DocumentClassifiedSdg, Step.DocumentWithKeywords)
           else Seq(Step.DocumentClassifiedNonSdg)) ++
          (if (d.routable) Seq(Step.DocumentInQdrant) else Nil)
      val rows = history.getOrElse(d.id, Array.empty).sortBy(_.getLong(2))
      val orders = rows.map(_.getLong(2)).toSeq
      if (rows.map(_.getString(1)).toSeq != path ||
          orders != (1L to path.size.toLong))
        Some(s"${d.id}: history ${rows.map(_.getString(1)).mkString(",")}")
      else None
    }
    bad.take(5) ++ (if (bad.size > 5) Seq(s"... ${bad.size} docs") else Nil)
  }

  def docsPerSecond(ok: Seq[OpResult]): Double =
    Batch / Main.median(ok.map(_.seconds))

  override def diagnostics(ok: Seq[OpResult]): Seq[(String, Double, String)] =
    Seq("vectorize", "classify", "keywords", "sync").map(s =>
      (s"jobs.${s}_wall_s", Main.median(ok.map(_.parts(s))), "s"))

  def layers(r: LayerReport, ok: Seq[OpResult]): Map[String, Double] = {
    def total(p: String) = ok.map(_.parts(p)).sum
    val stats = ok.map(r => cycleStats(r.parts("cycle").toInt))
    val slices = stats.map(_._1).sum.toDouble
    val ledgerDir = new java.io.File(main.ledger)
    Map(
      "ml.slices_per_doc" -> slices / ok.map(_.docs).sum,
      "ledger.rows_scanned_per_selected" -> r.inputRows(
        r.idsUnder("ledger.select") ++ r.idsUnder("ledger.admit")).toDouble /
        ok.map(_.docs).sum,
      "ml.embed_slices_per_s" ->
        slices / r.nOps / r.selfPerOp("ml.embed"),
      "jobs.recompute_ratio" -> Seq("vectorize", "classify", "keywords",
        "sync").map(s => r.inputRows(r.idsUnder(s"jobs.$s"))).sum.toDouble /
        (total("ledger_read") + stats.map(_._2).sum),
      "sinks.rows_read_per_appended" ->
        r.inputRows(r.idsUnder("sinks.insert")) / total("appended"),
      "sinks.write_amp" ->
        r.outputBytes(r.idsUnder("sinks.insert")) / total("appended_bytes"),
      "sinks.table_files" -> Option(ledgerDir.listFiles).map(
        _.count(_.getName.endsWith(".parquet"))).getOrElse(0).toDouble)
  }
}

object PipelineWorkload {
  val Batch = 1000
  val Cycles = 4
  val WarmDocs = 40
  val MaxWords = 24
  val Dim = 64
  val ByteCap = 10000000000L
  val DocWordsMin = 60
  val DocWordsMax = 110
  val SdgShare = 0.2
  val UnroutableShare = 0.1
  val Routable = Seq("en", "fr", "es", "de", "it", "pt")
  val Unroutable = Seq("xx", "zz", "qq")
  val MarkerSyllables: IndexedSeq[String] =
    "vux pyj kwo zhy fip gox".split(" ").toIndexedSeq
  val Syllables: Map[String, IndexedSeq[String]] = Map(
    "en" -> "th er an in on st ing ed al ow".split(" ").toIndexedSeq,
    "fr" -> "eau ou ai en ier que ment on re eur".split(" ").toIndexedSeq,
    "es" -> "ci on ar os as ez ue ra do ta".split(" ").toIndexedSeq,
    "de" -> "sch ein ung ch er en ach au ie st".split(" ").toIndexedSeq,
    "it" -> "zi one are lo gli tt ia co no re".split(" ").toIndexedSeq,
    "pt" -> "nh ao ar os lh em ui do ra ca".split(" ").toIndexedSeq,
    "xx" -> "ka lu mi to ze va ri po ne su".split(" ").toIndexedSeq,
    "zz" -> "xo qa vi ju ko wa yi fe bo gu".split(" ").toIndexedSeq,
    "qq" -> "ul ak ip ot ez ub ig ar on um".split(" ").toIndexedSeq)
}
