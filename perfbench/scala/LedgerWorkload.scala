package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ledger.Ledger
import graft.schema.Warehouse.Step
import graft.sinks.Merge

/** The hourly generate-batch / commit loop against a large seeded
  * ledger with no document content. One op is a read (select the docs
  * whose latest state is a step, admit them under the pick and byte
  * caps) followed by a write (commit each admitted doc's next state to
  * the on-disk table). The benchmark keeps its own model of every doc's
  * latest state to check both. */
final class LedgerWorkload(seed: Long, dir: String) extends Workload {
  import LedgerWorkload._

  private var events: IndexedSeq[(String, String, Long)] = IndexedSeq.empty
  private val latest = mutable.HashMap[String, (String, Long)]()
  private var sizes: Map[String, Int] = Map.empty
  private val table = s"$dir/ledger"
  private val sizeTable = s"$dir/sizes"
  private var lastSelected: Seq[(String, Long, Int)] = Nil
  private var lastStep = ""
  private var lastAppended = 0L

  def generate(): Seq[String] = {
    val rng = new Random(seed)
    val out = IndexedSeq.newBuilder[(String, String, Long)]
    val sz = Map.newBuilder[String, Int]
    (0 until Docs).foreach { i =>
      val id = f"d$i%07d"
      val path = randomPath(rng, id)
      path.zipWithIndex.foreach { case (s, k) => out += ((id, s, k + 1L)) }
      latest(id) = (path.last, path.size.toLong)
      // content sizes from 1 KB to about 12 KB, skewed small
      sz += id -> (1024 + (11000 * math.pow(rng.nextDouble(), 2)).toInt)
    }
    events = out.result()
    sizes = sz.result()
    val shares = latest.values.groupBy(_._1).map { case (s, v) =>
      s -> v.size.toDouble / Docs }
    Step.all.flatMap(s => Gen.within(s"latest share of $s",
      shares.getOrElse(s, 0.0), 0.02, 0.3)) ++
      Gen.within("events per doc", events.size.toDouble / Docs, 3.0, 5.0) ++
      Rotation.flatMap(s => Gen.within(s"docs at $s",
        shares.getOrElse(s, 0.0) * Docs, Batch * 2.0, Docs.toDouble))
  }

  /** A doc's history through the state machine, ending at a uniformly
    * chosen step. */
  private def randomPath(rng: Random, id: String): Seq[String] = {
    val end = Step.all(rng.nextInt(Step.all.size))
    val classified =
      if (end == Step.DocumentClassifiedNonSdg) Step.DocumentClassifiedNonSdg
      else if (end == Step.DocumentClassifiedSdg ||
        end == Step.DocumentWithKeywords) Step.DocumentClassifiedSdg
      else if (rng.nextBoolean()) Step.DocumentClassifiedSdg
      else Step.DocumentClassifiedNonSdg
    val full = Seq(Step.UrlRetrieved, Step.DocumentScraped,
      Step.DocumentVectorized, classified) ++
      (if (classified == Step.DocumentClassifiedSdg)
        Seq(Step.DocumentWithKeywords) else Nil) ++
      Seq(Step.DocumentInQdrant)
    end match {
      case Step.DocumentIsInvalid | Step.KeptForTrace |
          Step.DocumentIsIrretrievable =>
        full.take(1 + rng.nextInt(full.size)) :+ end
      case e => full.take(full.indexOf(e) + 1)
    }
  }

  def writeInputs(spark: SparkSession): Unit = {
    writeLedger(spark, table, events)
    import spark.implicits._
    sizes.toSeq.toDF("document_id", "content_bytes").write.parquet(sizeTable)
  }

  private def writeLedger(spark: SparkSession, path: String,
      ev: Seq[(String, String, Long)]): Unit = {
    import spark.implicits._
    ev.toDF("document_id", "title", "operation_order")
      .select(concat(col("document_id"), lit("@"), col("operation_order"))
          .as("id"), col("document_id"), col("title"),
        lit(null).cast("timestamp").as("created_at"),
        col("operation_order"))
      .repartition(4).write.parquet(path)
  }

  def setUp(spark: SparkSession, rep: Int): Unit = {
    spark.read.parquet(table).count()
    spark.read.parquet(sizeTable).count()
  }

  /** One select and one commit against a small separate table. */
  def warmUp(spark: SparkSession): Unit = {
    val warmDir = s"$dir/warm"
    writeLedger(spark, warmDir, events.take(20000))
    val sel = select(spark, new Tracer(spark), warmDir,
      Step.DocumentScraped)
    commit(spark, new Tracer(spark), warmDir, sel, Step.DocumentScraped)
  }

  private def select(spark: SparkSession, tr: Tracer, path: String,
      step: String): Seq[(String, Long, Int)] = {
    val ledger = spark.read.parquet(path)
    val sizes = spark.read.parquet(sizeTable)
    val chosen = tr.span("ledger.select") {
      val s = Ledger.selectByLastStep(ledger, Seq(step))
        .select("document_id", "operation_order")
      if (tr.enabled) { s.cache().count() }
      s
    }
    val admitted = tr.span("ledger.admit") {
      Ledger.byteCapAdmit(chosen.join(sizes, "document_id"),
          Seq(col("operation_order").desc, col("document_id")),
          "content_bytes", ByteCap, limitRows = Batch)
        .select("document_id", "operation_order", "content_bytes")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    }
    if (tr.enabled) chosen.unpersist()
    admitted
  }

  private def commit(spark: SparkSession, tr: Tracer, path: String,
      batch: Seq[(String, Long, Int)], step: String): Long = {
    import spark.implicits._
    val ledger = spark.read.parquet(path)
    val states = batch.map { case (id, _, _) => (id, next(step, id)) }
      .toDF("document_id", "title")
    val ordered = tr.span("ledger.next_order") {
      val o = Ledger.withNextOperationOrder(states, ledger)
      if (tr.enabled) { o.cache().count() }
      o
    }
    val rowsOut = ordered.select(
      concat(col("document_id"), lit("@"), col("operation_order")).as("id"),
      col("document_id"), col("title"),
      lit(null).cast("timestamp").as("created_at"), col("operation_order"))
    val n = tr.span("sinks.insert") {
      Merge.insertIfAbsent(spark, path, rowsOut, "id", "operation_order")
    }
    if (tr.enabled) ordered.unpersist()
    n
  }

  def op(spark: SparkSession, tr: Tracer, i: Int): OpResult = {
    val step = Rotation(i % Rotation.size)
    val t0 = System.nanoTime()
    val sel = select(spark, tr, table, step)
    val t1 = System.nanoTime()
    val n = commit(spark, tr, table, sel, step)
    val t2 = System.nanoTime()
    lastSelected = sel
    lastStep = step
    lastAppended = n
    OpResult(0.0, sel.size, Map(
      "select" -> (t1 - t0) / 1e9, "append" -> (t2 - t1) / 1e9,
      "appended" -> n.toDouble,
      "appended_bytes" -> sel.map { case (id, _, _) =>
        2 * id.length + 3 + next(step, id).length + 16 }.sum.toDouble), Nil)
  }

  /** The selection must be exactly the first docs at `step` in
    * (operation_order desc, document_id) order, stopping at the pick
    * cap or before the first doc that would overflow the byte cap; the
    * commit must append one row per selected doc. */
  def check(spark: SparkSession): Seq[String] = {
    val candidates = latest.toSeq.collect {
      case (id, (s, o)) if s == lastStep => (id, o) }
      .sortBy { case (id, o) => (-o, id) }.take(Batch)
    var cum = 0L
    val expected = candidates.takeWhile { case (id, _) =>
      cum += sizes(id); cum <= ByteCap }
    val problems = mutable.ArrayBuffer[String]()
    if (lastSelected.map(x => (x._1, x._2)) != expected)
      problems += s"selected ${lastSelected.size} docs at $lastStep, " +
        s"expected ${expected.size}"
    if (lastSelected.size > Batch ||
        lastSelected.map(_._3.toLong).sum > ByteCap)
      problems += "pick or byte cap exceeded"
    if (lastAppended != lastSelected.size)
      problems += s"appended $lastAppended rows for ${lastSelected.size} docs"
    if (expected.isEmpty) problems += s"no docs left at $lastStep"
    lastSelected.foreach { case (id, _, _) =>
      val (_, o) = latest(id)
      latest(id) = (next(lastStep, id), o + 1)
    }
    problems.toSeq
  }

  /** The latest-state snapshot equals the reference's grouped-max plus
    * self-join formulation and the benchmark's model, and re-appending the
    * last committed batch adds nothing. */
  def finish(spark: SparkSession): Seq[String] = {
    val ledger = spark.read.parquet(table)
    val snapshot = Ledger.latestState(ledger, Seq("document_id"),
        "operation_order", "operation_order")
      .select("document_id", "title", "operation_order")
    ledger.createOrReplaceTempView("perfbench_ledger")
    val j1 = spark.sql("""
      SELECT l.document_id, l.title, l.operation_order
      FROM perfbench_ledger l
      JOIN (SELECT document_id, max(operation_order) AS m
            FROM perfbench_ledger GROUP BY document_id) g
        ON l.document_id = g.document_id AND l.operation_order = g.m""")
    val problems = mutable.ArrayBuffer[String]()
    val diff = snapshot.exceptAll(j1).count() + j1.exceptAll(snapshot).count()
    if (diff != 0) problems += s"snapshot differs from J1 in $diff rows"
    val got = snapshot.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    if (got != latest.toMap)
      problems += s"snapshot differs from the benchmark model in " +
        s"${(got.toSet diff latest.toSet).size} docs"
    // the last batch as committed, rebuilt from the benchmark model
    import spark.implicits._
    val committed = lastSelected.map { case (id, _, _) =>
      val (s, o) = latest(id)
      (s"$id@$o", id, s, o) }
      .toDF("id", "document_id", "title", "operation_order")
      .select(col("id"), col("document_id"), col("title"),
        lit(null).cast("timestamp").as("created_at"), col("operation_order"))
    val again = Merge.insertIfAbsent(spark, table, committed, "id",
      "operation_order")
    if (again != 0) problems += s"re-append added $again rows"
    problems.toSeq
  }

  def docsPerSecond(ok: Seq[OpResult]): Double =
    Main.median(ok.map(_.docs.toDouble)) / Main.median(ok.map(_.seconds))

  override def diagnostics(ok: Seq[OpResult]): Seq[(String, Double, String)] =
    Seq(("select_p50_s", Main.median(ok.map(_.parts("select"))), "s"),
      ("append_p50_s", Main.median(ok.map(_.parts("append"))), "s"),
      ("docs_per_op", Main.median(ok.map(_.docs.toDouble)), "docs"))

  def layers(r: LayerReport, ok: Seq[OpResult]): Map[String, Double] = {
    def total(p: String) = ok.map(_.parts(p)).sum
    val selected = ok.map(_.docs).sum.toDouble
    Map(
      "ledger.rows_scanned_per_selected" -> r.inputRows(
        r.idsUnder("ledger.select") ++ r.idsUnder("ledger.admit")) / selected,
      "sinks.rows_read_per_appended" -> r.inputRows(
        r.idsUnder("ledger.next_order") ++ r.idsUnder("sinks.insert")) /
        total("appended"),
      "sinks.write_amp" ->
        r.outputBytes(r.idsUnder("sinks.insert")) / total("appended_bytes"),
      "sinks.table_files" -> Option(new java.io.File(table).listFiles).map(
        _.count(_.getName.endsWith(".parquet"))).getOrElse(0).toDouble)
  }
}

object LedgerWorkload {
  val Docs = 30000
  val Batch = 1000
  val ByteCap = 5000000L
  /** Steps selected in turn; each has enough docs for many batches. */
  val Rotation = Seq(Step.DocumentScraped, Step.DocumentVectorized,
    Step.DocumentClassifiedSdg, Step.DocumentClassifiedNonSdg,
    Step.DocumentWithKeywords, Step.UrlRetrieved)

  /** The state a doc at `step` is committed to. */
  def next(step: String, id: String): String = step match {
    case Step.UrlRetrieved => Step.DocumentScraped
    case Step.DocumentScraped => Step.DocumentVectorized
    case Step.DocumentVectorized =>
      if (id.hashCode % 3 == 0) Step.DocumentClassifiedSdg
      else Step.DocumentClassifiedNonSdg
    case Step.DocumentClassifiedSdg => Step.DocumentWithKeywords
    case _ => Step.DocumentInQdrant
  }
}
