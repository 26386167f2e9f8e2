package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The duplication-adaptive pair emitters return the same rows when
  * tasks fail and retry, and leave no more persisted RDDs behind after
  * a repeated invocation than after the first one.
  *
  * Each emitter runs on two corpora: one whose duplicate census finds
  * few enough suspects for the literal IN-set routing tier, and one
  * whose suspects exceed [[Dedup.SpanningInSetSuspects]], which routes
  * through the broadcast semi/anti joins. The flaky input throws on
  * the first attempt of every task that reads its partition 0.
  *
  * Task retries need a `local[n,maxFailures]` master, which a running
  * SparkContext cannot change, so this suite stops the shared session,
  * runs on its own `local[2,3]` session and stops it afterwards; the
  * next `SparkSuite` builds a fresh shared session. */
class AdaptiveRetrySpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2,3]")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    try spark.stop()
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      super.afterAll()
    }
  }

  /** Ten words; docs of different `k` share no 3-shingle, and the
    * variant of `k` (last word changed) scores J = 7/9 against it. */
  private def text(k: Int, variant: Boolean = false): String =
    (Seq(s"a$k", s"b$k", s"c$k", "shared", "common", s"d$k", s"e$k",
      s"f$k", s"g$k") :+ (if (variant) s"z$k" else s"h$k")).mkString(" ")

  /** `classes` texts with `copies` byte-identical docs each, a
    * near-dup variant for the first `variants` of them, and `unique`
    * unrelated docs. Suspects = classes * copies. */
  private def corpus(classes: Int, copies: Int, variants: Int,
      unique: Int): Seq[(Long, String)] = {
    val dups = for (k <- 0 until classes; c <- 0 until copies)
      yield ((c * 100000 + k).toLong, text(k))
    val near = (0 until variants).map(k => (500000L + k, text(k, true)))
    val lone = (0 until unique).map(u => (900000L + u, text(10000 + u)))
    dups ++ near ++ lone
  }

  private val inSetCorpus = corpus(classes = 5, copies = 3, variants = 5,
    unique = 20)
  private val broadcastCorpus = corpus(classes = 501, copies = 2,
    variants = 40, unique = 10)

  /** The corpus over 4 partitions; with `flaky`, the first attempt of
    * every task reading partition 0 throws. */
  private def docs(rows: Seq[(Long, String)], flaky: Boolean): DataFrame = {
    val s = spark
    import s.implicits._
    val df = spark.sparkContext.parallelize(rows, 4).toDF("doc_id", "raw")
    val read = udf { (t: String) =>
      val ctx = TaskContext.get()
      if (flaky && ctx.partitionId() == 0 && ctx.attemptNumber() == 0) {
        AdaptiveRetrySpec.injected.incrementAndGet()
        throw new IllegalStateException("injected first-attempt failure")
      }
      t
    }
    df.select(col("doc_id"), read(col("raw")).as("text"))
  }

  /** Runs `body` with Spark's log off: the executor logs every injected
    * failure with its stack trace. */
  private def quietly[T](body: => T): T = {
    spark.sparkContext.setLogLevel("OFF")
    try body finally spark.sparkContext.setLogLevel("ERROR")
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def pinned: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val emitters: Seq[(String, DataFrame => DataFrame)] = Seq(
    "jaccardPairsPrefix" ->
      (df => Dedup.jaccardPairsPrefix(df, "doc_id", "text", 3, 0.6)),
    "jaccardPairs" ->
      (df => Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.6)),
    "minhashLshPairs" ->
      (df => Dedup.minhashLshPairs(df, "doc_id", "text", 3, 32, 8)),
    "simhashPairs" ->
      (df => Dedup.simhashPairs(df, "doc_id", "text", 7)),
    "jaccardSpanningEdges" ->
      (df => Dedup.jaccardSpanningEdges(df, "doc_id", "text", 3, 0.6,
        1000)))

  private def check(name: String, emit: DataFrame => DataFrame,
      corpus: Seq[(Long, String)]): Unit = {
    val clean = rows(emit(docs(corpus, flaky = false)))
    assert(clean.nonEmpty, s"$name: the corpus must produce pairs")
    val before = pinned
    val injected0 = AdaptiveRetrySpec.injected.get()
    val first = quietly(rows(emit(docs(corpus, flaky = true))))
    assert(AdaptiveRetrySpec.injected.get() > injected0,
      s"$name: no task retried")
    assert(first === clean, s"$name: rows differ under task retries")
    val afterFirst = pinned
    val second = quietly(rows(emit(docs(corpus, flaky = true))))
    assert(second === clean, s"$name: repeated invocation differs")
    val afterSecond = pinned
    assert(afterSecond.size === afterFirst.size,
      s"$name: persisted RDDs grow across invocations " +
        s"(${afterFirst.size} -> ${afterSecond.size})")
    assert(((afterFirst -- before) intersect afterSecond).isEmpty,
      s"$name: the previous invocation's caches were not released")
  }

  test("the corpora reach the IN-set and the broadcast routing tiers") {
    val inSet = 5 * 3
    val broadcast = 501 * 2
    assert(inSet < inSetCorpus.size && inSet <= Dedup.SpanningInSetSuspects)
    assert(broadcast > Dedup.SpanningInSetSuspects &&
      broadcast < broadcastCorpus.size &&
      broadcast <= Dedup.SpanningMaxLocalSuspects)
  }

  emitters.foreach { case (name, emit) =>
    test(s"$name: same rows under first-attempt task failures and no " +
        s"leaked persists, IN-set tier") {
      check(name, emit, inSetCorpus)
    }
    test(s"$name: same rows under first-attempt task failures and no " +
        s"leaked persists, broadcast tier") {
      check(name, emit, broadcastCorpus)
    }
  }
}

object AdaptiveRetrySpec {
  /** Injected task failures; executors share the test's JVM in local
    * mode, so the test reads what the tasks counted. */
  val injected = new java.util.concurrent.atomic.AtomicInteger()
}
