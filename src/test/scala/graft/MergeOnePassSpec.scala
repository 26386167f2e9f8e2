package graft

import java.nio.file.Files

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.Merge

/** `Merge.insertIfAbsent` computes its rows in one Spark execution and
  * returns the count of the rows that landed, also when tasks fail and
  * retry.
  *
  * Task retries need a `local[n,maxFailures]` master, which a running
  * SparkContext cannot change, so this suite stops the shared session,
  * runs on its own `local[2,3]` session and stops it afterwards; the
  * next `SparkSuite` builds a fresh shared session. */
class MergeOnePassSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  private def table(name: String): String =
    Files.createTempDirectory("graft_onepass").toString + "/" + name

  /** `n` rows over 4 partitions, keys `k0..k(distinct-1)` (repeated when
    * `distinct < n`), each key computed by a deterministic UDF that
    * counts its evaluations in `evals`. With `flaky`, the first attempt
    * of every task on partition 0 throws once it has counted the row. */
  private def incoming(n: Int, distinct: Int, flaky: Boolean)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val evals = spark.sparkContext.longAccumulator("key_evals")
    val key = udf { (i: Long) =>
      evals.add(1)
      val ctx = TaskContext.get()
      if (flaky && ctx.partitionId() == 0 && ctx.attemptNumber() == 0) {
        MergeOnePassSpec.injected.incrementAndGet()
        throw new IllegalStateException("injected first-attempt failure")
      }
      s"k${i % distinct}"
    }
    (spark.range(0, n, 1, 4)
      .select(key(col("id")).as("key"), col("id").as("seq")), evals)
  }

  /** Runs `body` with Spark's log off: the executor logs every injected
    * failure with its stack trace. */
  private def quietly[T](body: => T): T = {
    spark.sparkContext.setLogLevel("OFF")
    try body finally spark.sparkContext.setLogLevel("ERROR")
  }

  private def landed(dir: String): Seq[String] =
    spark.read.parquet(dir).select("key").collect().map(_.getString(0))
      .toSeq

  test("one insertIfAbsent evaluates each incoming row once") {
    val dir = table("t")
    val (first, evals1) = incoming(200, 200, flaky = false)
    assert(Merge.insertIfAbsent(spark, dir, first, "key", "seq") === 200)
    assert(evals1.value === 200L, "create path re-ran the incoming plan")
    // existing table: dedup window + anti-join, still one execution
    val (second, evals2) = incoming(300, 250, flaky = false)
    assert(Merge.insertIfAbsent(spark, dir, second, "key", "seq") === 50)
    assert(evals2.value === 300L, "append path re-ran the incoming plan")
    assert(landed(dir).size === 250)
  }

  test("the count is exact under task retries: no duplicates, " +
      "idempotent re-append, no leaked persists") {
    val dir = table("t")
    val (seed, _) = incoming(40, 40, flaky = false)
    assert(Merge.insertIfAbsent(spark, dir, seed, "key", "seq") === 40)
    val (batch, evals) = incoming(400, 300, flaky = true)
    val injected0 = MergeOnePassSpec.injected.get()
    val n = quietly(Merge.insertIfAbsent(spark, dir, batch, "key", "seq"))
    assert(MergeOnePassSpec.injected.get() > injected0, "no task retried")
    val keys = landed(dir)
    assert(n === 260L)
    assert(n === keys.size - 40, "returned count != rows that landed")
    assert(keys.distinct.size === keys.size, "duplicate ids landed")
    // failed attempts' accumulator updates are dropped, like the metric's
    assert(evals.value === 400L)
    val (again, _) = incoming(400, 300, flaky = true)
    assert(quietly(Merge.insertIfAbsent(spark, dir, again, "key", "seq"))
      === 0)
    assert(landed(dir).size === keys.size)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("an empty append adds no rows; it creates a missing table with " +
      "the incoming schema and adds one zero-row file to an existing one") {
    val s = spark
    import s.implicits._
    val dir = table("t")
    val empty = Seq.empty[(String, Long)].toDF("key", "seq")
    assert(Merge.insertIfAbsent(spark, dir, empty, "key", "seq") === 0)
    val created = spark.read.parquet(dir)
    assert(created.count() === 0)
    assert(created.columns.toSeq === Seq("key", "seq"))
    def files = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(Merge.insertIfAbsent(spark, dir,
      Seq(("a", 1L), ("b", 2L)).toDF("key", "seq"), "key", "seq") === 2)
    val before = files
    assert(Merge.insertIfAbsent(spark, dir, empty, "key", "seq") === 0)
    assert(spark.read.parquet(dir).count() === 2)
    assert(files === before + 1)
  }
}

object MergeOnePassSpec {
  /** Injected task failures; executors share the driver's JVM in local
    * mode, so the test reads what the tasks counted. */
  val injected = new java.util.concurrent.atomic.AtomicInteger()
}
