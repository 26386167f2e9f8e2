package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{TextClean, TextMetrics}
import graft.jobs.Curation
import graft.operators.{Dedup, Mixing}

/** LLM-corpus curation with near-duplicate collapse over a seeded
  * corpus. One op is one `Curation.curateWithNearDup` pass whose
  * survivors are collected. The corpus plants gate-failing documents,
  * exact copies and near-duplicate clusters at stated rates over a Zipf
  * vocabulary, so some shingles pass the document-frequency cap. With
  * every mixture rate at 1.0 the survivors are known exactly.
  *
  * Traced, the pass is rebuilt from the same public functions
  * `curateWithNearDup` composes, materialized at each boundary. */
final class CurateWorkload(seed: Long, dir: String) extends Workload {
  import CurateWorkload._

  private case class Doc(id: String, text: String, source: String)

  private var corpus: IndexedSeq[Doc] = IndexedSeq.empty
  private var survivors: Set[String] = Set.empty
  private var lastOut: Set[String] = Set.empty
  private var lastSplits: Set[String] = Set.empty
  private val table = s"$dir/corpus"
  private val held = mutable.ArrayBuffer[DataFrame]()

  def generate(): Seq[String] = {
    val rng = new Random(seed)
    val words = Stopwords ++ Gen.vocabulary(rng, Syllables, VocabSize)
    val zipf = new Gen.Zipf(words.size, 1.05)
    val p = new Planted(rng, words, zipf)
    corpus = p.build(CorpusDocs, "c")
    survivors = p.survivors
    p.problems.toSeq
  }

  /** One generated corpus and its ground truth. */
  private final class Planted(rng: Random, words: IndexedSeq[String],
      zipf: Gen.Zipf) {
    val problems = mutable.ArrayBuffer[String]()
    var survivors: Set[String] = Set.empty
    private val plain = words.drop(Stopwords.size)

    private def text(nWords: Int, pick: () => String): String = {
      val ws = Seq.fill(nWords)(pick())
      // 3 to 6 lines of sentences
      val lines = 3 + rng.nextInt(4)
      val per = math.max(1, nWords / lines)
      ws.grouped(per).map(l => Gen.sentence(l)).mkString("\n")
    }
    /** Draws until `Gate` gives the planted outcome, so every planted
      * doc passes or fails the quality gate as stated. */
    private def planted(keep: Boolean)(draw: => String): String =
      Iterator.continually(draw).find(Gate.keep(_) == keep).get
    private def good(): String = planted(keep = true) {
      text(GoodWordsMin + rng.nextInt(GoodWordsMax - GoodWordsMin + 1),
        () => words(zipf.draw(rng)))
    }
    private def bad(): String = planted(keep = false) {
      rng.nextInt(3) match {
        case 0 => text(20 + rng.nextInt(20), () => words(zipf.draw(rng)))
        case 1 => text(GoodWordsMin, () => plain(rng.nextInt(plain.size)))
        case _ => text(GoodWordsMin, () =>
          if (rng.nextInt(4) == 0) "#" + plain(rng.nextInt(plain.size))
          else words(zipf.draw(rng)))
      }
    }
    /** `t` with one word replaced: its 3-word-shingle Jaccard similarity
      * to `t` stays far above the threshold. */
    private def mutate(t: String): String = {
      val lines = t.split("\n").map(_.split(" "))
      val total = lines.map(_.length).sum
      val flat = lines.flatten
      flat(rng.nextInt(total)) = plain(rng.nextInt(plain.size))
      val it = flat.iterator
      lines.map(l => Seq.fill(l.length)(it.next()).mkString(" "))
        .mkString("\n")
    }

    def build(n: Int, prefix: String): IndexedSeq[Doc] = {
      val nBad = (n * GateFailShare).toInt
      val nExact = (n * ExactDupShare).toInt
      val nClusters = (n * ClusterShare).toInt
      val roots = IndexedSeq.fill(n - nBad - nExact)(good())
      val clusterRoots = roots.take(nClusters)
      val members = clusterRoots.zipWithIndex.flatMap { case (r, c) =>
        Seq.fill(1 + rng.nextInt(3))((planted(keep = true)(mutate(r)), c)) }
      val originals = roots.drop(nClusters).take(
        math.max(0, roots.size - nClusters - members.size))
      val texts: IndexedSeq[(String, Int)] =
        clusterRoots.zipWithIndex ++ members ++ originals.map(_ -> -1)
      val copies = IndexedSeq.fill(nExact)(texts(rng.nextInt(texts.size)))
      val bads = IndexedSeq.fill(nBad)((bad(), -2))
      val all = rng.shuffle(texts ++ copies ++ bads)
      val docs = all.zipWithIndex.map { case ((t, _), i) =>
        Doc(f"$prefix$i%07d", t, Sources(i % Sources.size)) }
      val cluster = all.map(_._2)
      truth(docs, cluster, nBad, nExact, nClusters, members.size)
      docs
    }

    private def truth(docs: IndexedSeq[Doc], cluster: IndexedSeq[Int],
        nBad: Int, nExact: Int, nClusters: Int, nMembers: Int): Unit = {
      val pass = docs.map(d => Gate.keep(d.text))
      val expectedFail = cluster.count(_ == -2)
      if (pass.zip(cluster).exists { case (p, c) => p == (c == -2) })
        problems += "a planted gate outcome does not hold"
      val idx = docs.indices.filter(pass)
      // exact copies: the smallest id per normalized text survives
      val byText = idx.groupBy(i => Gate.normalize(docs(i).text))
      val firsts = byText.values.map(_.min).toSet
      val planted = byText.values.count(_.size > 1)
      // near-dup clusters over the shingle sets capped by document
      // frequency among the exact-deduplicated survivors
      val sh = firsts.toSeq.map(i => i -> Gate.shingles(docs(i).text)).toMap
      val df = mutable.HashMap[String, Int]().withDefaultValue(0)
      sh.values.foreach(_.foreach(s => df(s) += 1))
      val capped = sh.map { case (i, s) => i -> s.filter(df(_) <= MaxDf) }
      val byCluster = idx.filter(i => cluster(i) >= 0 && firsts(i))
        .groupBy(cluster)
      val worst = byCluster.values.flatMap { members =>
        val root = members.min
        members.filter(_ != root).map(m =>
          Gate.jaccard(capped(root), capped(m)))
      }
      if (worst.nonEmpty && worst.min < Threshold + 0.02)
        problems += f"a planted near-dup is at Jaccard ${worst.min}%.3f"
      val clusterLosers = byCluster.values.flatMap(m => m.toSeq.sorted.tail)
        .toSet
      survivors = firsts.filterNot(clusterLosers).map(docs(_).id)
      val capHit = df.count(_._2 > MaxDf)
      val n = docs.size.toDouble
      problems ++= Seq(
        Gen.within("gate-fail share", expectedFail / n,
          GateFailShare - 0.01, GateFailShare + 0.01),
        Gen.within("exact-copy groups", planted, nExact * 0.5, nExact),
        Gen.within("near-dup clusters", byCluster.count(_._2.size > 1),
          nClusters * 0.9, nClusters),
        Gen.within("shingles over the df cap", capHit, 1, 1e9)).flatten
    }
  }

  def writeInputs(spark: SparkSession): Unit = write(spark, corpus, table)

  private def write(spark: SparkSession, docs: Seq[Doc],
      path: String): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.source)).toDF("id", "text", "source")
      .repartition(4).write.parquet(path)
  }

  def setUp(spark: SparkSession, rep: Int): Unit =
    spark.read.parquet(table).count()

  /** One pass over the corpus itself: a pass keeps no state, and after a
    * pass over a small corpus the next two full passes still speed up. */
  def warmUp(spark: SparkSession): Unit = {
    val got = pass(spark, new Tracer(spark), table)._1
    if (got != survivors)
      throw new IllegalStateException("warm-up survivors differ from truth")
  }

  private def mat(tr: Tracer, name: String,
      df: => DataFrame): (DataFrame, Long) = tr.span(name) {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    held += p
    (p, p.count())
  }

  private def pass(spark: SparkSession, tr: Tracer,
      path: String): (Set[String], Set[String], Map[String, Double]) = {
    val docs = spark.read.parquet(path)
    val rates = Sources.map(_ -> 1.0).toMap
    val parts = mutable.Map[String, Double]()
    val out = tr.span("jobs.curate") {
      val result =
        if (!tr.enabled)
          Curation.curateWithNearDup(docs, "id", "text", "source", rates,
            nearDupThreshold = Threshold, shingleN = 3, maxDocFreq = MaxDf)
        else {
          val (gated, nGated) = mat(tr, "functions.gate", docs
            .withColumn("text", TextClean.redactPii(col("text")))
            .withColumn("__g", TextMetrics.gopherStruct(col("text")))
            .withColumn("__r", TextMetrics.repetitionStats(col("text")))
            .where(col("__g.keep") &&
              (col("__r.dup_lines").cast("long") * 10 <=
                col("__r.n_lines").cast("long") * 3) &&
              (col("__r.top2_count").cast("long") *
                col("__r.top2_len").cast("long") * 5 <=
                col("__r.text_chars").cast("long")))
            .drop("__g", "__r"))
          parts("gated") = nGated.toDouble
          val (base, _) = mat(tr, "operators.exact_dedup",
            Dedup.dedupKeepFirst(gated, "id", "text"))
          val (pairs, nEdges) = mat(tr, "operators.pairs",
            Dedup.jaccardSpanningEdges(base, "id", "text", 3, Threshold,
              MaxDf))
          parts("edges") = nEdges.toDouble
          val (clusters, _) = mat(tr, "operators.components",
            Dedup.connectedComponents(base.select(col("id")), pairs,
              idCol = "id", maxRounds = 15, idsCoverEndpoints = true,
              pairsCanonical = true))
          val (kept, _) = mat(tr, "operators.survivors",
            Dedup.keepClusterSurvivors(base, clusters, "id",
              repsPresent = true))
          mat(tr, "operators.mix", Mixing.stratifiedSample(kept, "source",
              rates, "id")
            .withColumn("split", Mixing.assignSplit(col("id"), 0.8, 0.1)))._1
        }
      result.select("id", "split").collect()
    }
    held.foreach(_.unpersist())
    held.clear()
    (out.map(_.getString(0)).toSet, out.map(_.getString(1)).toSet,
      parts.toMap)
  }

  def op(spark: SparkSession, tr: Tracer, i: Int): OpResult = {
    val (ids, splits, parts) = pass(spark, tr, table)
    lastOut = ids
    lastSplits = splits
    OpResult(0.0, corpus.size, parts, Nil)
  }

  def check(spark: SparkSession): Seq[String] = {
    val problems = mutable.ArrayBuffer[String]()
    if (lastOut != survivors)
      problems += s"${lastOut.size} survivors, truth has ${survivors.size} " +
        s"(${(lastOut diff survivors).size} extra, " +
        s"${(survivors diff lastOut).size} missing)"
    if (!lastSplits.subsetOf(Set("train", "val", "test")))
      problems += s"unknown split labels ${lastSplits.mkString(",")}"
    problems.toSeq
  }

  def finish(spark: SparkSession): Seq[String] = Nil

  def docsPerSecond(ok: Seq[OpResult]): Double =
    corpus.size / Main.median(ok.map(_.seconds))

  def layers(r: LayerReport, ok: Seq[OpResult]): Map[String, Double] = Map(
    "functions.gate_pass_frac" ->
      ok.map(_.parts.getOrElse("gated", 0.0)).sum / ok.map(_.docs).sum,
    "operators.edges" ->
      ok.map(_.parts.getOrElse("edges", 0.0)).sum / math.max(ok.size, 1))
}

/** An implementation of the corpus rules written from their published
  * definitions (Gopher quality rules, repetition thresholds, exact text
  * fingerprint, word 3-gram Jaccard), used only to derive ground truth. */
object Gate {
  private val stop = Set("the", "be", "to", "of", "and", "that", "have",
    "with")

  def keep(t: String): Boolean = {
    val ws = t.trim.split("\\s+").filter(_.nonEmpty)
    val n = ws.length.toLong
    val chars = ws.map(_.length.toLong).sum
    val lines = t.split("\n", -1)
    val hashes = t.count(_ == '#').toLong
    val alpha = ws.count(_.exists(c => c.isLetter && c < 128)).toLong
    val stops = ws.map(_.toLowerCase).distinct.count(stop)
    val ell = lines.count(_.replaceAll("\\s+$", "").endsWith("..."))
    val bul = lines.count { l =>
      val s = l.replaceAll("^\\s+", "")
      s.startsWith("-") || s.startsWith("*") || s.startsWith("•") }
    val gopher = n >= 50 && n <= 100000 && chars >= 3 * n &&
      chars <= 10 * n && hashes * 10 <= n && ell * 10 <= lines.length * 3 &&
      bul * 10 <= lines.length * 9 && alpha * 5 >= n * 4 && stops >= 2
    val dupLines = lines.length - lines.distinct.length
    val grams = ws.sliding(2).filter(_.length == 2)
      .map(_.mkString(" ")).toSeq.groupBy(identity)
    val top = if (grams.isEmpty) 0 else grams.values.map(_.size).max
    val topLen = if (grams.isEmpty) 0
      else grams.filter(_._2.size == top).keys.map(_.length).max
    gopher && dupLines * 10 <= lines.length * 3 &&
      top.toLong * topLen * 5 <= t.length
  }

  def normalize(t: String): String =
    t.trim.toLowerCase.replaceAll("\\s+", " ")

  def shingles(t: String): Set[String] =
    t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).sliding(3)
      .filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size
}

object CurateWorkload {
  val CorpusDocs = 2000
  val GoodWordsMin = 80
  val GoodWordsMax = 160
  val VocabSize = 3000
  val GateFailShare = 0.12
  val ExactDupShare = 0.06
  val ClusterShare = 0.03
  val Threshold = 0.8
  val MaxDf = 100
  val Stopwords = IndexedSeq("the", "of", "and", "to", "a", "in", "that",
    "is", "with", "be", "it", "have")
  val Sources = Seq("web", "books", "papers")
  val Syllables: IndexedSeq[String] =
    "ka ro mi ten sal vor ule bri dan est ok pha lin mur gre tos"
      .split(" ").toIndexedSeq
}
