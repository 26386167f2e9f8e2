package perfbench

import scala.util.Random

/** Seeded text generation shared by the workloads. */
object Gen {
  /** `n` distinct lowercase pseudo-words of 4 to 9 letters built from
    * the given syllables. */
  def vocabulary(rng: Random, syllables: IndexedSeq[String],
      n: Int): IndexedSeq[String] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    while (out.size < n) {
      val sb = new StringBuilder
      while (sb.length < 4 || (sb.length < 9 && rng.nextInt(3) > 0))
        sb ++= syllables(rng.nextInt(syllables.size))
      if (sb.length <= 9) out += sb.toString
    }
    out.toIndexedSeq
  }

  /** Draws ranks 0 until n with probability proportional to
    * 1 / (rank + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(rng: Random): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def capitalize(w: String): String = w.head.toUpper + w.tail

  /** A sentence of `words`, capitalised and closed by a period. */
  def sentence(words: Seq[String]): String =
    (capitalize(words.head) +: words.tail).mkString(" ") + "."

  /** Greedy word-capped packing of sentences: the slices a
    * sentence-bounded chunker must produce. A sentence longer than
    * `maxWords` words is cut to its first `maxWords - 1` words, the last
    * one followed by "...". */
  def packSlices(sentences: Seq[String], maxWords: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    val current = scala.collection.mutable.ArrayBuffer[String]()
    sentences.foreach { s =>
      val w0 = s.split(" ")
      val w = if (w0.length > maxWords)
        w0.take(maxWords - 1).updated(maxWords - 2, w0(maxWords - 2) + "...")
      else w0
      if (current.nonEmpty && current.size + w.length > maxWords) {
        out += current.mkString(" "); current.clear()
      }
      current ++= w
    }
    if (current.nonEmpty) out += current.mkString(" ")
    out.result()
  }

  def within(name: String, value: Double, lo: Double,
      hi: Double): Option[String] =
    if (value >= lo && value <= hi) None
    else Some(f"$name = $value%.4f outside [$lo%.4f, $hi%.4f]")
}
