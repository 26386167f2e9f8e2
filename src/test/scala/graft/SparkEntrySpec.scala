package graft

/** Smoke-level: every declared query runs on sf0.001 and its oracle SQL
  * (when present) exists; deep per-operator checks live in the other
  * suites, cross-engine equality in the driver's DuckDB gate. */
class SparkEntrySpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(initSpark()).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("runConcurrently fails the call on a fatal error in a worker " +
      "thread (q81's parallel bucketed writes)") {
    val ran = new java.util.concurrent.atomic.AtomicInteger()
    val ex = intercept[RuntimeException](SparkEntry.runConcurrently(
      "writes failed", Seq(
        () => { ran.incrementAndGet(); () },
        () => throw new OutOfMemoryError("simulated"),
        () => throw new IllegalStateException("second"))))
    assert(ex.getMessage === "writes failed")
    assert(ran.get === 1)
    assert((ex.getCause +: ex.getSuppressed.toSeq).map(_.getMessage).toSet
      === Set("simulated", "second"))
    SparkEntry.runConcurrently("unused",
      Seq(() => { ran.incrementAndGet(); () }))
    assert(ran.get === 2)
  }

  test("composite cluster queries (q83/q86/q119) run on the BOUNDED " +
      "pair generator and their oracle output is unchanged by the cap") {
    // The r9 review flagged these three as the only scale-weak spots:
    // they fed the uncapped jaccardPairs, whose worst case is d² pairs
    // per stop-shingle. They now use jaccardPairsCapped with a cap far
    // above the testdata's max shingle df — so at test scale the pairs
    // (and the recursive-CTE oracles) are bit-identical to the uncapped
    // form, while at corpus scale per-shingle work is bounded by
    // construction. This test pins the equivalence end-to-end.
    val s = initSpark()
    import org.apache.spark.sql.functions.col
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val uncapped = graft.operators.Dedup
      .jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaQuery = SparkEntry.queries("q83_dup_clusters")(s, dir)
    // the query's cluster assignment must equal clustering the
    // uncapped pair graph — i.e. the cap dropped nothing here
    val cappedPairs = graft.operators.Dedup
      .jaccardPairsCapped(docs, "doc_id", "text", n = 3,
        threshold = 0.2, maxDocFreq = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs === uncapped,
      "df cap must not bite at test scale (oracle parity contract)")
    assert(viaQuery.where(col("keep")).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and is non-degenerate") {
      val df = fn(initSpark(), dir)
      val n = df.count()
      // anti-join is legitimately empty on this data; everything else
      // must produce rows (q44 now runs on stub-embedded documents,
      // which have real near-dup structure — 1270 pairs at sf0.001)
      val mayBeEmpty = Set("q07_anti_join")
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      assert(df.columns.nonEmpty)
    }
  }
}
