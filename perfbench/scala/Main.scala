package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Result of one measured operation. `parts` holds named sub-latencies
  * (seconds) the workload reports beside the op's wall time. */
final case class OpResult(seconds: Double, docs: Long,
    parts: Map[String, Double], problems: Seq[String])

/** A workload: generated inputs, a warm-up, a repeated measured op, and
  * checks of its outputs that do not use the code under test. */
trait Workload {
  /** Builds the inputs in this process, without Spark. Returns every
    * stated property the generated data misses. */
  def generate(): Seq[String]
  /** Writes the generated inputs where the ops read them. */
  def writeInputs(spark: SparkSession): Unit
  /** Readies a fresh session: loads models and registers inputs. */
  def setUp(spark: SparkSession, rep: Int): Unit
  /** Runs one untimed op, so the measured ops find classes loaded and
    * code generated. */
  def warmUp(spark: SparkSession): Unit
  def op(spark: SparkSession, tr: Tracer, i: Int): OpResult
  /** Checks the outputs of the last op, outside its timed interval. */
  def check(spark: SparkSession): Seq[String]
  /** True when the inputs are used up and no further op can run. */
  def exhausted: Boolean = false
  /** Checks of the state the ops left behind. */
  def finish(spark: SparkSession): Seq[String]
  def docsPerSecond(ok: Seq[OpResult]): Double
  /** Diagnostics printed beside the untraced metrics. */
  def diagnostics(ok: Seq[OpResult]): Seq[(String, Double, String)] = Nil
  /** Workload-specific per-layer counts and ratios. */
  def layers(r: LayerReport, ok: Seq[OpResult]): Map[String, Double]
}

object Main {
  val SetUps = 5
  val OpTimeoutSeconds = 90L

  /** Module spans: the metric `<span>_s` is the span's self time per op. */
  val ModuleSpans: Seq[String] = Seq(
    "ledger.select", "ledger.admit", "ledger.next_order",
    "sinks.insert", "sinks.write", "sinks.route",
    "ml.chunk", "ml.embed", "ml.classify", "ml.keywords", "expr.codec",
    "jobs.vectorize", "jobs.classify", "jobs.keywords", "jobs.sync",
    "jobs.curate", "functions.gate", "operators.exact_dedup",
    "operators.pairs", "operators.components", "operators.survivors",
    "operators.mix")

  /** Workload-specific per-layer metrics, 0 where a layer is idle. */
  val WorkloadLayers: Seq[(String, String)] = Seq(
    "ledger.rows_scanned_per_selected" -> "ratio",
    "sinks.rows_read_per_appended" -> "ratio",
    "sinks.write_amp" -> "ratio",
    "sinks.table_files" -> "count",
    "ml.slices_per_doc" -> "ratio",
    "ml.embed_slices_per_s" -> "1/s",
    "jobs.recompute_ratio" -> "ratio",
    "functions.gate_pass_frac" -> "fraction",
    "operators.edges" -> "count")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts.getOrElse("workload", "")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val root = new File(".bench_build")
    val work = new File(root, s"work-${ProcessHandle.current.pid}")
    work.mkdirs()
    val dir = work.getPath
    val wl: Workload = name match {
      case "pipeline" => new PipelineWorkload(seed, dir)
      case "ledger" => new LedgerWorkload(seed, dir)
      case "curate" => new CurateWorkload(seed, dir)
      case other =>
        System.err.println(s"unknown workload '$other'")
        sys.exit(2)
    }
    val code =
      try { run(wl, name, seed, seconds, traced, cores, dir, root); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    SparkSession.getDefaultSession.foreach(_.stop())
    deleteTree(work)
    sys.exit(code)
  }

  private def run(wl: Workload, name: String, seed: Long, seconds: Double,
      traced: Boolean, cores: Int, dir: String, root: File): Unit = {
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val g0 = System.nanoTime()
    val genProblems = wl.generate()
    var genSeconds = (System.nanoTime() - g0) / 1e9
    println(f"[perfbench] generated in $genSeconds%.3f s")
    if (genProblems.nonEmpty) {
      genProblems.foreach(p => System.err.println(s"[perfbench] input: $p"))
      throw new IllegalStateException(
        "generated inputs miss their stated properties")
    }

    // Set-up: session start and model load, repeated in fresh sessions;
    // the first also counts JVM start and writes the inputs (input
    // writing is reported as gen_s, not set-up). One warm-up op on a small
    // separate input follows, reported as warmup_s.
    val setUps = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (rep <- 0 until SetUps) {
      val t0 = System.nanoTime()
      spark = newSession(cores, dir)
      spark.sparkContext.setLogLevel("ERROR")
      if (rep == 0) {
        val w0 = System.nanoTime()
        wl.writeInputs(spark)
        genSeconds += (System.nanoTime() - w0) / 1e9
        printConf(spark)
      }
      wl.setUp(spark, rep)
      setUps +=
        (if (rep == 0)
          (System.currentTimeMillis() - processStart) / 1e3 - genSeconds
        else (System.nanoTime() - t0) / 1e9)
      if (rep < SetUps - 1) spark.stop()
    }
    val setupS = median(setUps.toSeq)
    val w0 = System.nanoTime()
    wl.warmUp(spark)
    val warmupS = (System.nanoTime() - w0) / 1e9
    println(f"[perfbench] set-ups: ${setUps.map(x => f"$x%.3f").mkString(", ")} s; warmup_s=$warmupS%.3f s")

    val tracer = new Tracer(spark)
    val counters = new SparkCounters
    val untraced = measure(wl, spark, tracer,
      if (traced) seconds / 2 else seconds, 0)
    var traceOps: Seq[(OpResult, Boolean)] = Nil
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      tracer.enabled = true
      traceOps = measure(wl, spark, tracer, seconds / 2, untraced.size)
      tracer.enabled = false
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    }
    val finalProblems =
      try wl.finish(spark)
      catch { case e: Exception => Seq(s"final check threw: $e") }
    finalProblems.foreach(p => System.err.println(s"[perfbench] check: $p"))

    val all = untraced ++ traceOps
    val failed = all.count(!_._2)
    val okUntraced = untraced.filter(_._2).map(_._1)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("docs_per_s") = (wl.docsPerSecond(okUntraced), "docs/s")
    } else {
      val okTraced = traceOps.filter(_._2).map(_._1)
      val okIds = traceOps.zipWithIndex.collect {
        case ((_, true), k) => untraced.size + k }.toSet
      val spansOfOk = tracer.spans.filter(s => okIds(s.op))
      val report = new LayerReport(spansOfOk.toSeq, counters, cores)
      report.sparkMetrics.foreach { case (n, v, u) => metrics(n) = (v, u) }
      metrics("jvm.peak_rss_mb") = (peakRssMb(), "MB")
      ModuleSpans.foreach(s => metrics(s + "_s") = (report.selfPerOp(s), "s"))
      val extra = wl.layers(report, okTraced)
      WorkloadLayers.foreach { case (n, u) =>
        metrics(n) = (extra.getOrElse(n, 0.0), u) }
      val wall = report.opWall
      metrics("trace.op_wall_s") = (wall, "s")
      metrics("trace.modules_self_s") = (report.modulesSelf, "s")
      metrics("trace.unaccounted_s") = (wall - report.modulesSelf, "s")
      val plain = median(okUntraced.map(_.seconds))
      val withTrace = median(okTraced.map(_.seconds))
      metrics("trace.overhead_frac") =
        (if (plain > 0) withTrace / plain - 1 else 0.0, "fraction")
      tracer.write(new File(root, s"spans-$name-$seed.jsonl").getPath)
    }

    printDiagnostics(wl, okUntraced, genSeconds)
    val correct = failed == 0 && finalProblems.isEmpty && all.nonEmpty
    spark.stop()
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${all.size}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  /** Runs ops until `seconds` have passed (at least one op). Each op
    * that throws, runs past the watchdog, or fails its output check
    * counts as failed. */
  private def measure(wl: Workload, spark: SparkSession, tr: Tracer,
      seconds: Double, firstOp: Int): Seq[(OpResult, Boolean)] = {
    val out = mutable.ArrayBuffer[(OpResult, Boolean)]()
    val t0 = System.nanoTime()
    val timer = new java.util.Timer("perfbench-watchdog", true)
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((elapsed < seconds || out.isEmpty) && !wl.exhausted) {
      val i = firstOp + out.size
      tr.op = i
      val task = new java.util.TimerTask {
        def run(): Unit = spark.sparkContext.cancelAllJobs()
      }
      timer.schedule(task, OpTimeoutSeconds * 1000)
      val s0 = System.nanoTime()
      val res =
        try {
          val r = tr.span("op")(wl.op(spark, tr, i))
          val secs = (System.nanoTime() - s0) / 1e9
          r.copy(seconds = secs, problems = r.problems ++ wl.check(spark))
        } catch {
          case e: Exception =>
            OpResult((System.nanoTime() - s0) / 1e9, 0, Map.empty,
              Seq(s"op $i threw: $e"))
        } finally task.cancel()
      res.problems.foreach(p => System.err.println(s"[perfbench] op $i: $p"))
      out += ((res, res.problems.isEmpty))
      println(f"[perfbench] op $i: ${res.seconds}%.3f s, ${res.docs} docs" +
        res.parts.map { case (k, v) => f", $k=$v%.3f" }.mkString)
    }
    timer.cancel()
    out.toSeq
  }

  private def printDiagnostics(wl: Workload, ok: Seq[OpResult],
      genSeconds: Double): Unit = {
    val secs = ok.map(_.seconds).sorted
    println(f"[perfbench] gen_s=$genSeconds%.3f s")
    if (secs.nonEmpty) {
      // the highest percentile with at least ten samples beyond it
      val n = secs.size
      val tail = if (n >= 20) {
        val p = math.floor((1.0 - 10.0 / n) * 100) / 100
        f"p${(p * 100).round}%d=${secs(math.min(n - 1, (p * n).toInt))}%.3f s"
      } else "none (fewer than 20 ops)"
      println(f"[perfbench] op_p50_s=${median(secs)}%.4f s, tail $tail, n=$n")
    }
    wl.diagnostics(ok).foreach { case (k, v, u) =>
      println(f"[perfbench] $k=$v%.4f $u") }
  }

  private def newSession(cores: Int, dir: String): SparkSession =
    GraftSession.builder(master = s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File(dir, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir",
        new File(dir, "hadoop-tmp").getAbsolutePath)
      .getOrCreate()

  /** The session's effective non-default configuration. */
  private def printConf(spark: SparkSession): Unit = {
    val volatile = Set("spark.app.id", "spark.app.startTime",
      "spark.driver.host", "spark.driver.port", "spark.executor.id",
      "spark.app.submitTime", "spark.local.dir", "spark.sql.warehouse.dir",
      "spark.hadoop.hadoop.tmp.dir")
    val conf = spark.sparkContext.getConf.getAll
      .filterNot { case (k, _) => volatile(k) || k.startsWith("spark.driver.extraJavaOptions") }
      .sortBy(_._1)
    println("[perfbench] conf " +
      conf.map { case (k, v) => s"$k=$v" }.mkString(" "))
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
