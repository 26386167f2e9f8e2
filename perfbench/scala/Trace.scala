package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval around a call into a layer. `op` is the measured
  * operation the span belongs to; `parent` is -1 for an op's root. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    t0: Long, w0: Long, var t1: Long = 0L, var w1: Long = 0L) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Task metrics summed over one stage attempt. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spill = 0L; var peakMem = 0L; var inRows = 0L; var inBytes = 0L
  var outBytes = 0L
}

/** Spark-side counters, attributed to the innermost open span through a
  * thread-local property that every job started under the span carries.
  * Only the latest attempt of each stage is counted, so a retried stage
  * does not count its work twice. */
final class SparkCounters extends SparkListener {
  val jobSpan = mutable.HashMap[Int, Int]()
  val jobTimes = mutable.HashMap[Int, (Long, Long)]()
  val stageSpan = mutable.HashMap[Int, Int]()
  val stageLatest = mutable.HashMap[Int, Int]()
  val attempts = mutable.HashMap[(Int, Int), StageAgg]()
  val execSpan = mutable.HashMap[Long, Int]()
  val planMs = mutable.HashMap[Long, Long]()
  var failedTasks = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
      val span = s.toInt
      jobSpan(e.jobId) = span
      jobTimes(e.jobId) = (e.time, e.time)
      e.stageIds.foreach(sid => stageSpan.getOrElseUpdate(sid, span))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.getOrElseUpdate(x.toLong, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (t0, _) =>
      jobTimes(e.jobId) = (t0, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stageLatest(i.stageId) =
        math.max(stageLatest.getOrElse(i.stageId, 0), i.attemptNumber())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type])
      failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val a = attempts.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.inRows += m.inputMetrics.recordsRead
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Catalyst time (analysis + optimization + planning) per execution. */
  override def onOtherEvent(e: SparkListenerEvent): Unit =
    org.apache.spark.sql.PerfbenchSql.planMs(e).foreach { case (x, ms) =>
      synchronized { planMs(x) = ms }
    }

  /** Latest-attempt aggregates of every stage attributed to `spans`. */
  def stagesOf(spans: Set[Int]): Seq[StageAgg] = synchronized {
    stageSpan.collect {
      case (sid, sp) if spans(sp) =>
        attempts.get((sid, stageLatest.getOrElse(sid, 0)))
    }.flatten.toSeq
  }

  def retriesOf(spans: Set[Int]): Long = synchronized {
    stageSpan.collect { case (sid, sp) if spans(sp) =>
      stageLatest.getOrElse(sid, 0).toLong }.sum
  }

  def submittedStagesOf(spans: Set[Int]): Long = synchronized {
    stageSpan.count { case (sid, sp) =>
      spans(sp) && stageLatest.contains(sid) }.toLong
  }

  def jobsOf(spans: Set[Int]): Seq[(Long, Long)] = synchronized {
    jobSpan.collect { case (j, sp) if spans(sp) => jobTimes(j) }.toSeq
  }

  def planMsOf(spans: Set[Int]): Long = synchronized {
    planMs.collect { case (x, ms) if execSpan.get(x).exists(spans) => ms }
      .sum
  }
}

/** Spans around the benchmark's calls into each layer. Disabled, `span`
  * only runs its body. Spans stay in memory and are written out at the
  * end of the run. */
final class Tracer(spark: SparkSession) {
  var enabled = false
  var op = -1
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val sc = spark.sparkContext

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        op, System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.t1 = System.nanoTime()
        s.w1 = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.t0},"end_ns":${s.t1}}""")
    } finally out.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Length of the union of closed intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-layer metrics from the spans of the traced ops and the counters
  * attributed to them. Times are per op: the sum over the traced ops
  * divided by their number. */
final class LayerReport(spans: Seq[Span], counters: SparkCounters,
    cores: Int) {
  private val ops = spans.filter(_.parent == -1)
  val nOps: Int = math.max(ops.size, 1)
  private val children = spans.groupBy(_.parent)

  def self(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Self time per op of every span with this name. */
  def selfPerOp(name: String): Double =
    spans.filter(_.name == name).map(self).sum / nOps

  def subtree(root: Span): Set[Int] = {
    val out = mutable.Set(root.id)
    var frontier = List(root.id)
    while (frontier.nonEmpty) {
      val kids = frontier.flatMap(p => children.getOrElse(p, Nil).map(_.id))
      out ++= kids
      frontier = kids
    }
    out.toSet
  }

  /** Span ids of every span with this name, and their descendants. */
  def idsUnder(name: String): Set[Int] =
    spans.filter(_.name == name).flatMap(subtree).toSet

  val allIds: Set[Int] = spans.map(_.id).toSet

  def stages(ids: Set[Int]): Seq[StageAgg] = counters.stagesOf(ids)
  def inputRows(ids: Set[Int]): Long = stages(ids).map(_.inRows).sum
  def outputBytes(ids: Set[Int]): Long = stages(ids).map(_.outBytes).sum

  def opWall: Double = ops.map(_.seconds).sum / nOps

  /** Op wall time not covered by any Spark job, per op. */
  def driverGap: Double = ops.map { op =>
    val ids = subtree(op)
    val jobs = counters.jobsOf(ids).map { case (a, b) =>
      (math.max(a, op.w0), math.min(b, op.w1)) }.filter(j => j._2 > j._1)
    (op.w1 - op.w0 - Tracer.unionLength(jobs)) / 1000.0
  }.sum / nOps

  /** Self time of every span below the op roots, per op. */
  def modulesSelf: Double =
    spans.filter(_.parent != -1).map(self).sum / nOps

  def sparkMetrics: Seq[(String, Double, String)] = {
    val st = stages(allIds)
    val wall = ops.map(_.seconds).sum
    def per(x: Double) = x / nOps
    Seq(
      ("spark.plan_ms", per(counters.planMsOf(allIds).toDouble), "ms"),
      ("spark.jobs", per(counters.jobsOf(allIds).size.toDouble), "count"),
      ("spark.stages", per(counters.submittedStagesOf(allIds).toDouble),
        "count"),
      ("spark.tasks", per(st.map(_.tasks).sum.toDouble), "count"),
      ("spark.driver_gap_s", driverGap, "s"),
      ("spark.exec_run_s", per(st.map(_.runMs).sum / 1e3), "s"),
      ("spark.exec_cpu_s", per(st.map(_.cpuNs).sum / 1e9), "s"),
      ("spark.gc_s", per(st.map(_.gcMs).sum / 1e3), "s"),
      ("spark.busy_frac",
        if (wall > 0) st.map(_.runMs).sum / 1e3 / (wall * cores) else 0.0,
        "fraction"),
      ("spark.shuffle_write_bytes", per(st.map(_.shuffleWrite).sum.toDouble),
        "bytes"),
      ("spark.shuffle_read_bytes", per(st.map(_.shuffleRead).sum.toDouble),
        "bytes"),
      ("spark.shuffle_fetch_wait_s", per(st.map(_.fetchWaitMs).sum / 1e3),
        "s"),
      ("spark.spill_bytes", per(st.map(_.spill).sum.toDouble), "bytes"),
      ("spark.peak_exec_mem_mb",
        (st.map(_.peakMem) :+ 0L).max / 1048576.0, "MB"),
      ("spark.input_rows", per(st.map(_.inRows).sum.toDouble), "count"),
      ("spark.input_bytes", per(st.map(_.inBytes).sum.toDouble), "bytes"),
      ("spark.failed_tasks", counters.failedTasks.toDouble, "count"),
      ("spark.stage_retries", counters.retriesOf(allIds).toDouble, "count"))
  }
}
