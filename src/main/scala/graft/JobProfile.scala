package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Dev harness: per-JOB wall-time breakdown of one declared query —
  * at sf0.1 the heavy queries are many-job pipelines (census actions,
  * persist materializations, AQE stages), and the bench number is the
  * SUM of those jobs plus driver gaps. This prints, for a warm rep:
  * each job's wall time, stage count, task count, and description, plus
  * the driver-side gap between jobs (planning/collect time).
  *
  *   sbt "runMain graft.JobProfile q68_jaccard_prefix /root/testdata/sf0.1 2"
  */
object JobProfile {
  private case class JobRec(id: Int, desc: String, t0: Long,
    var t1: Long = 0L)
  /** One completed attempt of a stage; a retried stage keeps only its
    * latest attempt, so its tasks and bytes count once. */
  private case class StageRec(attempt: Int, tasks: Int, shufWrite: Long,
    shufRead: Long)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val warmReps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    // warm-up reps: plan compile + JIT
    (1 to warmReps).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      println(f"[profile] warm rep$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val stages = mutable.HashMap[Int, StageRec]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, desc, e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          // per-stage exchange volume: accumulated task metrics are
          // final by stage completion — write bytes attribute the map
          // side, read bytes the reduce side, of each shuffle to its job
          val i = e.stageInfo
          val m = i.taskMetrics
          if (stages.get(i.stageId).forall(_.attempt <= i.attemptNumber()))
            stages(i.stageId) = StageRec(i.attemptNumber(), i.numTasks,
              if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
              if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val rows = fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    // drain listener bus (private API — settle via a short sleep instead)
    Thread.sleep(300)
    println(f"[profile] measured: $rows rows, $wall%.3f s, ${jobs.size} jobs")
    var prevEnd = -1L
    var jobSum = 0.0
    val byJob = stages.toSeq
      .flatMap { case (sid, r) => stageToJob.get(sid).map(_ -> r) }
      .groupMap(_._1)(_._2)
    jobs.values.foreach { j =>
      val ss = byJob.getOrElse(j.id, Nil)
      val dur = (j.t1 - j.t0) / 1e3
      jobSum += dur
      val gap = if (prevEnd > 0) (j.t0 - prevEnd) / 1e3 else 0.0
      prevEnd = j.t1
      println(f"[profile] job ${j.id}%3d ${dur}%7.3f s gap=${gap}%6.3f s " +
        f"stages=${ss.size}%2d tasks=${ss.map(_.tasks).sum}%4d " +
        f"shufW=${ss.map(_.shufWrite).sum / 1024.0 / 1024.0}%8.2fMB " +
        f"shufR=${ss.map(_.shufRead).sum / 1024.0 / 1024.0}%8.2fMB " +
        j.desc.take(90))
    }
    println(f"[profile] job-sum=${jobSum}%.3f s  driver-gaps=${wall - jobSum}%.3f s")
    spark.stop()
  }
}
