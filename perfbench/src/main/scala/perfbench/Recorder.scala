package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The benchmark's SparkListener. It keeps one record per job and per task,
  * and reads them back per time window (one timed unit, one probe).
  *
  * Jobs are attributed to a layer by their innermost `graft.` call-site
  * frame (the stage `details` Spark records at submission). Jobs that
  * adaptive execution and broadcast exchanges submit from their own thread
  * pools carry no `graft.` frame; the caller's thread is blocked in the
  * action they serve, so they take the frame of the next job that has one.
  * What is still unknown counts as `other`, so the layers always sum to
  * the window's job total.
  */
final class Recorder extends SparkListener {
  import Recorder._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val completedStages = new ConcurrentHashMap[Int, java.lang.Boolean]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, innermostGraftFrame(details)))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    completedStages.put(e.stageInfo.stageId, true)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks.add(TaskRec(stageJob.getOrDefault(e.stageId, -1),
      i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
  }

  /** Everything that started in `[t0, t1]` (driver wall-clock ms). */
  def window(spark: SparkSession, t0: Long, t1: Long): Window = {
    BusDrain(spark.sparkContext)
    val inW = jobs.values.asScala.toSeq.filter(j => j.start >= t0 && j.start <= t1).sortBy(_.id)
    val ids = inW.map(_.id).toSet
    var next = ""
    val layered = inW.reverse.map { j =>
      if (j.frame.nonEmpty) { next = j.frame; j } else j.withFrame(next)
    }.reverse
    val ts = tasks.asScala.filter(t => ids.contains(t.jobId)).toSeq
    val stages = stageJob.asScala.count { case (s, j) => ids.contains(j) && completedStages.containsKey(s) }
    Window(t0, t1, layered, ts, stages)
  }
}

object Recorder {

  final class JobRec(val id: Int, val start: Long, val frame: String) {
    @volatile var end: Long = start
    def wallMs: Long = math.max(0L, end - start)
    def layer: String = layerOf(frame)
    def withFrame(f: String): JobRec = {
      val c = new JobRec(id, start, f); c.end = end; c
    }
  }

  final case class TaskRec(jobId: Int, launch: Long, finish: Long,
                           runMs: Long, cpuNs: Long, gcMs: Long,
                           shuffleWrite: Long, shuffleRead: Long, spill: Long,
                           inBytes: Long, inRecords: Long,
                           outBytes: Long, outRecords: Long)

  /** Counters of one window. */
  final case class Window(t0: Long, t1: Long, jobs: Seq[JobRec],
                          tasks: Seq[TaskRec], stages: Int) {
    def inputBytes: Long = tasks.map(_.inBytes).sum
    def inputRecords: Long = tasks.map(_.inRecords).sum
    def outputBytes: Long = tasks.map(_.outBytes).sum
    def shuffleWrite: Long = tasks.map(_.shuffleWrite).sum
    /** Wall time with no task running: planning, listing, collects,
      * commits and every other driver-side step. */
    def driverIdleS: Double = {
      val iv = tasks.map(t => (math.max(t.launch, t0), math.min(t.finish, t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { busy += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      busy += curB - curA
      math.max(0L, (t1 - t0) - busy) / 1000.0
    }
    def jobsIn(layer: String): Seq[JobRec] = jobs.filter(_.layer == layer)
    def jobsByLayer: Map[String, Int] = jobs.groupBy(_.layer).map { case (k, v) => k -> v.size }
    /** Tasks of the jobs attributed to `layer`. */
    def tasksIn(layer: String): Seq[TaskRec] = {
      val ids = jobsIn(layer).map(_.id).toSet
      tasks.filter(t => ids.contains(t.jobId))
    }
  }

  /** First `graft.` frame of a long call site, e.g.
    * `graft.operators.MergeSink$.upsertParquet`. */
  def innermostGraftFrame(details: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft.")).map(l => l.takeWhile(_ != '(')).getOrElse("")

  def layerOf(frame: String): String = {
    val parts = frame.split('.')
    if (parts.length < 2 || parts(0) != "graft") "other"
    else if (parts(1).startsWith("SparkEntry")) "query"
    else parts(1) match {
      case "operators" if parts.length > 2 && parts(2).startsWith("MergeSink") => "merge"
      case "operators" if parts.length > 2 && parts(2).startsWith("Dedup") => "dedup"
      case "operators" if parts.length > 2 && parts(2).startsWith("QualityModel") => "quality"
      case l @ ("operators" | "sources" | "stages" | "pipeline" | "functions" | "util") => l
      case _ => "other"
    }
  }

  def install(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    r
  }
}
