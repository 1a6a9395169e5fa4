package kgbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-side trace of a benchmark run, gathered from outside the program
  * through a `SparkListener` and a `StreamingQueryListener`.
  *
  * The runner tags the thread that executes an operation with the local
  * property `Trace.OpKey`; Spark copies local properties into every job
  * and stage the operation submits (micro-batch threads inherit them too),
  * so each job and stage is attributed to exactly one operation. Jobs keep
  * the call-site name Spark gives their final stage (e.g.
  * `parquet at Icebergish.scala:53`) for the run report. */
object Trace {
  val OpKey = "kgbench.op"

  final class StageRec(val op: String) {
    var submitted = 0L
    var completed = 0L
    var numTasks = 0
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Max over median task time of one stage; 1.0 when it has no tasks. */
  def skew(taskMs: Seq[Long]): Double = {
    val med = median(taskMs.map(_.toDouble))
    if (taskMs.isEmpty || med <= 0) 1.0 else taskMs.max / med
  }

  /** Block until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.kgbench.Bus.drain(sc)

  final class JobRec(val op: String, val callSite: String, val start: Long,
      val stageIds: Seq[Int]) {
    var end = -1L
  }

  /** Roll-up of one operation's jobs and stages. Times are in seconds. */
  final case class OpSpark(jobs: Int, stages: Int, tasks: Int,
      busyCoreS: Double, stageActiveS: Double, gcS: Double,
      shuffleBytes: Long, spillBytes: Long, singleTaskStages: Int,
      skew: Double, batches: Seq[Double])
}

final class Trace extends SparkListener {
  import Trace._

  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  // (op, batch duration in seconds) per streaming micro-batch
  private val batches = mutable.ArrayBuffer.empty[(String, Double)]
  @volatile private var streamOp: String = ""

  private def prop(p: Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job's final stage carries the job's call-site name
    val callSite = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = new JobRec(prop(e.properties, OpKey), callSite, e.time,
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      val r = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
        new StageRec(prop(e.properties, OpKey)))
      r.numTasks = i.numTasks
      r.submitted = i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { r =>
        r.completed = i.completionTime.getOrElse(System.currentTimeMillis())
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
      r.tasks += 1
      r.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Streaming progress carries no local properties; the runner names the
    * operation in flight instead. */
  def setStreamOp(op: String): Unit = streamOp = op

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = Trace.this.synchronized {
      batches += ((streamOp, e.progress.batchDuration / 1000.0))
    }
  }

  /** Jobs of one operation, in submission order. */
  def jobsOf(op: String): Seq[JobRec] = synchronized {
    jobs.values.filter(_.op == op).toVector.sortBy(_.start)
  }

  def stagesOf(op: String): Seq[StageRec] = synchronized {
    stages.values.filter(_.op == op).toVector
  }

  def stagesOfJob(j: JobRec, op: String): Seq[StageRec] = synchronized {
    val ids = j.stageIds.toSet
    stages.collect { case ((id, _), r) if ids(id) && r.op == op => r }.toVector
  }

  def rollup(op: String, startMs: Long, endMs: Long): OpSpark = synchronized {
    val ss = stagesOf(op)
    val active = Trace.unionMs(ss.filter(_.completed > 0)
      .map(s => (math.max(s.submitted, startMs), math.min(s.completed, endMs))))
    val heaviest = if (ss.isEmpty) None else Some(ss.maxBy(_.runMs))
    OpSpark(
      jobs = jobsOf(op).size,
      stages = ss.size,
      tasks = ss.map(_.tasks).sum,
      busyCoreS = ss.map(_.runMs).sum / 1000.0,
      stageActiveS = active / 1000.0,
      gcS = ss.map(_.gcMs).sum / 1000.0,
      shuffleBytes = ss.map(_.shuffleWrite).sum,
      spillBytes = ss.map(_.spill).sum,
      singleTaskStages = ss.count(_.numTasks == 1),
      skew = heaviest.map(s => Trace.skew(s.taskMs.toSeq)).getOrElse(1.0),
      batches = batches.collect { case (o, d) if o == op => d }.toVector)
  }
}
