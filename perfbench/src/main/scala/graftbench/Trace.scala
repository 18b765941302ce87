package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.ListenerBusMarker
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in milliseconds on the same axis as Spark's listener event
  * times (epoch ms), with nanoTime resolution. */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6
}

/** A Spark job as the listener saw it, tied to the layer call whose job
  * group was set on the thread that started it. */
final class JobRec(val id: Int, val callId: Long, val start: Double) {
  @volatile var end: Double = Double.NaN
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Job and task events of the benchmark's own calls, and Catalyst phase
  * times. Layer calls run under the job group `Harness.groupPrefix +
  * callId`, a Spark local property every job started from the call
  * carries. */
final class SparkTracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Integer]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  private val marker = new Object
  @volatile private var lastMarker = -1L
  private var markerSeq = 0L

  private def callOf(group: String): Long =
    if (group != null && group.startsWith(Harness.groupPrefix))
      group.substring(Harness.groupPrefix.length).toLong
    else -1L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, new JobRec(e.jobId, callOf(group), e.time.toDouble))
    e.stageIds.foreach(s => stageJob.put(s, Integer.valueOf(e.jobId)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val rec = if (j == null) null else jobs.get(j.intValue)
    if (rec != null) rec.synchronized {
      rec.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) rec.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        rec.taskMs += m.executorRunTime
        rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case ListenerBusMarker(seq) =>
      marker.synchronized { lastMarker = seq; marker.notifyAll() }
    case _ =>
  }

  // QueryExecutionListener: Catalyst analysis + optimization + planning
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)
  private def recordPlan(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p => phases.add((p.startTimeMs.toDouble, p.endTimeMs.toDouble)))

  /** Wait, at most `timeoutMs`, until every event posted before this call
    * has reached the listener. Returns false on timeout. */
  def drain(timeoutMs: Long): Boolean = {
    val seq = marker.synchronized { markerSeq += 1; markerSeq }
    ListenerBusMarker.post(sc, seq)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    marker.synchronized {
      while (lastMarker < seq) {
        val left = (deadline - System.nanoTime()) / 1000000L
        if (left <= 0) return false
        marker.wait(left)
      }
    }
    true
  }

  def jobsSnapshot: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Catalyst phase intervals (epoch ms). Calls run one at a time, so a
    * phase belongs to the call whose interval it falls in. */
  def planPhases: Seq[(Double, Double)] = phases.asScala.toSeq
}
