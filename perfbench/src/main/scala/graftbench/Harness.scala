package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Harness {
  /** Job-group prefix that ties Spark jobs to the layer call that ran them. */
  val groupPrefix = "graftbench-call-"
}

/** One operation of the closed loop, timed from outside the program.
  * `cpuS` is the CPU time the JVM's Java threads (driver and executors,
  * not the JIT compiler or the collector) used meanwhile. */
final case class OpRec(id: Long, name: String, kind: String, start: Double, end: Double,
    cpuS: Double, ok: Boolean, measured: Boolean) {
  def seconds: Double = (end - start) / 1000
}

/** One call into a program layer inside an operation. */
final case class CallRec(id: Long, opId: Long, layer: String, start: Double, end: Double)

/** Runs operations one at a time (a closed loop with one client), each on
  * a worker thread with a timeout, and records operations, layer calls,
  * counters and failed checks. */
final class Harness(spark: SparkSession, tracer: Option[SparkTracer], opTimeoutMs: Long) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val calls = mutable.ArrayBuffer.empty[CallRec]
  val failures = mutable.ArrayBuffer.empty[String]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  var drainTimeouts = 0
  /** Operations run while this is set are the measured samples. */
  var measuring = false
  @volatile var aborted: Option[String] = None

  private var lastId = 0L
  @volatile private var currentOp = -1L
  @volatile private var currentCall = -1L
  private val worker = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "graftbench-op"); t.setDaemon(true); t
  }

  private def newId(): Long = synchronized { lastId += 1; lastId }

  /** Run one operation; None when it threw or timed out. A timeout
    * cancels the operation's Spark jobs and ends the run: no further
    * operation starts. */
  def op[T](name: String, kind: String)(body: => T): Option[T] = {
    if (aborted.isDefined) return None
    attempted += 1
    val id = newId()
    currentOp = id
    val views0 = if (tracer.isDefined && measuring) tempViews else Set.empty[String]
    val cpu0 = threadCpuNs()
    val submitted = Clock.nowMs
    val fut = worker.submit(new Callable[(T, Double, Double)] {
      def call(): (T, Double, Double) = {
        val s = Clock.nowMs
        val r = body
        (r, s, Clock.nowMs)
      }
    })
    val outcome: Either[String, (T, Double, Double)] =
      try Right(fut.get(opTimeoutMs, TimeUnit.MILLISECONDS))
      catch {
        case _: TimeoutException =>
          val c = currentCall
          if (c >= 0) spark.sparkContext.cancelJobGroup(Harness.groupPrefix + c)
          fut.cancel(true)
          aborted = Some(s"$name exceeded the ${opTimeoutMs / 1000} s operation timeout")
          Left(aborted.get)
        case e: ExecutionException => Left(s"$name failed: ${e.getCause}")
      }
    val cpuS = threadCpuNs().map { case (t, ns) => ns - cpu0.getOrElse(t, 0L) }.sum / 1e9
    tracer.foreach { t =>
      if (!t.drain(10000)) drainTimeouts += 1
      // SessionCache builds a temp view on every miss
      if (measuring) add("session_cache.misses", (tempViews -- views0).size)
    }
    currentOp = -1L
    outcome match {
      case Right((r, s, e)) =>
        ops += OpRec(id, name, kind, s, e, cpuS, ok = true, measured = measuring)
        Some(r)
      case Left(msg) =>
        ops += OpRec(id, name, kind, submitted, Clock.nowMs, cpuS, ok = false, measured = measuring)
        failed += 1
        failures += msg
        None
    }
  }

  /** A call into one program layer, inside an operation. Its Spark jobs
    * run under the call's own job group. */
  def call[T](layer: String)(body: => T): T = {
    val id = newId()
    val sc = spark.sparkContext
    sc.setJobGroup(Harness.groupPrefix + id, layer, interruptOnCancel = true)
    currentCall = id
    val s = Clock.nowMs
    try body
    finally {
      val e = Clock.nowMs
      calls.synchronized(calls += CallRec(id, currentOp, layer, s, e))
      currentCall = -1L
      sc.clearJobGroup()
    }
  }

  /** A correctness check of an operation's output. It runs outside the
    * operation's timing; a failed check counts as a failed operation. */
  def check(what: String)(cond: => Boolean): Boolean = {
    val ok =
      try cond
      catch { case e: Exception => failures += s"$what threw $e"; false }
    if (!ok) {
      failed += 1
      failures += s"check failed: $what"
    }
    ok
  }

  private val threadBean = ManagementFactory.getThreadMXBean

  /** CPU nanoseconds per live Java thread. */
  private def threadCpuNs(): Map[Long, Long] =
    threadBean.getAllThreadIds.iterator.map(t => t -> threadBean.getThreadCpuTime(t))
      .filter(_._2 >= 0).toMap

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  def add(counter: String, v: Double): Unit =
    counters(counter) = counters.getOrElse(counter, 0.0) + v

  def measured: Seq[OpRec] = ops.filter(o => o.measured).toSeq

  def shutdown(): Unit = worker.shutdownNow()
}
