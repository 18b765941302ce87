package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** A marker the benchmark's listener waits for. Spark posts a job's end
  * event before it wakes the thread waiting on the job, and each listener
  * queue delivers in order, so once the marker posted after an operation
  * arrives, every job and SQL event of that operation has been delivered.
  * The listener bus is private to Spark, hence this package. */
final case class ListenerBusMarker(seq: Long) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}

object ListenerBusMarker {
  def post(sc: SparkContext, seq: Long): Unit = sc.listenerBus.post(ListenerBusMarker(seq))
}
