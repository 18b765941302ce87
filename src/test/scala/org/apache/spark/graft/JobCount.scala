package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. Job starts reach listeners
  * asynchronously, so the listener bus (package-private to Spark, hence
  * this package) is drained before the count begins and after the block
  * ends: every job of the block is seen, none from before it. */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
