package org.apache.spark.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** TEST-ONLY internal seam: count the Spark jobs a block submits.
  * Listener delivery is asynchronous; draining the `private[spark]`
  * listener bus before reading makes the count exact instead of
  * sleep-and-hope.
  */
object TestListenerShim {
  def countJobs[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
