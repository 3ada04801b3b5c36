package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs that a block of driver code starts. It sits in
  * Spark's package for the listener bus' drain: a job's start event
  * reaches listeners asynchronously, possibly after the job has ended,
  * so the count is read only once every posted event is delivered. */
object JobCount {
  def during[A](sc: SparkContext)(body: => A): (A, Int) = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    // events of jobs that ended before `body` must not reach the listener
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
