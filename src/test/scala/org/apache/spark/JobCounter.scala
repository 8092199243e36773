package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits. The listener bus is
  * package-private, and a count is only complete once the bus has
  * delivered every event posted before the block returned.
  */
object JobCounter {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
