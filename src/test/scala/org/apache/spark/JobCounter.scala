package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs `body` starts. The listener bus delivers events
  * asynchronously, and only code inside `org.apache.spark` may wait for
  * it to drain, hence this package.
  */
object JobCounter {
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }
}
