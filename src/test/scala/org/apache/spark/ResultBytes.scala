package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Test-scope measure of what a call pulls to the driver: the serialized
  * task-result bytes (`taskMetrics.resultSize`) of every task that ends
  * while `body` runs. Lives in `org.apache.spark` because draining the
  * listener bus (`listenerBus.waitUntilEmpty`) is `private[spark]`, and
  * without the drain the count would race the bus in both directions.
  */
object ResultBytes {

  def during[A](sc: SparkContext)(body: => A): (A, Long) = {
    val total = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) total.addAndGet(e.taskMetrics.resultSize)
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, total.get)
    } finally sc.removeSparkListener(listener)
  }
}
