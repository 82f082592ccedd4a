package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-only bridge to the `private[spark]` listener bus: lets specs that
  * count jobs via a SparkListener drain the async event queues
  * deterministically (`waitUntilEmpty`) instead of sleeping — a late
  * onJobStart delivered after listener removal would otherwise silently
  * under-count. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the exact number of Spark jobs it started. */
  def jobsDuring[A](sc: SparkContext)(body: => A): (A, Int) = {
    drain(sc)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try { val a = body; drain(sc); (a, jobs.get) }
    finally sc.removeSparkListener(l)
  }
}
