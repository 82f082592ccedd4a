package org.apache.spark

/** The Spark-private calls the benchmark's trace needs. */
object PerfbenchBridge {
  /** Blocks until the listener bus has delivered every posted event, so a
    * traced pass's jobs, stages and microbatches are recorded before its
    * spans are read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A local property of the calling thread in the active context. */
  def activeLocalProperty(key: String): Option[String] =
    SparkContext.getActive.flatMap(sc => Option(sc.getLocalProperty(key)))
}
