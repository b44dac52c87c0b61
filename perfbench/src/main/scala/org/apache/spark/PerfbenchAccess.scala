package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every queued event, so a traced op's
  * counters are complete before tracing detaches. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
