package org.apache.spark

/** The one private-to-Spark call the benchmark needs: wait until every
  * listener has seen every event posted so far. */
object PerfbenchGlue {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
