package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so a traced run reads its task metrics only after every
  * posted event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
