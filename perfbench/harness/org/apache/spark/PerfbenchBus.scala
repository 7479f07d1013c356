package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * event posted so far, so per-operation job and task counts are complete
  * when they are read. The bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
