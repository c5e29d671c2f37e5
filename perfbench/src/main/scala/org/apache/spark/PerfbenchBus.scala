package org.apache.spark

/** Spark keeps its listener bus package-private; the traced run needs to
  * wait for it so that every job, stage and task event of a timed call has
  * been counted before the counts are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
