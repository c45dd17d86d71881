package org.apache.spark

/** The listener bus drain is private to Spark; the traced run needs it so
  * every job, frame and progress event is recorded before the dump.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
