package org.apache.spark

/** The listener bus's drain call is package-private to Spark; the
  * benchmark needs it so a pass's listener records are complete before
  * they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
