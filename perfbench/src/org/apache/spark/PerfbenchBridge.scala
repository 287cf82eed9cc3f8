package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run waits for every task-end event of an operation before it
  * reads the listener's counts. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
