package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run reads its job ledger only after every event posted so far
  * has been delivered.
  */
object BenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
