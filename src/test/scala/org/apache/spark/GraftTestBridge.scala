package org.apache.spark

/** The one Spark-internal call the tests need: listener events are
  * delivered asynchronously, so a listener's counts are complete only
  * after the listener bus has drained.
  */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
