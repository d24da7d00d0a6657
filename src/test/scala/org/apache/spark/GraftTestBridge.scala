package org.apache.spark

/** Test access to the `private[spark]` listener bus: a spec that counts
  * jobs with a SparkListener drains the bus before reading its count. */
object GraftTestBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
