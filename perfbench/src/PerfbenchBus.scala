package org.apache.spark

/** Access to the `private[spark]` listener bus: the traced run must
  * see every task and stage event of an operation before it reads the
  * numbers.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
