package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a spec that counts events with its own SparkListener drains the bus
  * before reading the count. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
