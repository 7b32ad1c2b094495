package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * job start/end events reach the status store asynchronously, so a test
  * reading `statusTracker` must drain the bus first.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
