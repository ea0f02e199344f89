package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * after `drain`, every event posted so far has reached its listeners. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
