package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run waits for every posted event before it reports. */
object E2eBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
