package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run reads listener totals only after every event so far
  * has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
