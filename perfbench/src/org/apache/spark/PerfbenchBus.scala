package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * per-layer sums read right after an op must include every event the
  * op posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
