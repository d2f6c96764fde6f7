package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * span statistics are read only after every task and job event that a
  * span's work posted has reached the benchmark's listener. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
