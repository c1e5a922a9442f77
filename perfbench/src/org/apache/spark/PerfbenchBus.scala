package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * span boundaries wait for queued listener events before reading
  * counters, so a span's counts hold every event it caused.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
