package org.apache.spark

/** Access to the listener bus barrier, which Spark keeps package-private:
  * the tracer drains the bus before it reads a span's counts, so every
  * job/stage/task event fired inside the span has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
