package org.apache.spark

/** The listener bus has no public flush; the benchmark needs one so that
  * every job and task event of a traced run is delivered before the spans
  * are aggregated. Lives in Spark's package only to reach the
  * `private[spark]` bus.
  */
object PerfBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
