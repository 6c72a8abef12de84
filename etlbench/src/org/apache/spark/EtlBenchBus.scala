package org.apache.spark

/** Lets the traced benchmark wait until every posted listener event has
  * been delivered, so per-op counters are read after their tasks report.
  */
object EtlBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
