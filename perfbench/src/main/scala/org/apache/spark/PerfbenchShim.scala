package org.apache.spark

/** The one scheduler hook the harness needs that Spark keeps
  * package-private: wait until every posted listener event has been
  * delivered, so totals read after a timed window are complete.
  */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
