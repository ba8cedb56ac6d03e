package org.apache.spark

/** The one package-private hook the benchmark's tracer needs: waiting for
  * the asynchronous listener bus to deliver every event posted so far, so
  * a traced round's counters are complete before they are read.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
