package org.apache.spark

/** The listener bus is asynchronous and its drain call is package-private:
  * the traced run drains it once, after the last pass, before reading the
  * recorder, so every job, stage and task event of the run is counted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
