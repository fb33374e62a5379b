package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Bridge to the listener bus's drain, which Spark keeps package-private:
  * the benchmark reads its listener counters only after every posted
  * event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
