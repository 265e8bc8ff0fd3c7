package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is spark-private; the benchmark's listeners need
  * it so their counts are complete before they are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
