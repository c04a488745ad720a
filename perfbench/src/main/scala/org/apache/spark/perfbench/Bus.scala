package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark reads its listener counters only after every event of
  * the measured work has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
