package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private. */
object BusShim {
  /** Blocks until every event posted so far has reached every listener. */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
