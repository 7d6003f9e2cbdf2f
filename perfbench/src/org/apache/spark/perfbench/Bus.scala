package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, whose drain call is package-private to Spark:
  * a traced iteration is only complete once every stage, task and query
  * event it caused has reached the benchmark's listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
