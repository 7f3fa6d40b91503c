package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Posts an event onto the context's listener bus. Listeners on the shared
  * queue (SparkListeners and the SQL QueryExecutionListener bus) see it
  * after every event posted before it, which makes it a delivery marker.
  * The bus is package-private to Spark, hence this package. */
object Bus {
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
}
