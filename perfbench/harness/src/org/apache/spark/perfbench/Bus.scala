package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private. */
object Bus {
  /** Block until every posted listener event has been delivered, so the
    * benchmark's listener has seen all jobs of the ops that ran.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
