package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access that Spark keeps package-private. */
object Bus {
  /** Block until every event posted so far has reached the listeners, so a
    * traced iteration's job, stage and task events are all counted. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
