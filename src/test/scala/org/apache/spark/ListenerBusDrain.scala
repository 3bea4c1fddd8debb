package org.apache.spark

/** Listener-bus access that Spark keeps package-private. */
object ListenerBusDrain {
  /** Block until every event posted so far has reached the listeners. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Stage fields that Spark keeps package-private. */
object StageShuffle {
  /** The shuffle a stage writes, defined only for a shuffle map stage. */
  def depId(info: scheduler.StageInfo): Option[Int] = info.shuffleDepId
}
