package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * traced run reads complete figures before it moves on to untimed work. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
