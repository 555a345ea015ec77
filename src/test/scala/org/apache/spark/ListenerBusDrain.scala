package org.apache.spark

/** Waits until every event posted so far has reached the listeners
  * (`SparkContext.listenerBus` is private to the spark package), so a
  * test can read a listener's counters right after an action.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
