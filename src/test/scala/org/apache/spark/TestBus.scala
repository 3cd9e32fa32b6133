package org.apache.spark

/** Test access to the listener bus (`private[spark]`), so a test counting
  * jobs waits for their events instead of sleeping a fixed time. */
object TestBus {
  /** Returns once every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
