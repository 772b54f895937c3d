package org.apache.spark

/** Test access to the SparkContext's listener bus, which is `private[spark]`:
  * blocks until every event posted so far has reached every listener, so a
  * `SparkListener` that counts jobs has seen all the jobs submitted before
  * the call. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
