package org.apache.spark

/** Test access to the listener bus, which is `private[spark]`: returns
  * once every event posted so far has reached the listeners, so a spec
  * can count the jobs and stages an action ran.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
