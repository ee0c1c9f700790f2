package org.apache.spark

/** Test helper: `SparkContext.listenerBus` is `private[spark]`, but a
  * spec that counts jobs from a listener must not race the async
  * listener bus — job-end events for a finished action can still be in
  * flight when the spec reads its counter. `waitUntilEmpty` itself is a
  * public method on [[scheduler.LiveListenerBus]]; this object only
  * bridges the package-private field access.
  */
object GraftBusDrain {
  def drain(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
