package org.apache.spark

/** Exact drain of Spark's listener bus for [[graft.core.Meter]]: returns
  * once every event posted so far has reached every listener. The bus is
  * `private[spark]`, hence this package; Spark's own suites drain it the
  * same way. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
