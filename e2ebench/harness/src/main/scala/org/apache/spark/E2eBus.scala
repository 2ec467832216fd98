package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * counter snapshot taken right after an action includes that action's
  * job, stage and task events. The bus is package-private, hence this
  * one-method bridge. */
object E2eBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
