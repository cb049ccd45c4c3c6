package org.apache.spark

/** Access to the `private[spark]` listener-bus drain. Task-end events
  * reach listeners asynchronously after an action returns; the meter
  * drains the bus before it reads, so one pass's task metrics never
  * bleed into the next. Lives in `org.apache.spark` for access only. */
package object linkbench {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
