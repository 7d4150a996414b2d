package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run
  * waits for it to empty after each op so every job, task, plan and
  * stream-progress event the op caused is counted against that op.
  * `listenerBus` and `getActive` are `private[spark]`, hence this
  * object's package. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def active: Option[SparkContext] = SparkContext.getActive
}
