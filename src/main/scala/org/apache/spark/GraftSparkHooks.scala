package org.apache.spark

/** The private[spark] surface main code needs. SparkListener events ride
  * an ASYNC bus: a listener-fed record read right after an action returns
  * can miss the very stage the action just ran (typically the longest one,
  * last to complete). [[graft.Telemetry.scoped]] drains the bus before it
  * returns, so its records are complete rather than racy.
  */
object GraftSparkHooks {
  def waitListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def hasListener(sc: SparkContext, l: scheduler.SparkListenerInterface): Boolean =
    sc.listenerBus.listeners.contains(l)

  /** Spark's hidden-name rule for file listings (`_x`, `.x`, `x._COPYING_`;
    * `_metadata` and `_common_metadata` stay visible), for
    * [[graft.store.StoreFileIndex]]. */
  def shouldFilterOutPathName(name: String): Boolean = util.HadoopFSUtils.shouldFilterOutPathName(name)
}
