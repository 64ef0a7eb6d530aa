package org.apache.spark

/** Main-scope twin of the test-side GraftSparkTestHooks: the
  * private[spark] surface main code needs. SparkListener events
  * ride an ASYNC bus — a listener-fed log read immediately after an action
  * returns can miss the very stage the action just ran (typically the
  * longest one, last to complete). Draining the bus before the read makes
  * listener-derived artifacts (Scale's sweep-stage task counts, Bench's
  * per-query CPU seconds) deterministic instead of racy.
  */
object GraftSparkHooks {
  def waitListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark's hidden-name rule for file listings (`_x`, `.x`, `x._COPYING_`;
    * `_metadata` and `_common_metadata` stay visible), for
    * [[graft.store.StoreFileIndex]]. */
  def shouldFilterOutPathName(name: String): Boolean = util.HadoopFSUtils.shouldFilterOutPathName(name)
}
