package org.apache.spark.graftglue

import org.apache.spark.SparkContext

/** Bridge to `private[spark]` listener-bus internals, same pattern as
  * `ColumnGlue`: lives in the org.apache.spark package tree solely to
  * satisfy the access qualifier; nothing in Spark is modified.
  *
  * Why: a probe that reads what its listeners collected (stage metrics,
  * executed plans, streaming progress) must not read it until the async
  * bus has delivered the tail. A fixed sleep or a "count stopped
  * changing" poll can drop the last events on a loaded host — the final
  * micro-batch's progress, say, which overstates the very overhead
  * `Probes streamfloor` measures. `waitUntilEmpty` is exact: it returns
  * when every queued event has been dispatched to every listener. */
object BusGlue {
  /** Block until the shared LiveListenerBus queue is fully dispatched,
    * or `timeoutMs` elapses (throws on timeout, like the internal API). */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
