package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the traced run needs
  * its bounded wait so every stage event has reached the benchmark's
  * listener before the counters are read. */
object Bus {
  /** Wait until every queued listener event is dispatched. Returns false
    * when the wait timed out; the caller counts that, it is not dropped. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
