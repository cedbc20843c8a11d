package org.apache.spark

/** Package-placed shim (the [[org.apache.spark.sql.GraftColumns]]
  * convention): `SparkContext.listenerBus` is `private[spark]`, and
  * [[graft.tools.QueryProf]] needs a DETERMINISTIC "all task-end events
  * delivered" barrier before reading listener-fed accumulators — a
  * fixed sleep undercounts whenever the async bus is still draining a
  * large job's events (r19 ADVICE). Only Spark's
  * public artifact is referenced. */
object GraftListenerBus {
  /** Block until the live listener bus queue is empty or `timeoutMs`
    * elapses (returns normally either way — a measurement barrier must
    * degrade to the old sleep-like behavior, never fail the run). */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch {
      // restore the interrupt flag: swallowing it silently would strand
      // a caller being cancelled mid-barrier (r20 ADVICE)
      case _: InterruptedException => Thread.currentThread().interrupt()
      case _: Exception => ()
    }
}
