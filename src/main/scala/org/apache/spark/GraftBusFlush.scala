package org.apache.spark

/** Deterministic listener-bus drain: the barrier at the end of every
  * [[graft.Profile]] window, and before [[graft.GraftSession.clearCache]]
  * unpersists.
  *
  * Listener events ride the shared async `LiveListenerBus`; a window
  * that reads its collector before the bus has delivered its last
  * task, stage or execution-end event would miss them, and an ended
  * execution's shares are freed only when its end event is delivered.
  * `LiveListenerBus.waitUntilEmpty()` is the bus's own quiescence
  * barrier (public), but the `SparkContext.listenerBus` accessor is
  * `private[spark]` — this one-method shim lives in the
  * `org.apache.spark` package purely to reach it. No Spark behavior is
  * altered or monkey-patched; the only proprietary-free dependency is
  * the public Spark source layout.
  */
object GraftBusFlush {
  /** Block until every queued listener event has been delivered.
    * Throws `TimeoutException` if the bus cannot drain (bounded
    * internally by Spark). */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
