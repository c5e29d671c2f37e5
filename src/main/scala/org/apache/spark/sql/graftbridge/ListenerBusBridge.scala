package org.apache.spark.sql.graftbridge

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`. Listener events arrive
  * asynchronously, so a reader of listener counters must wait for the bus
  * to drain; this bridge exposes that wait (no reflection).
  */
object ListenerBusBridge {

  /** Block until every event posted so far has reached every listener, or
    * `timeoutMs` passes. Returns false on timeout.
    */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }
}
