package org.apache.spark.graftbridge

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Bridge into `private[spark]` listener-bus internals: a deterministic
  * "all posted events delivered" barrier. The offload runner's transport
  * accounting previously POLLED its listener counter with 50 ms sleeps
  * (~100–200 ms of pure sleep per offload, and a settle heuristic that
  * is in principle racy); `waitUntilEmpty` is the engine's own exact
  * primitive for the same thing. The wait is bounded: one wedged
  * listener on the bus must fail the caller with a diagnosis, not hang
  * every offload. */
object ListenerBridge {
  /** Generous: a healthy bus drains in milliseconds. */
  private val DrainTimeoutMillis: Long = 120000L

  def waitUntilListenerBusEmpty(sc: SparkContext,
      timeoutMillis: Long = DrainTimeoutMillis): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch {
      case e: TimeoutException =>
        val t = new TimeoutException(
          s"Spark listener bus did not drain within $timeoutMillis ms: " +
            "a SparkListener is wedged or too slow, so the offload's " +
            "records-written accounting cannot settle")
        t.initCause(e)
        throw t
    }
}
