package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain: specs that count
  * jobs or stages (SparkSpec, StreamingSpec) read counters accumulated by
  * SparkListeners, and the bus is asynchronous — a fixed sleep can
  * under-wait under load and silently under-report stage metrics (ADVICE
  * r10). `waitUntilEmpty` is the purpose-built primitive (Spark's own test
  * utilities use it); it is Scala-`private[spark]`, so this one-method
  * object lives in an `org.apache.spark` subpackage to reach it. Nothing
  * else may be added here — listener readers only, never query code. */
object ListenerDrain {
  /** Block until every queued listener event is delivered, or `timeoutMs`
    * elapses (a timeout degrades to the old fixed-sleep behavior: counters
    * may under-report, but the probe still completes). */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
