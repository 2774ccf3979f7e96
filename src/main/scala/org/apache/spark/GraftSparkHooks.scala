package org.apache.spark

/** perfbench shim: task-metric events arrive on the ASYNC listener bus, so
  * a metrics read right after an action can miss the action's last
  * tasks. `LiveListenerBus.waitUntilEmpty` is the public-in-class but
  * private[spark]-reachable drain (SparkContext.listenerBus is
  * private[spark]); this one-method object lives in the org.apache.spark
  * package purely to reach it — the same trick Spark's own tests use
  * (public Spark source, core/src/main/scala/.../LiveListenerBus.scala).
  * Never on a timed path: perfbench's Harness and Tracer call it only at
  * the edges of a traced or measured window. */
object GraftSparkHooks {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () }
}
