package org.apache.spark

/** Access to the `private[spark]` listener bus: the benchmark waits for
  * every queued listener event after an operation, so the counters it
  * reads are that operation's exact deltas and not a race with the
  * asynchronous event queues.
  */
object ConvbenchBus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
