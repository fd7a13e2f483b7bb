package org.apache.spark

/** Bridge to the listener bus's drain, which Spark keeps `private[spark]`.
  * [[graft.Obs]] reads a span's counters only once every event its jobs
  * posted has been delivered; draining the bus gives that without
  * submitting a marker job of its own.
  */
object GraftListenerBridge {

  /** Wait until every queue of `sc`'s listener bus is empty; throws a
    * `TimeoutException` after `timeoutMs`.
    */
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
