package org.apache.spark

/** Reads the SparkContext's listener bus, which is package-private to
  * Spark, hence this package.
  */
object ListenerBusProbe {

  /** Streaming listener buses registered on the context's bus: one per
    * session whose StreamingQueryManager was ever used, never removed.
    */
  def streamingBuses(sc: SparkContext): Int = sc.listenerBus
    .findListenersByClass[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus]()
    .size

  /** Waits until every queued event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
