package org.apache.spark

/** Listener-bus drain: listener callbacks arrive asynchronously, so a
  * reader of what they recorded drains the bus first (a
  * `java.util.concurrent.TimeoutException` after Spark's 10 s wait).
  * The bus is Spark-internal, hence this package.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
