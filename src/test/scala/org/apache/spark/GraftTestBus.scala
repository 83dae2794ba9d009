package org.apache.spark

/** Listener-bus drain for specs: QueryExecutionListener callbacks
  * arrive asynchronously, so a spec that counts them drains the bus
  * before reading its counts. The bus is Spark-internal, hence this
  * package.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
