package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus drain. Listener events reach the benchmark's probe
  * asynchronously; draining at an iteration or span boundary makes
  * every count attributable to exactly one of them. The bus is
  * Spark-internal, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
