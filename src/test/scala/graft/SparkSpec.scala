package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test fixture: one session for the whole suite run, sf0.001
  * tables for any spec that wants real data.
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def table(name: String): DataFrame = Tables.load(spark, TestSession.sfDir, name)

  /** Spark jobs started while `body` runs (listener bus drained). */
  def jobsDuring[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      (out, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
