package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One recorded layer call: wall clock, parent, and the Spark work it
  * caused (its own, not its children's). */
final case class Span(name: String, parent: Option[String], startNs: Long,
                      endNs: Long, totals: Totals) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Layer-boundary hooks a workload calls. The untraced form runs the
  * body unchanged; [[Tracer]] records spans and forces each layer's
  * output at its boundary, since frames are lazy. */
trait Layers {
  def span[T](name: String)(body: => T): T
  def boundary(df: DataFrame): DataFrame
  /** A per-iteration counter only the traced run computes (candidate
    * pairs …); the untraced run never evaluates `value`. */
  def note(name: String, value: => Double): Unit
}

object Untraced extends Layers {
  def span[T](name: String)(body: => T): T = body
  def boundary(df: DataFrame): DataFrame = df
  def note(name: String, value: => Double): Unit = ()
}

/** Traced iteration: in-memory spans (name, start, end, parent), the
  * Spark job description set to the span name, and the probe window
  * switched at every boundary so stage metrics attach to the layer.
  * Layer spans are children of the iteration; work outside any span is
  * the iteration's own (`rootWork`). */
final class Tracer(spark: SparkSession, probe: Probe) extends Layers {
  val spans = mutable.ArrayBuffer.empty[Span]
  val notes = mutable.LinkedHashMap.empty[String, Double]
  val rootWork = new Totals

  def span[T](name: String)(body: => T): T = {
    rootWork.add(probe.open())
    spark.sparkContext.setJobDescription(name)
    val t0 = System.nanoTime()
    try body
    finally {
      val own = probe.open()
      val t1 = System.nanoTime()
      spark.sparkContext.setJobDescription(null)
      spans += Span(name, Some("iteration"), t0, t1, own)
    }
  }

  def boundary(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  def note(name: String, value: => Double): Unit = notes(name) = value
}
