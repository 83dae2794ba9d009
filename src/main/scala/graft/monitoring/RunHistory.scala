package graft.monitoring

import graft.sources.SmallParquet
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Durable run history, Spark-style: the reference's
  * `PerformanceMonitor` + audit tables (reference:
  * src/monitoring/performance_monitor.py, src/utils/audit) insert one
  * row per pipeline run into a metrics DB; here the history is an
  * APPEND-ONLY PARQUET DATASET partitioned by `run_id` — each run
  * appends its own partition (pruned on per-run reads), and the whole
  * dataset is queryable with the engine itself (trend queries, SLA
  * checks, plan-hash drift detection across runs).
  *
  * Row shape: (run_id, query, duration_ms, rows, plan_hash, failed,
  * recorded_at). `plan_hash` is the bench artifact's normalized plan
  * fingerprint, so "did this query's plan change between runs" is a
  * grouBy(query) over the history — the reference's regression check
  * (performance_monitor.py `detect_performance_regression`) expressed
  * as a query instead of bookkeeping code.
  *
  * Writes run on the driver, never as Spark jobs: a call holds a
  * handful of rows by construction, so each [[append]] or
  * [[appendMetrics]] writes ONE parquet file with Spark's own parquet
  * writer ([[graft.sources.SmallParquet.publish]]) into a private hidden
  * staging dir under the history root, then publishes it with one
  * rename into `run_id=<escaped id>/`. Concurrent appenders (threads or
  * applications) share no staging state, and a run's rows appear all at
  * once or not at all. Reads ([[load]], [[loadMetrics]]) stay Spark
  * queries over the whole dataset.
  */
object RunHistory {

  final case class Entry(query: String, durationMs: Long,
                         rows: Option[Long] = None,
                         planHash: Option[String] = None,
                         failed: Boolean = false)

  /** Append one run's entries under `dir/run_id=<id>` as one new file,
    * written on the driver and published with one rename (see the
    * object doc). A run id reused across calls accumulates (multiple
    * actions per run); use a fresh run id per run for replace-free
    * history.
    * `recordedAt` defaults to the wall clock; pass it explicitly when
    * backfilling or replaying history (and in specs — deterministic
    * freshness/compliance-window queries need a planted clock).
    */
  def append(spark: SparkSession, dir: String, runId: String,
             entries: Seq[Entry],
             recordedAt: Option[java.sql.Timestamp] = None): Unit = {
    require(entries.nonEmpty, "no entries to record")
    val at = recordedAt.getOrElse(now())
    publish(spark, dir, runId, entrySchema, entries.map(e => Row(e.query,
      e.durationMs, e.rows.map(Long.box).orNull, e.planHash.orNull, e.failed, at)))
  }

  /** File columns of one history append (run_id lives in the directory),
    * with the nullability a DataFrame write of [[Entry]] rows produced.
    */
  private val entrySchema = StructType(Seq(
    StructField("query", StringType),
    StructField("duration_ms", LongType, nullable = false),
    StructField("rows", LongType),
    StructField("plan_hash", StringType),
    StructField("failed", BooleanType, nullable = false),
    StructField("recorded_at", TimestampType, nullable = false)))

  private val metricSchema = StructType(Seq(
    StructField("metric", StringType),
    StructField("value", DoubleType, nullable = false),
    StructField("recorded_at", TimestampType, nullable = false)))

  private def now() = java.sql.Timestamp.from(java.time.Instant.now())

  /** One file into the run's partition, by the staged-rename protocol
    * of [[SmallParquet.publish]].
    */
  private def publish(spark: SparkSession, dir: String, runId: String,
                      schema: StructType, rows: Seq[Row]): Unit = {
    import org.apache.hadoop.fs.Path
    val partition = new Path(dir, org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.getPartitionPathString("run_id", runId))
    SmallParquet.publish(spark,
      graft.Recovery.privatePath(new Path(dir), s"__hist_append_${java.util.UUID.randomUUID()}"),
      schema,
      file => new Path(partition, file.getName))(put => rows.foreach(put))
  }

  /** One entry per recorded action of a [[Metrics.Recorder]] snapshot
    * (action name as the query label).
    */
  def fromActions(actions: Seq[Metrics.ActionMetric]): Seq[Entry] =
    actions.map(a => Entry(a.funcName, a.durationMs, a.outputRows,
      a.planHash, a.failed))

  /** One entry from a [[graft.pipeline.Pipeline.RunStats]] audit:
    * rows = the pipeline's output count.
    */
  def fromRunStats(query: String, stats: graft.pipeline.Pipeline.RunStats,
                   durationMs: Long, planHash: Option[String] = None): Entry =
    Entry(query, durationMs, Some(stats.rowsOut), planHash)

  /** The whole history (every run's partition). */
  def load(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Append one run's metric telemetry — the durable side channel for
    * figures that are neither durations nor row counts (per-round
    * recall@k of the ANN surfaces, sample rates, compression ratios).
    * Row shape: (run_id, metric, value, recorded_at); same append-only
    * run_id-partitioned parquet discipline as the run history, so
    * [[graft.monitoring.Trends.metricAlerts]] reads it with per-run
    * partition pruning.
    */
  def appendMetrics(spark: SparkSession, dir: String, runId: String,
                    values: Map[String, Double],
                    recordedAt: Option[java.sql.Timestamp] = None): Unit = {
    require(values.nonEmpty, "no metrics to record")
    val at = recordedAt.getOrElse(now())
    publish(spark, dir, runId, metricSchema,
      values.toSeq.map { case (m, v) => Row(m, v, at) })
  }

  /** The whole metric-telemetry dataset (every run's partition). */
  def loadMetrics(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Catalog entry for the history dataset, so pipelines and SQL can
    * reference it like any other registered table.
    */
  def catalogSpec(name: String, dir: String): graft.Catalog.DatasetSpec =
    graft.Catalog.DatasetSpec(name = name, format = "parquet", path = dir,
      schemaDdl = None, options = Map.empty)
}
