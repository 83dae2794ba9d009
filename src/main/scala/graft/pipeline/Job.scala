package graft.pipeline

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Catalog, GraftSession, JsonCfg}
import graft.quality.{Anomaly, DQ}

/** One-document metadata-driven job — the reference's complete
  * configuration bundle executed end-to-end (ref
  * config_loader.py:22 `load_complete_configuration` assembles
  * pipeline + connections + sources + transformations + dq profile +
  * anomaly config from the metadata DB; orchestrator_manager then
  * runs them in order). Here the bundle is ONE JSON document and the
  * run is one call:
  *
  * {{{
  * {
  *   "datasets": [ {"name":…, "format":…, "path":…, "schema":…}, … ],
  *   "pipeline": {"primary": …, "steps": [ … ]},
  *   "quality":  {"rules": [ … ], "min_score": 90.0,    // optional gate
  *                "quarantine_dir": …, "run_id": …},     // optional row routing
  *   "anomaly":  {"method": …, "column": …, …},          // optional screen
  *   "sink":     {"format": "parquet", "path": …}        // optional write
  * }
  * }}}
  *
  * [[parse]] reads the document once through [[graft.JsonCfg]] and
  * hands each section, as a node, to its front-end
  * ([[graft.Catalog.parseNode]], [[PipelineJson.parseNode]],
  * [[graft.quality.DQ.rulesFromNode]],
  * [[graft.quality.Anomaly.parseNode]]), so a section's dialect is
  * defined in exactly one place. Every section is validated at parse,
  * the anomaly one included, and so are the pipeline primary and each
  * join's right side against the declared datasets: a malformed
  * document fails before any data loads. Unknown top-level keys are a
  * config error, not silently ignored. [[run]] only sequences the
  * sections: register datasets → compose the transform plan → evaluate
  * the DQ gate on the OUTPUT (one fused agg; throws below min_score) →
  * anomaly screen as a side output → optional idempotent sink write.
  *
  * Reuse: when the document declares a consumer beyond the caller (DQ
  * rules, quarantine, anomaly or sink), [[run]] pins the pipeline
  * output at Spark's default level (MEMORY_AND_DISK) so the gate agg,
  * the split, the screen and the sink all read one materialization. At
  * scale this writes the output once to executor memory or disk
  * instead of re-deriving it through every shuffle per consumer; the
  * cost is the cached blocks' footprint for the job's lifetime. The run
  * executes in a [[graft.GraftSession.PinScope]] that the returned
  * [[Result]] owns: `close()` releases the output and every operator
  * pin the run made, and a failed run releases them before rethrowing.
  */
object Job {

  final case class Spec(datasets: Seq[Catalog.DatasetSpec],
                        pipeline: Pipeline.Spec,
                        dqRules: Seq[DQ.Rule],
                        minScore: Option[Double],
                        quarantine: Option[(String, String)], // dir, run id
                        anomalyJson: Option[String],
                        // format, path, mode (None = the document omitted
                        // "mode"; batch resolves it to "overwrite", streaming
                        // requires atomic-or-absent — the distinction matters)
                        sink: Option[(String, String, Option[String])],
                        incremental: Option[IncrementalSpec] = None,
                        // r20: the streaming crawl-ingest loop as config —
                        // a Screen-shaped section (same dialect/knobs as the
                        // batch `screen` step) that [[runStream]] dispatches
                        // through Streams.screenSlice:
                        // screen each micro-batch against the history,
                        // APPEND survivors' signatures (which the batch
                        // screen step deliberately never does). Streaming
                        // only; [[run]] rejects it loudly.
                        ingest: Option[Pipeline.Screen] = None)

  /** The `incremental` section: resume the named dataset "from last
    * watermark" out of a durable [[graft.incremental.WatermarkStore]]
    * ledger — the reference's get_last_watermark → extract →
    * update_watermark loop (incremental_load_manager.py:103/:141)
    * with the state in the ledger instead of the caller's hands.
    */
  final case class IncrementalSpec(storeDir: String, pipelineId: String,
                                   sourceId: String, column: String,
                                   strategy: String)

  /** A run's frames. The Result owns the run's pins (its cached output
    * and every operator pin): `close()` releases them, once. The frames
    * stay valid after close — they re-derive when read.
    */
  final case class Result(output: DataFrame,
                          dqReport: Option[DataFrame],
                          anomalies: Option[DataFrame])(
                          pins: GraftSession.PinScope)
      extends AutoCloseable {
    def close(): Unit = pins.close()
  }

  private val knownKeys =
    Set("datasets", "pipeline", "quality", "anomaly", "sink", "incremental",
      "ingest")

  def parse(json: String): Spec = parseNode(JsonCfg.read(json, "job config"))

  // the modes run's sink dispatch accepts: the atomic swap, else
  // FileSink.write's save modes
  private val sinkMode = JsonCfg.choice("\"atomic\" or one of " +
    graft.sources.FileSink.saveModes.keys.toSeq.sorted.mkString(" | "))(m =>
    m == "atomic" || graft.sources.FileSink.saveModes.contains(m.toLowerCase))

  // the strategies the section runs (both cut with afterWatermark's
  // range filter); the ledger records the name as the event's tag
  private val strategy = JsonCfg.choice("timestamp | sequence")(Set("timestamp", "sequence"))

  /** A job document already read; each section goes to its front-end
    * as a node.
    */
  private[graft] def parseNode(root: JsonNode): Spec = {
    import JsonCfg.{num, obj, str}
    val unknown = root.properties().asScala.map(_.getKey).filterNot(knownKeys)
    require(unknown.isEmpty,
      s"job config has unknown top-level keys: ${unknown.mkString(", ")} " +
        s"(known: ${knownKeys.toSeq.sorted.mkString(", ")})")

    val datasets = Catalog.parseNode(root)
    val pipeline = PipelineJson.parseNode(obj(root, "pipeline", "job config"))
    val declared = datasets.map(_.name).toSet
    (pipeline.primary +: pipeline.steps.collect { case j: Pipeline.Join => j.rightSource })
      .foreach(n => require(declared(n), s"pipeline source '$n' is not a declared dataset"))

    val quality = obj.opt(root, "quality", "job config")
    // a gate written as a string would otherwise coerce to 0.0 and
    // silently DISABLE the gate
    val minScore = quality.flatMap(num.opt(_, "min_score", "quality"))
    val rules = quality.fold(Seq.empty[DQ.Rule])(DQ.rulesFromNode)
    val quarantine = quality.flatMap { q =>
      str.opt(q, "quarantine_dir", "quality").map { d =>
        // run_id must be EXPLICIT: quarantine slices are written
        // idempotently per run id, so a shared default would make
        // every later run silently REPLACE the previous run's
        // quarantined evidence before anyone reprocessed it
        val runId = graft.Recovery.checkRunId(str(q, "run_id", "quality: " +
          "quarantine_dir (a reused id overwrites that run's quarantine slice)"))
        // the quarantine split needs per-row rules — reject the combo
        // at parse time, not deep in DQ.split mid-run
        val aggOnly = rules.filterNot(_.rowLevel).map(_.id)
        require(aggOnly.isEmpty, "quarantine_dir requires row-level " +
          s"rules only; aggregate-level: ${aggOnly.mkString(", ")}")
        (d, runId)
      }
    }
    // validated here, applied by run; the field stays the section's text
    val anomaly = obj.opt(root, "anomaly", "job config").map { a =>
      Anomaly.parseNode(a); a.toString
    }
    val sink = obj.opt(root, "sink", "job config").map { s =>
      (str.opt(s, "format", "sink").getOrElse("parquet"), str(s, "path", "sink"),
        sinkMode.opt(s, "mode", "sink"))
    }
    val incremental = obj.opt(root, "incremental", "job config").map { n =>
      def field(f: String): String = str(n, f, "incremental")
      val spec = IncrementalSpec(field("watermark_store"), field("pipeline_id"),
        field("source_id"), field("column"),
        strategy.opt(n, "strategy", "incremental").getOrElse("timestamp"))
      require(declared(spec.sourceId),
        s"incremental.source_id '${spec.sourceId}' is not a declared dataset")
      spec
    }
    // the screen-step dialect (family, history, id, column + per-family knobs)
    val ingest = obj.opt(root, "ingest", "job config")
      .map(PipelineJson.parseScreenNode(_, what = "ingest"))
    Spec(datasets, pipeline, rules, minScore, quarantine, anomaly, sink,
      incremental, ingest)
  }

  // streaming guard — file streams only; batch additionally accepts
  // jdbc connector datasets through loadBatchDataset
  private def requireFileDatasets(spec: Spec): Unit =
    spec.datasets.foreach(d => require(Catalog.connector(d).isEmpty,
      s"dataset '${d.name}': connector formats configure their reader " +
        "via Catalog.register; streaming jobs expect file datasets"))

  /** Batch dataset loader: file formats through [[Catalog.load]]
    * (schema pinned + validated), `jdbc` through its configured reader
    * — the warehouse-CDC face of the `incremental` section (ref
    * incremental_load_manager.py:118: source configs are database
    * tables). NoSQL readers need external systems a batch run can't
    * pre-flight, so they stay register-only.
    */
  private def loadBatchDataset(spark: SparkSession,
                               d: Catalog.DatasetSpec): DataFrame =
    Catalog.connector(d) match {
      case None             => Catalog.load(spark, d)
      case Some(Left(jdbc)) => jdbc.reader(spark).load()
      case Some(Right(_))   => throw new IllegalArgumentException(
        s"dataset '${d.name}': NoSQL connector datasets configure their " +
          "reader via Catalog.register; Job batch runs accept file and " +
          "jdbc datasets")
    }

  /** Execute a parsed job. The pipeline's named sources are the
    * registered datasets (loaded through [[Catalog.load]], schema
    * pinned + validated when declared).
    */
  def run(spark: SparkSession, spec: Spec): Result = {
    require(spec.ingest.isEmpty,
      "batch job does not support the \"ingest\" section: ingest APPENDS " +
        "survivors' signatures to the history under the streaming " +
        "checkpoint's batch-id replay contract, which a batch run does not " +
        "have — use runStream, or the PURE \"screen\" pipeline step for a " +
        "batch-side screen with no history append")
    val loaded = spec.datasets.map { d =>
      d.name -> loadBatchDataset(spark, d)
    }.toMap
    // incremental resume: the named dataset is cut to rows past the
    // LEDGER's watermark (first run = no watermark = full extract) —
    // afterWatermark's pushed-down range filter, driven by stored
    // state instead of caller state. On a jdbc dataset the filter
    // lands in the database's WHERE clause (only the delta crosses
    // the wire), and the delta batch is PINNED: unlike a
    // file scan, whose listing Spark pins at plan time, a live table
    // re-queried later could include rows that committed mid-run —
    // the advance aggregate below must see exactly the rows the
    // pipeline consumed (the reference holds the batch in memory for
    // the same reason). A delta batch is bounded by change volume,
    // not corpus size, so caching it is the scale-safe choice.
    // Its scope is released however the run ends: after the ledger
    // advance, or before rethrowing. The run's other pins belong to the
    // Result's scope, which a failed run releases before rethrowing.
    val delta = new GraftSession.PinScope
    val pins = new GraftSession.PinScope
    try {
      val sources = spec.incremental.fold(loaded) { inc =>
        val wm = graft.incremental.WatermarkStore.last(spark, inc.storeDir,
          inc.pipelineId, inc.sourceId, Some(inc.column))
        val cut = wm.fold(loaded(inc.sourceId))(w =>
          graft.incremental.Incremental.afterWatermark(
            loaded(inc.sourceId), inc.column, w.value))
        val isJdbc = spec.datasets.find(_.name == inc.sourceId)
          .exists(d => Catalog.connector(d).exists(_.isLeft))
        if (!isJdbc) loaded + (inc.sourceId -> cut)
        else {
          val pinned = delta.within(GraftSession.pin(cut))
          pinned.count()
          loaded + (inc.sourceId -> pinned)
        }
      }
      pins.within {
        // Consumer count is STATIC in the spec: DQ gate agg, quarantine
        // split, anomaly screen and sink each re-run the whole pipeline
        // unless its output is cached, so any of them alongside the caller
        // makes a second consumer and the output is pinned — no size
        // estimate, so the plan shape does not depend on the host heap.
        // With none of them the caller is the only consumer and a cache
        // pays materialization for zero reuse (r20 verdict: q_job_screen
        // regressed on exactly this shape). A plan that is already cached
        // (by the caller or another open Result) is read but not owned,
        // so close() never drops someone else's cache.
        val piped = Pipeline.run(spark, sources, spec.pipeline)
        val out = if (spec.dqRules.nonEmpty || spec.quarantine.isDefined ||
            spec.anomalyJson.isDefined || spec.sink.isDefined) GraftSession.pin(piped)
          else piped
        // DQ gate on the OUTPUT frame (the reference's dq profile runs
        // post-transform). ONE fused-agg action evaluates the rules; the
        // gate decides from those collected results (no second pass) and
        // the same report frame is returned for the caller
        val dqReport = if (spec.dqRules.isEmpty) None else {
          val report = DQ.check(out, spec.dqRules)
          spec.minScore.foreach(ms => DQ.gateFromResults(report.collect(), ms))
          Some(report)
        }
        // the gate loaded the cache: its measured size, not its shuffle
        // partitions, sets the files the writes and the anomalies make
        val sized: DataFrame => DataFrame = GraftSession.cachedBytes(out)
          .fold(identity[DataFrame] _)(b => _.coalesce(graft.sources.FileSink.filesFor(b)))
        // quarantine mode: failing rows route to the per-run quarantine
        // slice and the job CONTINUES with the clean side (the
        // ErrorRecovery workflow, error_recovery.py:345, in config) —
        // orthogonal to min_score, which judges the WHOLE output first
        val result = spec.quarantine match {
          case None => out
          case Some((dir, runId)) =>
            val (clean, bad) = DQ.split(out, spec.dqRules)
            graft.Recovery.quarantine(sized(bad), dir, runId)
            clean
        }
        val anomalies = spec.anomalyJson.map(a => Anomaly.fromJson(sized(result), a))
        spec.sink.foreach { case (format, path, modeOpt) =>
          val mode = modeOpt.getOrElse("overwrite")
          if (mode == "atomic") graft.Recovery.idempotentWrite(sized(result), path, format)
          else graft.sources.FileSink.write(sized(result), format, path, mode)
        }
        // the ledger advances LAST, only on a fully successful run (gate
        // passed, sink written): a failed run never moves the watermark,
        // so its data re-extracts on the retry — and an EMPTY batch leaves
        // the ledger untouched (advanceFrom's contract). This re-evaluates
        // max(column) over the extraction frame — safe because the frame
        // is pinned: a file frame's LISTING was pinned when Catalog.load
        // built it (Spark's InMemoryFileIndex lists once at plan time;
        // files landing mid-run are invisible to THIS run and belong to
        // the next), and a jdbc delta batch was persisted above (rows
        // committing mid-run are invisible the same way), and cheap
        // because the aggregate prunes to the one watermark column with
        // the range filter still pushed — not a second pass over the
        // pipeline's working set
        spec.incremental.foreach { inc =>
          graft.incremental.WatermarkStore.advanceFrom(spark, inc.storeDir,
            inc.pipelineId, inc.sourceId, inc.column,
            sources(inc.sourceId), inc.strategy)
        }
        Result(result, dqReport, anomalies)(pins)
      }
    } catch {
      case e: Throwable =>
        pins.close()
        throw e
    } finally delta.close()
  }

  def runJson(spark: SparkSession, json: String): Result =
    run(spark, parse(json))

  /** The SAME one-document job driven by a STREAMING primary: new
    * files under the primary dataset's path become micro-batches. The
    * document's steps compose ON the stream once ([[Pipeline.run]] with
    * the static datasets joined in, stream-static), and each
    * micro-batch runs one body: quarantine split → (with an `ingest`
    * section) history screen → sink — so config written for the batch
    * job replays unchanged as a stream. Exactly-once on every output:
    * clean rows land as `batch_id=N` atomic-swap slices under the sink
    * path, quarantined rows under
    * `<quarantine_dir>/run_id=<id>/batch_id=N` — a checkpoint replay
    * REPLACES its own slices instead of double-appending. Read the
    * accumulated output back with [[streamedOutput]].
    *
    * Supported steps are the row-local + stream-static-join subset
    * (filter/select/rename/convert/join/sql_expr …): exactly the ones
    * for which per-micro-batch execution equals the batch job on the
    * replayed union. Aggregation/window/sql steps are rejected loudly
    * — per-batch aggregates would silently DIFFER from the batch
    * result; stream aggregation belongs to
    * [[graft.streaming.Streams.windowedAgg]] and friends. A join Spark
    * cannot run incrementally against a static side (`right`/`full`
    * outer: the static side's unmatched rows would repeat per batch)
    * fails when the stream starts. The `anomaly` section is
    * batch-scoped (its baselines need the whole frame) and likewise
    * rejected — as is `min_score`: the gate's percentage thresholds
    * and aggregate score are not batching-invariant (each micro-batch
    * could pass while the union fails, or vice versa, with earlier
    * batches' output already committed), so gate [[streamedOutput]]
    * with [[graft.quality.DQ.check]] + gateFromResults instead. The
    * sink's `mode` must be `"atomic"` or absent: this runner always
    * writes `batch_id=N` atomic-swap slices, so an explicit `append`/
    * `overwrite` mode would replay with silently different semantics.
    *
    * With an `ingest` section (the crawl screen+append loop as a stored
    * document), the clean rows screen against the signature history
    * at `history` and the survivors' SIGNATURES append as this batch's
    * history slice through [[graft.streaming.Streams.screenSlice]] —
    * the replay-exclusion/atomic-append step
    * [[graft.streaming.Streams.ingestScreenStream]] runs — with the
    * family + knobs resolved through the SAME dispatch as the batch
    * `screen` step ([[Pipeline.screenFns]]), so a document's knobs
    * mean the same thing on both paths (spec-pinned parity with
    * [[graft.streaming.Streams.ingestScreenStream]]). The section's
    * `id`/`column` must exist on the TRANSFORMED rows (the steps run
    * first). Quarantined rows never reach the history — a failing row
    * was not ingested. The semantic family loads the quantizer once at
    * stream start and is version-checked by construction (the r19
    * handshake); `history` is bound to ONE checkpoint lineage exactly
    * like [[graft.streaming.Streams.ingestScreenStream]]'s.
    */
  def runStream(spark: SparkSession, spec: Spec, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (sinkFormat, sinkPath, sinkMode) = spec.sink.getOrElse(
      throw new IllegalArgumentException(
        "streaming job needs a \"sink\" (clean rows land there as batch_id slices)"))
    sinkMode.filterNot(_ == "atomic").foreach(m =>
      throw new IllegalArgumentException(
        s"""streaming job writes batch_id=N atomic-swap slices; sink mode "$m" """ +
          "would replay with different semantics — use \"atomic\" or omit \"mode\""))
    require(spec.anomalyJson.isEmpty,
      "streaming job does not support the \"anomaly\" section (its baselines " +
        "are whole-frame); run Anomaly.fromJson over the accumulated sink instead")
    require(spec.minScore.isEmpty,
      "streaming job does not support \"min_score\": the gate judges the WHOLE " +
        "output and is not batching-invariant per micro-batch (earlier batches " +
        "are already committed when a later batch fails) — gate streamedOutput " +
        "with DQ.check + DQ.gateFromResults instead")
    require(spec.incremental.isEmpty,
      "streaming job does not support the \"incremental\" section: the file " +
        "stream's checkpoint IS the resume state (new files become " +
        "micro-batches); the watermark ledger belongs to batch runs")
    val unsupported = spec.pipeline.steps.collect {
      case _: Pipeline.Aggregate => "aggregate"
      case _: Pipeline.Rank => "rank"
      case _: Pipeline.Lag => "lag"
      case _: Pipeline.RunningTotal => "running_total"
      case _: Pipeline.Rolling => "rolling"
      case _: Pipeline.SqlTransform => "sqltransform"
      // the batch screen step is PURE (no history append, no replay
      // exclusion); running it per micro-batch would silently skip the
      // ingest contract — the streaming screens own that machinery
      case _: Pipeline.Screen => "screen"
    }
    require(unsupported.isEmpty,
      "streaming job supports row-local and stream-static-join steps only " +
        s"(got: ${unsupported.distinct.mkString(", ")}) — per-micro-batch " +
        "aggregation/window results differ from the batch job; use " +
        "Streams.windowedAgg/sessionWindowAgg for stream aggregation, and " +
        "the document's \"ingest\" section for streaming ingest screens (it " +
        "owns the history-append + replay-exclusion contract the batch " +
        "screen step deliberately lacks)")
    val primarySpec = spec.datasets.find(_.name == spec.pipeline.primary)
      .getOrElse(throw new IllegalArgumentException(
        s"pipeline primary '${spec.pipeline.primary}' is not a declared dataset"))
    requireFileDatasets(spec)
    val statics = spec.datasets.filterNot(_.name == spec.pipeline.primary)
      .map(d => d.name -> Catalog.load(spark, d)).toMap
    // schema pin for the stream: the SAME Catalog.load path as batch
    // (declared DDL validated against the files), so batch and stream
    // cannot drift on the primary's shape
    val schema = Catalog.load(spark, primarySpec).schema
    val stream = graft.streaming.Streams.fileStream(spark,
      primarySpec.format, primarySpec.path, schema, primarySpec.options)
    // the steps compose ON the stream, once: every supported step is
    // batching-invariant, so each micro-batch's rows are exactly the
    // batch pipeline's rows, and Spark refuses at start what it cannot
    // run incrementally (a right or full outer join against a static
    // dataset). The ingest family + knobs resolve through the SAME
    // dispatch as the batch screen step; the semantic quantizer (and
    // its handshake version) loads ONCE here, at stream start.
    val transformed = Pipeline.run(spark,
      statics + (spec.pipeline.primary -> stream), spec.pipeline)
    val ingest = spec.ingest.map(scr => (scr.historyRoot, Pipeline.screenFns(spark, scr)))
    graft.streaming.Streams.eachBatch(transformed, checkpointDir) { (batch, batchId) =>
      // quarantine BEFORE the screen: a row that fails quality was
      // never ingested, so it must not enter the history
      val clean = spec.quarantine.fold(batch) { case (dir, runId) =>
        graft.streaming.Streams.quarantineSlice(batch, spec.dqRules,
          s"$dir/run_id=$runId", batchId)
      }
      val survivors = ingest.fold(clean) { case (root, (signatures, screen)) =>
        graft.streaming.Streams.screenSlice(clean, root, batchId)(signatures)(screen)
      }
      graft.Recovery.idempotentWrite(survivors,
        s"$sinkPath/batch_id=$batchId", sinkFormat)
    }
  }

  def runStreamJson(spark: SparkSession, json: String,
                    checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    runStream(spark, parse(json), checkpointDir)

  /** Everything a streaming job has emitted so far (healed
    * `batch_id=N` slices under the sink path).
    */
  def streamedOutput(spark: SparkSession, sinkPath: String): DataFrame =
    graft.streaming.Streams.batchSlices(spark, sinkPath, "stream-sink")

  /** [[run]] with the monitoring loop closed: a
    * [[graft.monitoring.Metrics.Recorder]] captures every action the
    * job fires (gate agg, sink write, anomaly count …) and the
    * captured metrics land in the [[graft.monitoring.RunHistory]]
    * dataset under `runId` — so a scheduled job feeds the same
    * trend/regression/SLA queries ([[graft.monitoring.Trends]]) as
    * the reference's performance monitor, with zero bookkeeping in
    * the job itself. The recorder is detached even when the job
    * throws; a gate failure still records its actions (failed runs
    * are what the SLA queries exist for). Engine bookkeeping is not an
    * action: watermark ledger reads and writes and the history append
    * itself run on the driver, not as Spark queries, so they add no
    * entries (the `incremental` section's batch max still does).
    */
  def runWithHistory(spark: SparkSession, spec: Spec, historyDir: String,
                     runId: String): Result = {
    val recorder = graft.monitoring.Metrics.attach(spark)
    val started = System.nanoTime()
    var jobError: Throwable = null
    try run(spark, spec)
    catch { case e: Throwable => jobError = e; throw e }
    finally {
      // the bookkeeping below must never REPLACE the job's own
      // failure: a history-write error on a failed run attaches as
      // suppressed context instead of masking the cause
      try {
        val wallMs = (System.nanoTime() - started) / 1000000L
        // QueryExecutionListener delivery is asynchronous: drain the
        // listener bus so every action the run fired is in the snapshot.
        // A bus still busy after the drain's timeout records what has
        // arrived; the top-level "job" entry below is recorded either way.
        try org.apache.spark.GraftBus.drain(spark.sparkContext)
        catch { case _: java.util.concurrent.TimeoutException => () }
        // an interrupted drain must STILL detach the listener — a
        // leaked recorder grows its snapshot for the session's life
        finally spark.listenerManager.unregister(recorder)
        val entries = graft.monitoring.RunHistory.Entry(
          "job", wallMs, failed = jobError != null) +:
          graft.monitoring.RunHistory.fromActions(recorder.snapshot())
        graft.monitoring.RunHistory.append(spark, historyDir, runId, entries)
      } catch {
        // InterruptedException is not NonFatal but must not mask the
        // job's own failure either — suppress it too (restoring the
        // interrupt flag); truly fatal errors still propagate
        case he@(scala.util.control.NonFatal(_) | _: InterruptedException) =>
          if (he.isInstanceOf[InterruptedException])
            Thread.currentThread().interrupt()
          if (jobError != null) jobError.addSuppressed(he) else throw he
      }
    }
  }
}
