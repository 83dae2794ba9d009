package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Structured-streaming building blocks. The reference's streaming
  * story is checkpoint-file bookkeeping around batch reruns
  * (src/utils/error_recovery.py); Spark's native model replaces it:
  * exactly-once sinks via checkpointed offsets + idempotent writes,
  * late data via watermarks, custom state via mapGroupsWithState.
  */
object Streams {

  /** File-drop source: new files under `path` become micro-batches.
    * Schema is mandatory for streams (no inference scan).
    */
  def fileStream(spark: SparkSession, format: String, path: String,
                 schema: StructType,
                 options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format(format).schema(schema).options(options).load(path)

  /** Watermarked sliding/tumbling window aggregation — the streaming
    * analog of Ops.groupAgg: late rows beyond `watermarkDelay` are
    * dropped (state is bounded — the property that keeps a 100-day
    * stream from accumulating 100 days of state).
    */
  def windowedAgg(df: DataFrame, tsCol: String, watermarkDelay: String,
                  windowDur: String, slideDur: Option[String],
                  keyCols: Seq[String], aggs: Seq[Column]): DataFrame = {
    val win = slideDur.fold(window(col(tsCol), windowDur))(s => window(col(tsCol), windowDur, s))
    graft.functions.Times.ensureTimestamp(df, tsCol)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(win +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Gap-based session aggregation over a stream — the streaming
    * analog of [[graft.operators.Ops.sessionize]], expressed with
    * Spark's native `session_window` (merge-on-overlap state store
    * semantics) instead of hand-rolled mapGroupsWithState: sessions
    * extend while events arrive within `gap` of the last one, close
    * when the watermark passes session end, and emit exactly once in
    * Append mode. `session_start` labels each session with its first
    * event time.
    */
  def sessionWindowAgg(df: DataFrame, tsCol: String, watermarkDelay: String,
                       gap: String, keyCols: Seq[String],
                       aggs: Seq[Column]): DataFrame =
    graft.functions.Times.ensureTimestamp(df, tsCol)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap) +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session_window.start"))
      .drop("session_window")

  /** Streaming dedup on keys within the watermark horizon — the
    * streaming analog of Incremental.dedupLatest (first-seen wins;
    * state auto-expires with the watermark).
    */
  def dedupStream(df: DataFrame, tsCol: String, watermarkDelay: String,
                  keys: Seq[String]): DataFrame =
    graft.functions.Times.ensureTimestamp(df, tsCol)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Custom keyed running state via mapGroupsWithState: per-key count
    * and decimal-exact running sum. The template for arbitrary
    * stateful operators (sessionization, CDC folding, counters).
    */
  final case class KeyedTotals(key: String, n: Long, total: Double)

  def runningTotals(ds: Dataset[(String, Double)]): Dataset[KeyedTotals] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[KeyedTotals]) =>
          val prev = state.getOption.getOrElse(KeyedTotals(key, 0L, 0.0))
          val next = rows.foldLeft(prev) { case (acc, (_, v)) =>
            KeyedTotals(key, acc.n + 1, acc.total + v)
          }
          state.update(next)
          next
      }
  }

  /** Start a console/memory sink for smoke runs; production sinks are
    * format("parquet")/("kafka") with a checkpointLocation.
    */
  def startMemorySink(df: DataFrame, queryName: String,
                      outputMode: OutputMode = OutputMode.Update()) =
    df.writeStream.format("memory").queryName(queryName)
      .outputMode(outputMode).start()

  /** Replay bytes per state partition in [[drainStatePartitions]]. */
  private val StreamBytesPerStatePartition: Long = 4L << 20

  /** State-store partition count for a BOUNDED replay, derived from the
    * replay's input volume. A stateful streaming query pins its state
    * partitioning to `spark.sql.shuffle.partitions` at the FIRST
    * micro-batch (no AQE on streaming shuffles), and every HDFS-backed
    * state partition pays a fixed per-batch commit (delta file + CRC +
    * maintenance) regardless of content — so a bounded replay whose
    * whole state fits a few partitions spends most of its wall time
    * committing empty ones (r20-opt: ~1.2-1.7 s per stateful drain at
    * the session's core-count partitioning). Volume-derived, never a
    * constant: bytes / [[StreamBytesPerStatePartition]], clamped to
    * [1, session shuffle partitions], so a corpus-sized replay keeps
    * the session's full parallelism and only small replays shed the
    * fixed commit overhead. Callers scope it to the
    * one query start (state partitioning is a per-checkpoint
    * property).
    *
    * The default target is 4 MB of replay per state partition — set by
    * the r21 sf10 scale check, which caught 64 MB regressing
    * q_stream_sessionize to 233.9 s at sf10 (207 MB replay / 64 MB = 4
    * partitions serialized the per-partition session-merge compute:
    * stateful ops are compute-bound well before a partition's input
    * reaches shuffle-sized byte targets; an 8 MB target [26 partitions]
    * still measured min 83 s vs 33.7 s at the session's 32). At 4 MB
    * the few-MB gate replays still collapse to one partition (the
    * commit-overhead win, ~45-60% of the drain), while anything past
    * ~128 MB clamps to the session's parallelism — the pre-r21
    * behavior recovered exactly. The target sheds fixed commit overhead
    * on small replays and deliberately nothing else.
    */
  def drainStatePartitions(spark: SparkSession, inputBytes: Long): Int = {
    val per = StreamBytesPerStatePartition
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(session.toLong, (inputBytes + per - 1) / per)).toInt
  }

  /** Every engine `foreachBatch`: start `stream` under `checkpointDir`
    * and run `body` on each micro-batch in a pin scope of its own,
    * released after the batch's writes ([[graft.GraftSession.scoped]]). */
  private[graft] def eachBatch(stream: DataFrame, checkpointDir: String,
                               mode: OutputMode = OutputMode.Append())
                              (body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(mode)
      .foreachBatch((batch: Dataset[Row], batchId: Long) =>
        graft.GraftSession.scoped(body(batch, batchId)))
      .start()

  /** Late-data SIDE OUTPUT: Spark's watermark silently DROPS rows that
    * arrive after the horizon — correct for state bounding, but a
    * training-data pipeline usually wants late rows LANDED somewhere
    * for backfill/audit, not vanished. This wrapper reproduces the
    * engine's own watermark discipline observably, in foreachBatch:
    *
    *  - the running watermark is max(event time over all PRIOR
    *    batches) − delay, advancing at batch END — exactly Spark's
    *    global watermark semantics, and exactly the batch
    *    [[graft.incremental.Incremental.flagLate]] contract
    *    (`ts <= watermark` is late), so a replay of the same batches
    *    through flagLate counts the same rows;
    *  - each batch's late rows append to `latePath/batch_id=<n>` via
    *    the atomic-swap writer — a checkpoint REPLAY of a batch
    *    replaces its own slice (idempotent), never double-appends;
    *  - on-time rows (and rows with NULL event time, which no
    *    watermark can judge) go to `onTime` for the real processing;
    *  - the watermark state persists PER BATCH under `statePath`
    *    (one-row slices, same swap discipline): a restart resumes the
    *    horizon, and a batch replay reads the slice below its own
    *    batch id — the split it computes is identical to its first
    *    execution, not retroactively tightened by later batches.
    *
    * Scale shape: two codegen'd filters per batch off one shared
    * predicate (the [[graft.quality.DQ.split]] pattern), one tiny
    * state write; no extra shuffle, no state store.
    */
  def lateSideOutput(stream: DataFrame, tsCol: String, delay: String,
                     latePath: String, statePath: String,
                     checkpointDir: String)
                    (onTime: (DataFrame, Long) => Unit) = {
    eachBatch(stream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      // watermark state is kept PER BATCH (the cumulative max as of
      // each batch id), and a batch reads the newest slice BELOW its
      // own id — so a checkpoint replay of batch N sees exactly the
      // horizon it saw the first time, and the late/on-time split is
      // replay-DETERMINISTIC (a single mutable state would have
      // advanced past N and reclassified rows on replay)
      val prevMax: Option[java.sql.Timestamp] =
        graft.Recovery.slices(spark, statePath, "batch_id")(_.toLong < batchId)
          .maxByOption(p => p.substring(p.lastIndexOf('=') + 1).toLong)
          .flatMap(p => spark.read.parquet(p).collect().headOption
            .map(_.getTimestamp(0)))
      val df = graft.functions.Times.ensureTimestamp(batch, tsCol)
      val isLate = prevMax.fold(lit(false))(m =>
        coalesce(col(tsCol) <= lit(m) - expr(s"INTERVAL '$delay'"), lit(false)))
      val late = df.filter(isLate)
      graft.Recovery.idempotentWrite(late, s"$latePath/batch_id=$batchId")
      onTime(df.filter(!isLate), batchId)
      // advance the horizon AFTER the batch (Spark updates the global
      // watermark at micro-batch end, from the batch's max event time)
      val batchMax = df.agg(max(col(tsCol))).collect().headOption
        .flatMap(r => Option(r.getTimestamp(0)))
      val newMax = (prevMax.toSeq ++ batchMax.toSeq).sortBy(_.getTime).lastOption
      newMax.foreach { m =>
        import spark.implicits._
        graft.Recovery.idempotentWrite(
          Seq(m).toDF("max_event_time").coalesce(1),
          s"$statePath/batch_id=$batchId")
      }
    }
  }

  /** Everything landed on the late side across all batches so far:
    * every healed `batch_id=N` slice, read through
    * [[graft.Recovery.slices]], so a crashed swap's staged or retired
    * copy is promoted or restored, never double-counted.
    */
  def lateRows(spark: SparkSession, latePath: String): DataFrame =
    batchSlices(spark, latePath, "late-data")

  /** Read every healed `batch_id=N` slice under `root` (the shared
    * side-output layout of [[lateSideOutput]], [[quarantineStream]]
    * and [[graft.pipeline.Job.runStream]]'s sink) through
    * [[graft.Recovery.slices]]: torn swaps restored, no slice read
    * twice.
    */
  def batchSlices(spark: SparkSession, root: String,
                  what: String = "batch-slice"): DataFrame = {
    val slices = graft.Recovery.slices(spark, root, "batch_id")()
    require(slices.nonEmpty, s"no $what slices under $root")
    spark.read.option("basePath", root).parquet(slices: _*)
  }

  /** Row-level DQ as a STREAMING path — the batch
    * [[graft.quality.DQ.split]]/quarantine contract per micro-batch:
    * each batch splits through the SAME fused rule expressions
    * (row-level rules only, as in batch), the clean side goes to the
    * caller's sink, and the failed side (tagged `failed_rules`) lands
    * as a `batch_id=N` slice via the atomic swap — a checkpoint
    * replay of batch N REPLACES its own slice instead of
    * double-appending, so the quarantine area is exactly-once.
    */
  def quarantineStream(stream: DataFrame,
                       rules: Seq[graft.quality.DQ.Rule],
                       quarantinePath: String, checkpointDir: String)
                      (clean: (DataFrame, Long) => Unit) = {
    // fail at construction, not inside the first micro-batch: an
    // invalid rule set would otherwise kill the running query as an
    // opaque StreamingQueryException
    require(rules.nonEmpty, "quarantineStream needs rules")
    val aggOnly = rules.filterNot(_.rowLevel).map(_.id)
    require(aggOnly.isEmpty,
      s"quarantineStream needs per-row rules; aggregate-level: ${aggOnly.mkString(", ")}")
    eachBatch(stream, checkpointDir) { (batch, batchId) =>
      clean(quarantineSlice(batch, rules, quarantinePath, batchId), batchId)
    }
  }

  /** One micro-batch of [[quarantineStream]] (and of
    * [[graft.pipeline.Job.runStream]]'s quarantine split): split `batch`
    * through `rules` and write the failed side as the `batch_id=N`
    * slice under `root` through the atomic swap; returns the clean
    * side. No extra batch column: the slice layout surfaces it as a
    * partition column on read.
    */
  private[graft] def quarantineSlice(batch: DataFrame,
                                     rules: Seq[graft.quality.DQ.Rule],
                                     root: String, batchId: Long): DataFrame = {
    val (ok, bad) = graft.quality.DQ.split(batch, rules)
    graft.Recovery.idempotentWrite(bad, s"$root/batch_id=$batchId")
    ok
  }

  /** Everything quarantined across all batches so far (healed slices
    * only) — feed back through [[graft.Recovery.reprocess]]-style
    * replays after the upstream fix.
    */
  def quarantinedRows(spark: SparkSession, quarantinePath: String): DataFrame =
    batchSlices(spark, quarantinePath, "quarantine")

  /** Streaming ingest screen, generic over the signature family (the
    * crawl-pipeline shape): each micro-batch screens against the
    * SIGNATURE HISTORY — the union of an optional seed slice and every
    * earlier batch's survivors — through stored signatures only;
    * history rows are never reread, re-shingled or re-decoded. The
    * family is a function pair, normally the one
    * [[graft.pipeline.Pipeline.screenFns]] derives from a
    * [[graft.pipeline.Pipeline.Screen]] (exact, minhash, simhash,
    * image, audio or version-checked semantic), the same dispatch the
    * batch `screen` step and [[graft.pipeline.Job.runStream]]'s
    * `ingest` section use:
    *  - `signatures(rows)` derives the STORED-signature frame a
    *    survivor contributes to history (must accept an empty frame —
    *    the cold-start schema);
    *  - `screen(batch, historySigs)` returns the surviving batch rows
    *    (columns unchanged).
    * Per micro-batch: the history read unions the healed slices
    * EXCLUDING this batch id (replay safety — a replayed batch can
    * never screen against its own previous attempt and self-match,
    * which would drop every row), survivors' signatures land as the
    * `batch_id=N` slice through the atomic swap (a replay REPLACES its
    * slice instead of double-appending), survivors flow to `clean`.
    *
    * Scope: cross-batch duplicates only. Within-batch duplicates all
    * survive (the history operators' contract) — compose batch dedup
    * inside `clean` when the source can repeat inside one batch. Seed
    * pre-existing corpus history by writing its signatures to
    * `historyRoot/batch_id=-1` before starting the stream; fold
    * accumulated slices with [[compactSignatureHistory]] while stopped.
    *
    * `historyRoot` is bound to ONE checkpoint lineage: batch ids
    * restart at 0 under a fresh checkpoint, so a restarted pipeline
    * reusing an old historyRoot would both hide and then OVERWRITE the
    * old `batch_id=0` slice (the same contract as every batch_id-slice
    * sink here — quarantine, late side-output). Reset or re-seed the
    * history when the checkpoint is reset.
    */
  def ingestScreenStream(stream: DataFrame, historyRoot: String,
                         checkpointDir: String)
                        (signatures: DataFrame => DataFrame)
                        (screen: (DataFrame, DataFrame) => DataFrame)
                        (clean: (DataFrame, Long) => Unit) =
    eachBatch(stream, checkpointDir) { (batch, batchId) =>
      clean(screenSlice(batch, historyRoot, batchId)(signatures)(screen), batchId)
    }

  /** One micro-batch of [[ingestScreenStream]] (and of
    * [[graft.pipeline.Job.runStream]]'s `ingest` section): screen
    * `batch` against every healed history slice but this batch's own
    * (a replay must not screen against itself; none yet is a cold
    * start with no seed), write the survivors' signatures as the
    * `batch_id=N` slice through the atomic swap, and return the
    * survivors.
    */
  private[graft] def screenSlice(batch: DataFrame, historyRoot: String,
                                 batchId: Long)
                                (signatures: DataFrame => DataFrame)
                                (screen: (DataFrame, DataFrame) => DataFrame)
      : DataFrame = {
    val spark = batch.sparkSession
    val slices = graft.Recovery.slices(spark, historyRoot, "batch_id")(_ != batchId.toString)
    val history =
      if (slices.isEmpty) signatures(batch.limit(0))
      else spark.read.option("basePath", historyRoot).parquet(slices: _*)
    val survivors = screen(batch, history)
    graft.Recovery.idempotentWrite(
      signatures(survivors), s"$historyRoot/batch_id=$batchId")
    survivors
  }

  /** Compact an [[ingestScreenStream]] history root — SCHEMA-AGNOSTIC
    * (r19 spec-pinned over minhash, image, and version-stamped
    * semantic roots; any signature family's columns, including the
    * `__iv` quantizer stamp, fold through untouched): fold every
    * `batch_id` slice ≤ `upToBatch` (and any existing seed) into ONE
    * `batch_id=-1` seed slice, then remove the merged slices — a
    * long-running crawl otherwise accumulates one directory per
    * micro-batch, and the history read pays a per-slice heal + list
    * every batch. Returns the number of non-seed slices merged (0 =
    * nothing to do). Composes with
    * [[graft.llm.Dedup.reassignSemanticHistory]]: a compacted semantic
    * root is one slice to re-assign.
    *
    * Contract: run while the stream is STOPPED, with `upToBatch`
    * strictly below the checkpoint's next batch id — a batch the
    * checkpoint may still replay must keep its own slice, because the
    * replay excludes (and then REWRITES) exactly that slice id.
    * Crash-safe in the screen's semantics: the merged seed publishes
    * first (atomic swap), merged slices delete after — a crash
    * between the two leaves duplicate signature rows across seed and
    * slices, which cannot change any survival decision (the screen is
    * an existence test), and re-running the compaction completes the
    * cleanup.
    */
  def compactSignatureHistory(spark: SparkSession, root: String,
                              upToBatch: Long): Int = {
    val slices = graft.Recovery.slices(spark, root, "batch_id") { v =>
      v.toLong == -1L || v.toLong <= upToBatch
    }
    // nothing to fold below the watermark, or only the seed itself
    // (endsWith, not string equality: listStatus paths come back
    // scheme-qualified — file:/..., hdfs://... — so comparing against
    // the raw root string never matched and a seed-only root was
    // pointlessly rewritten over itself every call)
    if (slices.isEmpty || slices.forall(_.endsWith("batch_id=-1"))) return 0
    val merged = spark.read.option("basePath", root).parquet(slices: _*)
      .drop("batch_id")
    // safe to read the live seed while merging: idempotentWrite stages
    // the FULL new seed beside it first and only then swaps names, so
    // the scan never races the replace
    graft.Recovery.idempotentWrite(merged, s"$root/batch_id=-1")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    slices.filterNot(_.endsWith("batch_id=-1"))
      .foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    slices.count(!_.endsWith("batch_id=-1"))
  }

  /** The full signature history under `root` for BATCH consumers (r19
    * — the pipeline `screen` step): every healed `batch_id=` slice, or
    * the root itself as one plain parquet dir when it holds no slices
    * (the same dual layout [[graft.llm.Dedup.reassignSemanticHistory]]
    * accepts, through [[graft.Recovery.slicesOrRoot]]). None when there
    * is nothing to read. No slice exclusion — a batch reader has no
    * replay identity to exclude.
    */
  def loadSignatureHistory(spark: SparkSession, root: String): Option[DataFrame] = {
    val paths = graft.Recovery.slicesOrRoot(spark, root, "batch_id")
    if (paths.isEmpty) None
    else Some(spark.read.option("basePath", root).parquet(paths: _*))
  }

  /** End-to-end streaming CDC: every micro-batch of I/U/D events folds
    * into the parquet target via [[graft.incremental.Incremental.applyCdc]]
    * (write-new-state-then-swap — idempotent, so checkpoint replays
    * are safe). `targetPath` must hold the seeded initial state; its
    * schema defines the target columns.
    */
  def applyCdcStream(cdc: DataFrame, keys: Seq[String], opCol: String,
                     newestFirst: Seq[Column], targetPath: String,
                     checkpointDir: String) = {
    eachBatch(cdc, checkpointDir, OutputMode.Update()) { (batch, _) =>
      val spark = batch.sparkSession
      // heal a torn swap from a crashed previous batch, then read the
      // (guaranteed-present) current state and fold the batch in via
      // the retire-promote swap of Recovery.idempotentWrite — a crash
      // at any point leaves a complete state findable on restart
      graft.Recovery.restoreIfTorn(spark, targetPath)
      val current = spark.read.parquet(targetPath)
      val targetCols = current.columns.toSeq
      val next = graft.incremental.Incremental
        .applyCdc(current, batch, keys, opCol, newestFirst)
        .select(targetCols.map(org.apache.spark.sql.functions.col): _*)
      graft.Recovery.idempotentWrite(next, targetPath)
    }
  }
}
