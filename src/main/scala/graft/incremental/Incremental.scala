package graft.incremental

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental-load operators: the Spark-native re-expression of the
  * reference's `IncrementalLoadManager`
  * (reference: src/utils/incremental_load_manager.py:118-521).
  *
  * The reference mutates a target table row-by-row through a DB
  * connection; here every operation is a declarative plan producing
  * the NEW target state, to be written atomically (parquet overwrite /
  * table swap) — idempotent by construction, which is what replaces the
  * reference's ErrorRecovery bookkeeping. Joins on merge keys shuffle
  * both sides by key once; update/CDC frames are usually much smaller
  * than the target, so AQE picks broadcast automatically when they fit.
  */
object Incremental {

  /** Watermark extract — ref incremental_load_manager.py:118-136
    * (timestamp + sequence strategies are the same plan: a pushed-down
    * range filter on the watermark column).
    */
  def afterWatermark(df: DataFrame, watermarkCol: String, watermark: Any): DataFrame =
    df.filter(col(watermarkCol) > lit(watermark))

  /** One-call incremental JDBC extract — ref incremental_load_manager
    * .py:118 extract_incremental_data + :300 optimize_incremental_query:
    * read the stored watermark for (pipeline, source) out of the
    * durable [[WatermarkStore]] ledger and land it in the JDBC scan's
    * pushed predicates — the DATABASE evaluates
    * `WHERE column > watermark` (PushedFilters on the scan), so only
    * the delta crosses the wire; a first run with an empty ledger is a
    * full extract. Pair with a partitionColumn on the source so the
    * delta itself reads as parallel range queries.
    *
    * Advance the ledger AFTER the batch is safely consumed
    * ([[WatermarkStore.advanceFrom]] on the same frame) — never
    * before: a failed run must re-extract its delta on retry.
    * [[graft.pipeline.Job]] wires this sequencing (extract → pipeline
    * → sink → advance) for `jdbc` datasets with an `incremental`
    * section, pinning the delta batch so the advance aggregates the
    * rows the run actually consumed.
    */
  def extractJdbc(spark: org.apache.spark.sql.SparkSession,
                  source: graft.sources.JdbcSource,
                  storeDir: String, pipelineId: String, sourceId: String,
                  column: String): DataFrame = {
    val df = source.reader(spark).load()
    WatermarkStore.last(spark, storeDir, pipelineId, sourceId, Some(column))
      .fold(df)(w => afterWatermark(df, column, w.value))
  }

  /** The ledger column under which [[extractSinceVersion]] records a
    * versioned table's commit watermark.
    */
  val versionColumn = "__version"

  /** Lakehouse since-version extract — the reference's `delta_lake`
    * strategy slot (incremental_load_manager.py:786 _extract_delta_lake,
    * a placeholder there): the delta of a
    * [[graft.sources.VersionedTable]] past the commit version the
    * ledger last recorded. A first run (empty ledger) reads the whole
    * table; afterwards only the delta commits' FILES open — file-level
    * pruning, no scan-and-filter of the full table. Pair with
    * [[advanceVersion]] after the batch lands (never before — a failed
    * run must re-read its delta on retry), completing the strategy set
    * beside timestamp/sequence/cdc/snapshot.
    */
  def extractSinceVersion(spark: org.apache.spark.sql.SparkSession,
                          tableDir: String, storeDir: String,
                          pipelineId: String, sourceId: String): DataFrame = {
    val since = WatermarkStore
      .last(spark, storeDir, pipelineId, sourceId, Some(versionColumn))
      .map(_.value.asInstanceOf[Long]).getOrElse(-1L)
    graft.sources.VersionedTable.readSince(spark, tableDir, since)
  }

  /** Record the table's newest readable version as the stored
    * watermark — a no-op when nothing new was committed (mirrors
    * [[WatermarkStore.advanceFrom]]'s empty-batch contract). Returns
    * the recorded version.
    */
  def advanceVersion(spark: org.apache.spark.sql.SparkSession,
                     tableDir: String, storeDir: String,
                     pipelineId: String, sourceId: String): Option[Long] = {
    val stored = WatermarkStore
      .last(spark, storeDir, pipelineId, sourceId, Some(versionColumn))
      .map(_.value.asInstanceOf[Long])
    val latest = graft.sources.VersionedTable.latestVersion(spark, tableDir)
      .filter(v => stored.forall(_ < v))
    latest.foreach(v => WatermarkStore.update(spark, storeDir, pipelineId,
      sourceId, versionColumn, v, strategy = "delta_lake"))
    latest
  }

  /** Keep the LATEST row per key — ref :521 deduplicate_data, with the
    * deterministic "latest wins" ordering production dedup needs (pass
    * a unique composite ordering; ties would otherwise be
    * partition-order-dependent).
    */
  def dedupLatest(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }
  /** dedupLatest with ascending Columns supplied explicitly (desc applied here). */
  def dedupLatestBy(df: DataFrame, keys: Seq[String], newestFirst: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(newestFirst: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Upsert — ref :231 merge_incremental_load(load_type="upsert"):
    * update rows win over target rows with the same key; unmatched
    * update rows insert. Requires `updates` unique per key (use
    * [[dedupLatest]] first when it isn't).
    */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    updates.unionByName(target.join(updates.select(keys.map(col): _*).distinct(),
      keys, "left_anti"))

  /** Partition-scoped upsert against a PERSISTED hive-layout dataset —
    * the 100 TB merge pattern (Delta/Iceberg MERGE's file-level
    * rewrite, expressed with dynamic partition overwrite): the batch
    * names the partitions it touches (a bounded distinct — days, not
    * rows), ONLY those partitions are read back (partition-pruned
    * scan), merged via [[upsert]], and ONLY those partitions are
    * rewritten ([[graft.sources.FileSink.replacePartitions]]) — a
    * daily restatement touches one partition of a decade-deep
    * dataset, never the other 3 649. Keys must not move BETWEEN
    * partitions (enforced: the partition column must be one of the
    * keys or functionally derived by the caller), or the old copy in
    * the untouched partition would survive.
    */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession,
                        targetDir: String, batch: DataFrame,
                        keys: Seq[String], partitionCol: String,
                        format: String = "parquet"): Unit = {
    require(keys.contains(partitionCol),
      s"partition column '$partitionCol' must be part of the upsert key: " +
        "otherwise a key moving between partitions leaves its old copy " +
        "alive in a partition this merge never rewrites")
    val touched = batch.select(col(partitionCol)).distinct().collect()
      .map(_.get(0))
    // a NULL partition value would land in __HIVE_DEFAULT_PARTITION__
    // without its existing rows being read back — the overwrite would
    // silently delete them. Refuse UP FRONT, first load included: the
    // invariant must hold from dataset creation or later merges could
    // never restate the null partition
    require(!touched.contains(null),
      s"batch has NULL '$partitionCol' values — a partition-scoped merge " +
        "cannot restate the null partition safely; filter or default them first")
    require(touched.nonEmpty, "batch touches no partitions")
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(targetDir))) {
      // first load: nothing to merge with
      graft.sources.FileSink.replacePartitions(batch, targetDir,
        Seq(partitionCol), format)
      return
    }
    val existing = spark.read.format(format).load(targetDir)
      // partition-value discovery re-infers the column's type; pin it
      // back to the batch's so the prune compares and the union lines up
      .withColumn(partitionCol,
        col(partitionCol).cast(batch.schema(partitionCol).dataType))
      .filter(col(partitionCol).isin(touched: _*)) // partition-pruned
    val merged = upsert(existing, batch, keys)
    graft.sources.FileSink.replacePartitions(merged, targetDir,
      Seq(partitionCol), format)
  }

  /** The reference's per-run incremental metrics record — ref
    * incremental_load_manager.py:54-69 IncrementalMetrics (the
    * data-plane fields; its pipeline/source ids and processing time
    * are the caller's bookkeeping, and validation errors are
    * [[graft.quality.DQ.check]]'s output). Persist alongside runs via
    * [[graft.monitoring.RunHistory]].
    */
  final case class LoadMetrics(recordsExtracted: Long, duplicatesFound: Long,
                               recordsInserted: Long, recordsUpdated: Long,
                               lateArrivals: Long,
                               watermarkBefore: String, watermarkAfter: String)

  /** One-call incremental load WITH metrics — ref :389
    * get_incremental_metrics over the :118/:521/:231 pipeline shape:
    * watermark extract → latest-per-key dedup → upsert, reporting what
    * each stage did. The returned frame is exactly
    * `upsert(target, dedupLatestBy(afterWatermark(batch)), keys)`.
    *
    * Cost discipline (metrics need actions, so make them few): ALL
    * batch-side counts — extracted, late arrivals, the new watermark —
    * fuse into ONE aggregation over the batch scan, and the
    * insert/update split is ONE aggregation over the key-flagged
    * deduped frame, pinned because the returned upsert plan consumes
    * it again (owned by the caller's pin scope, else the session: see
    * [[graft.GraftSession.releaseAll]]). Rows with a NULL watermark
    * column count as neither extracted nor late — no watermark can
    * judge them — and are excluded, matching [[afterWatermark]].
    */
  def upsertWithMetrics(target: DataFrame, batch: DataFrame, keys: Seq[String],
                        newestFirst: Seq[Column], watermarkCol: String,
                        watermark: Any): (DataFrame, LoadMetrics) = {
    val b = batch.agg(
      coalesce(sum(when(col(watermarkCol) > lit(watermark), 1L)
        .otherwise(0L)), lit(0L)).as("extracted"),
      coalesce(sum(when(col(watermarkCol) <= lit(watermark), 1L)
        .otherwise(0L)), lit(0L)).as("late"),
      // max over EXTRACTED rows only: a late-only (or empty) batch
      // must not move the watermark backwards — it stays put
      coalesce(
        max(when(col(watermarkCol) > lit(watermark), col(watermarkCol)))
          .cast("string"),
        lit(String.valueOf(watermark))).as("wm_after")).head()
    val deduped = dedupLatestBy(afterWatermark(batch, watermarkCol, watermark),
      keys, newestFirst)
    val flagged = graft.GraftSession.pin(deduped.join(
      target.select(keys.map(col): _*).distinct().withColumn("__exists", lit(true)),
      keys, "left"))
    val split = flagged.agg(
      coalesce(sum(when(col("__exists"), 1L).otherwise(0L)), lit(0L)).as("updated"),
      count(lit(1)).as("deduped")).head()
    // restore the batch's column ORDER (the key join moved keys first)
    // so the result is schema-identical to the composed-stages form
    val updates = flagged.select(batch.columns.map(col).toSeq: _*)
    val metrics = LoadMetrics(
      recordsExtracted = b.getAs[Long]("extracted"),
      duplicatesFound = b.getAs[Long]("extracted") - split.getAs[Long]("deduped"),
      recordsInserted = split.getAs[Long]("deduped") - split.getAs[Long]("updated"),
      recordsUpdated = split.getAs[Long]("updated"),
      lateArrivals = b.getAs[Long]("late"),
      watermarkBefore = String.valueOf(watermark),
      watermarkAfter = b.getAs[String]("wm_after"))
    (upsert(target, updates, keys), metrics)
  }

  /** Insert-only load — ref :240: only rows whose key is absent from
    * the target are appended.
    */
  def insertOnly(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    target.unionByName(updates.join(target.select(keys.map(col): _*).distinct(),
      keys, "left_anti"))

  /** Backdated-correction apply — ref :352 handle_data_correction: a
    * correction UPDATES the matching business-key rows and never
    * inserts; corrections for unknown keys are dropped (the reference
    * counts them as errors). The reference loops an UPDATE statement
    * per correction row; here it is one semi-join to restrict the
    * corrections to existing keys plus the standard upsert plan.
    */
  def applyCorrections(target: DataFrame, corrections: DataFrame,
                       keys: Seq[String]): DataFrame = {
    val applicable = corrections.join(
      target.select(keys.map(col): _*).distinct(), keys, "left_semi")
    upsert(target, applicable, keys)
  }

  /** SCD Type 2 — ref :253-303 implement_scd_type2. `current` carries
    * the SCD bookkeeping columns; `incoming` is the bare new snapshot.
    * Produces the complete new dimension state:
    *   - history rows (not current) pass through untouched
    *   - active rows with no incoming match, or an unchanged match,
    *     stay active
    *   - changed active rows are closed (endCol = effectiveDate,
    *     flag = false) AND a new active version is inserted
    *   - brand-new keys insert as active
    * `compareCols` define "changed" (null-safe comparison). Open rows
    * carry the `openEnd` sentinel end date (classic SCD2 practice —
    * also keeps the column non-null for engines/BI that dislike null
    * dates).
    */
  def scd2(current: DataFrame, incoming: DataFrame, keys: Seq[String],
           compareCols: Seq[String], effectiveDate: String,
           startCol: String = "eff_start", endCol: String = "eff_end",
           flagCol: String = "is_current",
           openEnd: String = "9999-12-31"): DataFrame = {
    val attrCols = current.columns.filterNot(c =>
      c == startCol || c == endCol || c == flagCol).toSeq
    val history = current.filter(!col(flagCol))
    val active = current.filter(col(flagCol))

    val inc = incoming.select(attrCols.map(c => col(c).as(s"__i_$c")): _*)
    val joined = active.join(inc,
      keys.map(k => col(k) === col(s"__i_$k")).reduce(_ && _), "full_outer")

    val matched = keys.map(k => col(s"__i_$k").isNotNull).reduce(_ && _) &&
      keys.map(k => col(k).isNotNull).reduce(_ && _)
    val changed = compareCols.map(c => !(col(c) <=> col(s"__i_$c"))).reduce(_ || _)
    val effDate = lit(effectiveDate).cast("date")

    // active rows kept as-is: no incoming match, or matched & unchanged
    val keptActive = joined
      .filter(keys.map(k => col(s"__i_$k").isNull).reduce(_ && _) || (matched && !changed))
      .select(current.columns.map(col): _*)
    // matched & changed: close the old version
    val closedOld = joined.filter(matched && changed)
      .select(attrCols.map(col) ++
        Seq(col(startCol), effDate.as(endCol), lit(false).as(flagCol)): _*)
      .select(current.columns.map(col): _*)
    // matched & changed, or brand-new key: open a new active version
    val openedNew = joined
      .filter((matched && changed) || keys.map(k => col(k).isNull).reduce(_ && _))
      .select(attrCols.map(c => col(s"__i_$c").as(c)) ++
        Seq(effDate.as(startCol), lit(openEnd).cast("date").as(endCol),
            lit(true).as(flagCol)): _*)
      .select(current.columns.map(col): _*)

    history.unionByName(keptActive).unionByName(closedOld).unionByName(openedNew)
  }

  /** Detect deletes — ref :167-189: target rows whose key no longer
    * exists in the source extract (left_anti on the keys).
    */
  def detectDeletes(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    target.join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** Snapshot reconciliation — the audit generalization of
    * [[detectDeletes]] (ref incremental_load_manager.py:167 finds only
    * removals; a load audit needs adds, removals, AND in-place changes
    * with the columns that moved). Keys are assumed non-null (primary
    * keys, as in every ref incremental flow). Output one row per
    * differing key: (keys..., status ∈ added|removed|changed,
    * changed_cols = comma-joined `compareCols`-order list, '' unless
    * changed). ONE shuffled full-outer join on the keys — the join IS
    * the diff; unchanged rows (the overwhelming bulk of a real
    * reconciliation) are dropped by a codegen'd filter before anything
    * downstream materializes, and per-column comparison is null-safe
    * (`<=>`), so a value moving to/from NULL counts as a change.
    */
  def snapshotDiff(old: DataFrame, cur: DataFrame, keys: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(compareCols.nonEmpty, "need at least one column to compare")
    // the two output columns are appended by name; compareCols are
    // renamed to __o_/__c_ before the join so they can never clash,
    // but KEY columns keep their names — a key literally named
    // status/changed_cols would be silently overwritten, corrupting
    // the returned keys. (Duplicate keys — violating the documented
    // PK assumption — would likewise multiply rows through the
    // full-outer join; that contract stays the caller's.)
    val reservedClash = keys.toSet.intersect(Set("status", "changed_cols"))
    require(reservedClash.isEmpty,
      s"snapshotDiff reserves output columns ${reservedClash.mkString(", ")} — rename the key first")
    def side(df: DataFrame, tag: String) = df
      .select((keys ++ compareCols).map(col): _*)
      .withColumnsRenamed(compareCols.map(c => c -> s"__${tag}_$c").toMap)
      .withColumn(s"__${tag}_present", lit(1))
    val j = side(old, "o").join(side(cur, "c"), keys, "full_outer")
    val status = when(col("__o_present").isNull, "added")
      .when(col("__c_present").isNull, "removed")
      .otherwise("changed")
    val changed = concat_ws(",", compareCols.map(c =>
      when(!(col(s"__o_$c") <=> col(s"__c_$c")), lit(c))): _*)
    j.withColumn("status", status)
      .withColumn("changed_cols",
        when(col("status") === "changed", changed).otherwise(lit("")))
      .filter(col("status") =!= "changed" || col("changed_cols") =!= "")
      .select(keys.map(col) :+ col("status") :+ col("changed_cols"): _*)
  }

  /** Late-arriving data — ref :191-229 handle_late_arriving_data: rows
    * at or before the current watermark are late. Returned as a flag
    * column (filter on it to split; a streaming pipeline would use the
    * native watermark instead — see graft.streaming).
    */
  def flagLate(df: DataFrame, watermarkCol: String, currentWatermark: Any,
               flag: String = "is_late"): DataFrame =
    df.withColumn(flag, col(watermarkCol) <= lit(currentWatermark))

  /** Apply CDC events — ref :438-466 apply_cdc_changes. `cdc` carries
    * the target's columns plus an operation column (I/U/D) and a
    * sequence ordering; only the LATEST event per key applies:
    *   - latest D: key removed
    *   - latest I/U: row replaced/inserted with the event's values
    *   - untouched keys: target row kept
    */
  def applyCdc(target: DataFrame, cdc: DataFrame, keys: Seq[String],
               opCol: String, newestFirst: Seq[Column]): DataFrame = {
    val latest = dedupLatestBy(cdc, keys, newestFirst)
    val survivors = target.join(latest.select(keys.map(col): _*), keys, "left_anti")
    val applied = latest.filter(upper(col(opCol)) =!= "D")
      .select(target.columns.map(col): _*)
    survivors.unionByName(applied)
  }

  /** Mergeable distinct-count maintenance: one HLL sketch per group
    * (Spark's built-in DataSketches HllSketch agg), persistable as a
    * binary column. The 100 TB use: computing "distinct users per
    * day" exactly needs re-scanning all history on every load;
    * sketches make it INCREMENTAL — each run sketches only its own
    * slice (`distinctSketch`), appends the bytes, and any rollup over
    * any date range is a cheap union of kilobyte sketches
    * (`rollupDistinct`), never a rescan. Estimate error ~1.6% at the
    * default lgK=12 (spec-bounded against exact counts).
    */
  def distinctSketch(df: DataFrame, groupCols: Seq[String], keyCol: String,
                     lgConfigK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(keyCol), lit(lgConfigK)).as("key_sketch"))

  /** Union previously-materialized sketches up to a coarser grain and
    * estimate. `sketches` is any union of [[distinctSketch]] outputs
    * (overlapping slices are fine — that is the point of a sketch:
    * union is idempotent on duplicates of the same key).
    */
  def rollupDistinct(sketches: DataFrame, groupCols: Seq[String],
                     sketchCol: String = "key_sketch"): DataFrame = {
    val g = sketches.groupBy(groupCols.map(col): _*)
      .agg(hll_union_agg(col(sketchCol)).as("__u"))
    g.select(groupCols.map(col) :+
      hll_sketch_estimate(col("__u")).cast("long").as("approx_distinct"): _*)
  }

  /** Gap detection — ref :480-519 detect_data_gaps (watermark-history
    * semantics re-expressed over the data itself): consecutive distinct
    * watermark/sequence values whose delta exceeds
    * expectedStep × tolerance.
    *
    * Scale shape, ADAPTIVE: the distinct values are built once, pinned,
    * and their EXACT count picks the plan.
    *
    *  - ≤ `smallDistinct` distinct values (the watermark/day/batch
    *    case the reference targets): one ordered window over the
    *    distinct values — bounded input, cheapest plan. The pin is
    *    released before returning: that plan reads the distinct frame
    *    once.
    *  - more (dense ids, epoch seconds — billions of distinct values,
    *    where one partition holding them all is a scale killer):
    *    quantile edges of the DISTINCT values (immune to hot-value row
    *    skew) range-bucket them map-side (a flat codegen'd
    *    `value > edge` sum, monotone so bucket order matches value
    *    order), and `lag` runs per bucket. The bucket seams stitch from
    *    the per-bucket (min, max) aggregate: at most one row per bucket,
    *    so its unpartitioned window is free and links consecutive
    *    non-empty buckets. The bucket count grows with the distinct
    *    count past ~32M (`maxBuckets` is the floor) so each window
    *    partition stays bounded.
    *
    * Both plans produce identical output.
    */
  def gaps(df: DataFrame, seqCol: String, expectedStep: Double = 1.0,
           tolerance: Double = 1.5, maxBuckets: Int = 64,
           smallDistinct: Long = 1L << 20): DataFrame = {
    // The distinct frame is needed on EVERY path — build it once, pin
    // it, and route on its EXACT count. (r16: the previous HLL
    // probe paid a separate full scan of the RAW frame — 3.8 s of an
    // 8-10 s query at the sf10 gate — to approximate a number the
    // distinct shuffle yields for free; exact routing is also strictly
    // more stable at the threshold.) Cache ownership (r17): the BIG
    // path's pin is the caller's scope's, else the session's (it is
    // consumed by three downstream scans — quantile edges, in-bucket
    // window, seams); the SMALL path unpersists before returning — its
    // plan reads the distinct frame exactly once, so the cache would
    // buy nothing after the routing count, and a caller that opens no
    // scope would otherwise accumulate one dead cached frame per call.
    // Cost: the small path's consume recomputes the distinct (one
    // bounded shuffle) — the pre-r16 small-path cost exactly.
    val distinct = graft.GraftSession.pin(df.select(col(seqCol)).distinct())
    val card = distinct.count()
    def gapsOf(lagged: DataFrame): DataFrame = lagged
      .withColumn("gap", col(seqCol) - col("prev_val"))
      .filter(col("gap") > lit(expectedStep * tolerance))
      .select(col("prev_val"), col(seqCol).as("curr_val"), col("gap"))
    def smallPlan(distinct: DataFrame): DataFrame = {
      val w = Window.orderBy(col(seqCol)) // bounded input by the probe
      gapsOf(distinct.withColumn("prev_val", lag(col(seqCol), 1).over(w)))
    }
    if (card <= smallDistinct) {
      val plan = smallPlan(distinct)
      distinct.unpersist(blocking = false)
      plan
    } else {
      // bucket count scales with cardinality past ~32M distinct keys
      // (maxBuckets stays the floor): fixed buckets would grow each
      // window partition linearly with the corpus — per-task sort
      // memory is the 100x hazard, and bucket count is free (output
      // is exact under ANY bucketing; only edge-probe count changes)
      val buckets = math.max(maxBuckets,
        math.min(4096L, card / 500000L).toInt)
      // edges from the DISTINCT values, not the raw scan: a hot value
      // dominating the row count would collapse frequency-weighted
      // quantiles to one edge and re-create the single-partition window
      val probes = (1 until buckets).map(_.toDouble / buckets).toArray
      val edges = distinct.select(col(seqCol).cast("double").as(seqCol))
        .stat.approxQuantile(seqCol, probes, 0.001)
        .toSeq.distinct.sorted
      if (edges.isEmpty) smallPlan(distinct)
      else {
        val bucket = edges.map(e =>
          when(col(seqCol).cast("double") > lit(e), 1).otherwise(0)).reduce(_ + _)
        val bucketed = distinct.withColumn("__wb", bucket)
        // in-bucket gaps: ONE window over the distinct rows — the
        // first row of each bucket has a null prev and drops out of
        // gapsOf's filter; the bucket seams are stitched from the
        // per-bucket (min, max) aggregate below instead of doubling
        // every row into its successor bucket (the prior form — 2x
        // window input for information a buckets-row frame carries)
        val w = Window.partitionBy(col("__wb")).orderBy(col(seqCol))
        val inBucket = gapsOf(bucketed
          .withColumn("prev_val", lag(col(seqCol), 1).over(w)))
        // seam gaps: (max of bucket i, min of bucket i+1) — at most
        // `buckets` rows, so the unpartitioned window is free; links
        // consecutive NON-EMPTY buckets by construction
        val seamW = Window.orderBy(col("__wb"))
        val seams = bucketed.groupBy(col("__wb"))
          .agg(min(col(seqCol)).as("__lo"), max(col(seqCol)).as("__hi"))
          .withColumn("prev_val", lag(col("__hi"), 1).over(seamW))
          .filter(col("prev_val").isNotNull)
          .select(col("prev_val"), col("__lo").as(seqCol))
        inBucket.unionByName(gapsOf(seams))
      }
    }
  }
}
