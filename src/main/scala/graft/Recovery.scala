package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Failure recovery, Spark-style: the reference's `ErrorRecovery`
  * (reference: src/utils/error_recovery.py) tracks checkpoints in a
  * bookkeeping DB so a rerun can resume mid-pipeline. On Spark the
  * equivalent guarantee is simpler and stronger: every stage output is
  * written new-state-then-atomic-swap, so a rerun of ANY stage is
  * idempotent — there is no partial state to resume from, only
  * complete versions. (Streaming jobs get the same property from
  * checkpointed offsets + these idempotent sinks — see
  * [[graft.streaming.Streams]].) Every swap — a directory here, the
  * IVF index descriptor file in [[graft.llm.Ivf.saveIndex]] — runs
  * through [[swap]] and [[heal]], stages and retires in hidden
  * siblings of its target, and only this object builds or parses
  * their names; [[slices]] is the one reader of a root written
  * slice by slice. Torn state under the visible sibling names earlier
  * versions used still heals. The engine's other hidden files are
  * this object's too: what Spark's listing sees ([[hidden]],
  * [[dataFiles]]), every private name ([[privatePath]]) and the small
  * text files kept beside the data ([[readText]], [[writeText]]).
  */
object Recovery {

  /** Write `df` to `path` atomically: materialize to the hidden staging
    * sibling `parent/.name__staging`, retire the old target to
    * `parent/.name__old`, promote staging, drop the retiree. Spark's
    * file listing and partition discovery skip dot-prefixed paths, so
    * neither transient directory is ever visible to a reader: a plain
    * `spark.read.parquet` of the enclosing dataset (a `run_id=` or
    * `batch_id=` slice root, a hive tree) never sees a staged or
    * retired copy as a bogus partition value with duplicated rows.
    * A complete state always exists on disk: a crash before promotion
    * leaves the old target in place (at `path` or, in the one-rename
    * window, at the retiree); [[restoreIfTorn]] heals that window on
    * the next run. (A bare delete-then-rename would lose the target
    * entirely if the writer died between the two calls.) `options`
    * reach the writer (text formats need e.g. header/delimiter).
    */
  def idempotentWrite(df: DataFrame, path: String, format: String = "parquet",
                      options: Map[String, String] = Map.empty): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    swap(fsOf(df.sparkSession, target), target) { tmp =>
      df.write.format(format).options(options).mode("overwrite").save(tmp.toString)
    }
  }

  /** Heal the one-rename crash window of [[idempotentWrite]]: target
    * missing but a retiree (or a COMPLETE staging dir, marked by its
    * _SUCCESS commit file) still present. Prefers the staged new state
    * — it only reaches that window after a fully committed write.
    * Also heals the visible `name__staging`/`name__old` siblings
    * earlier versions swapped through, so torn state they left still
    * recovers. No-op when the target exists.
    */
  def restoreIfTorn(spark: SparkSession, path: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    heal(fsOf(spark, target), target)
  }

  /** Replace `target` — a directory or a single file — by rename; the
    * one swap for everything the engine publishes that way: `stage`
    * writes the new state to the hidden staging sibling, the old
    * target retires to the hidden retiree, staging is promoted and the
    * retiree dropped. A promote that lost its race to a concurrent
    * [[heal]] (which promoted this very staging) counts as done; any
    * other promote that returns false rolls the retiree back and
    * throws.
    */
  private[graft] def swap(fs: org.apache.hadoop.fs.FileSystem,
                          target: org.apache.hadoop.fs.Path)
                         (stage: org.apache.hadoop.fs.Path => Unit): Unit = {
    val (tmp, old) = siblings(target)
    fs.delete(tmp, true)
    stage(tmp)
    fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"could not retire old state: $target -> $old")
    if (!promote(fs, tmp, target)) {
      // roll back so a complete state stays readable; a failed
      // rollback must surface too — the retiree is the only copy left
      if (fs.exists(old) && !fs.rename(old, target))
        throw new java.io.IOException(
          s"atomic swap failed AND rollback failed: state is at $old, not $target")
      throw new java.io.IOException(s"atomic swap failed: $tmp -> $target")
    }
    fs.delete(old, true)
  }

  /** Restore a missing `target` from its hidden siblings, else from
    * the legacy visible ones; true when `target` exists afterwards. A
    * staged copy wins when `complete` accepts it (a directory: its
    * `_SUCCESS` commit file), else the retiree is restored.
    */
  private[graft] def heal(fs: org.apache.hadoop.fs.FileSystem,
                          target: org.apache.hadoop.fs.Path,
                          complete: (org.apache.hadoop.fs.FileSystem,
                                     org.apache.hadoop.fs.Path) => Boolean = committed)
      : Boolean =
    fs.exists(target) || Seq(siblings(target), legacySiblings(target)).exists {
      case (tmp, old) =>
        def from(src: org.apache.hadoop.fs.Path): Boolean = {
          if (!promote(fs, src, target))
            throw new java.io.IOException(s"heal failed: $src -> $target")
          true
        }
        if (complete(fs, tmp)) {
          // only drop the retiree once the promote actually landed — on
          // a failed rename the old copy may be the last complete state
          from(tmp)
          fs.delete(old, true)
          true
        } else fs.exists(old) && from(old)
    }

  /** Rename `src` onto `target`. A rename that fails — false, or a
    * FileNotFoundException for a `src` already moved — while `target`
    * exists afterwards was done by a concurrent healer: true.
    */
  private def promote(fs: org.apache.hadoop.fs.FileSystem,
                      src: org.apache.hadoop.fs.Path,
                      target: org.apache.hadoop.fs.Path): Boolean =
    try fs.rename(src, target) || fs.exists(target)
    catch { case _: java.io.FileNotFoundException if fs.exists(target) => true }

  private def committed(fs: org.apache.hadoop.fs.FileSystem,
                        dir: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))

  /** The healed, existing `key=value` slices directly under `root`
    * (qualified paths, sorted), keeping only values `keep` accepts —
    * the one reader of a slice root written slice by slice through
    * [[idempotentWrite]] (quarantine `run_id=` areas, stream
    * `batch_id=` roots). A torn slice shows only as a swap sibling, so
    * every sibling folds back to its slice name before the filter;
    * each kept slice is then healed, and one that heals to nothing (a
    * staging dir that never committed) is skipped. Empty when `root`
    * does not exist.
    */
  private[graft] def slices(spark: SparkSession, root: String, key: String)
                           (keep: String => Boolean = _ => true): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, rootPath)
    val prefix = s"$key="
    val children =
      if (fs.exists(rootPath)) fs.listStatus(rootPath).toSeq.map(_.getPath) else Nil
    val listed = children.map(_.toString).toSet
    children
      // hidden siblings, then the legacy visible ones
      .map(p => hiddenSwapTarget(p).orElse(unsuffixed(p, p.getName)).getOrElse(p))
      .filter(_.getName.startsWith(prefix))
      .map(_.toString).distinct.sorted
      // a listed slice exists; only one seen through a sibling needs a heal
      .filter(p => keep(p.substring(p.lastIndexOf('/') + 1 + prefix.length)) &&
        (listed(p) || heal(fs, new org.apache.hadoop.fs.Path(p))))
  }

  /** What a reader of a history `root` reads: its [[slices]], or else
    * `root` itself (healed) when it holds a Spark-visible entry — a
    * plain, un-sliced dataset. Empty when there is nothing to read: no
    * root, an empty one, or one holding only a slice that never
    * committed, which a parquet read of the root would fail on.
    */
  private[graft] def slicesOrRoot(spark: SparkSession, root: String,
                                  key: String): Seq[String] = {
    val found = slices(spark, root, key)()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, rootPath)
    if (found.nonEmpty || !heal(fs, rootPath)) found
    else fs.listStatus(rootPath).find(st => !hidden(st.getPath.getName)).map(_ => root).toSeq
  }

  // ---- the engine's hidden files ---------------------------------

  /** Spark's listing rule (`HadoopFSUtils.shouldFilterOutPathName`,
    * private to Spark), the one visibility rule of the engine: `.` and
    * `_` names are hidden, except parquet summary files and `_k=v`
    * partition directories, and so is an in-flight `._COPYING_` file.
    */
  private[graft] def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  /** A data file's name: visible, and no `_` summary file. */
  private[graft] def dataFile(name: String): Boolean =
    !hidden(name) && !name.startsWith("_")

  /** Every entry under `root` as Spark's listing descends the tree:
    * each visible directory is listed, and the hidden entries met on
    * the way are kept but never entered (empty when `root` does not
    * exist).
    */
  private[graft] def tree(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    (try fs.listStatus(root).toSeq catch { case _: java.io.FileNotFoundException => Nil })
      .flatMap { st =>
        if (st.isDirectory && !hidden(st.getPath.getName)) st +: tree(fs, st.getPath)
        else Seq(st)
      }

  /** The data files Spark reads under `root`, at any depth. */
  private[graft] def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    tree(fs, root).filter(st => st.isFile && dataFile(st.getPath.getName))

  /** `parent/.name`: the one builder of the engine's private names
    * (staging dirs, temp manifests, leases, retirement manifests),
    * hidden from Spark's listing by their dot. [[privateName]] parses
    * one back.
    */
  private[graft] def privatePath(parent: org.apache.hadoop.fs.Path,
                                 name: String): org.apache.hadoop.fs.Path =
    child(parent, "." + name)

  /** The `name` [[privatePath]] built `p` from; None for any other path. */
  private[graft] def privateName(p: org.apache.hadoop.fs.Path): Option[String] =
    Some(p.getName).filter(_.startsWith(".")).map(_.stripPrefix("."))

  /** The whole of a small UTF-8 file: a manifest, a descriptor, a lease. */
  private[graft] def readText(fs: org.apache.hadoop.fs.FileSystem,
                              p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** `text` as the whole of the small file `p`, replacing any there (a
    * plain create: atomic publication is the caller's rename).
    */
  private[graft] def writeText(fs: org.apache.hadoop.fs.FileSystem,
                               p: org.apache.hadoop.fs.Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def fsOf(spark: SparkSession,
                   p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    // the PATH's filesystem, never the default one: an s3a:// dataset
    // on an hdfs-default cluster must not resolve against HDFS
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def siblings(target: org.apache.hadoop.fs.Path)
      : (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = (
    privatePath(target.getParent, s"${target.getName}__staging"),
    privatePath(target.getParent, s"${target.getName}__old"))

  // a path-only child: a name holding ':' (a run id stamped with a
  // time) must not parse as a URI scheme
  private def child(parent: org.apache.hadoop.fs.Path, name: String) =
    new org.apache.hadoop.fs.Path(parent, new org.apache.hadoop.fs.Path(null, null, name))

  // the visible names earlier versions swapped through — read, never written
  private def legacySiblings(target: org.apache.hadoop.fs.Path)
      : (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = (
    new org.apache.hadoop.fs.Path(target.toString + "__staging"),
    new org.apache.hadoop.fs.Path(target.toString + "__old"))

  /** Parse a hidden swap-sibling name back to its target — the ONE
    * place [[siblings]]' naming is reversed (used by [[slices]] and by
    * the compaction sweep to discover torn leaves). None if `p` is not
    * a hidden swap dir.
    */
  private[graft] def hiddenSwapTarget(p: org.apache.hadoop.fs.Path)
      : Option[org.apache.hadoop.fs.Path] =
    privateName(p).flatMap(unsuffixed(p, _))

  private val swapSuffixes = Seq("__staging", "__old")

  /** `runId` when it can name one quarantine slice: a non-empty path
    * segment with no swap-sibling suffix, which [[slices]] would fold
    * into another run's slice name.
    */
  private[graft] def checkRunId(runId: String): String = {
    require(runId.nonEmpty && !runId.contains("/") && !swapSuffixes.exists(runId.endsWith),
      s"run_id must be a non-empty path segment not ending in __old or __staging, got '$runId'")
    runId
  }

  // strip exactly ONE suffix: a target whose own name ends in __old
  // (".k=legacy__old__staging") must not collapse twice
  private def unsuffixed(p: org.apache.hadoop.fs.Path, name: String)
      : Option[org.apache.hadoop.fs.Path] =
    swapSuffixes.collectFirst {
      case s if name.endsWith(s) =>
        child(p.getParent, name.stripSuffix(s))
    }

  /** Quarantine the failed side of a [[graft.quality.DQ.split]] —
    * ref error_recovery.py:345-376 quarantine_bad_records: persist the
    * bad rows with their failure reason and run id for later analysis
    * and reprocessing. Each run writes its own subdirectory
    * (`dir/run_id=<id>`), so the quarantine area is an append-only
    * dataset partitioned by run — and the per-run write itself is an
    * [[idempotentWrite]], so a retried run replaces its own slice
    * atomically instead of double-appending (the reference gets the
    * same property from its uuid quarantine_id per call).
    */
  def quarantine(quarantined: DataFrame, dir: String, runId: String): String = {
    val path = s"$dir/run_id=${checkRunId(runId)}"
    idempotentWrite(
      quarantined.withColumn("quarantined_at", org.apache.spark.sql.functions
        .current_timestamp()),
      path)
    path
  }

  /** Read quarantined rows back and push them through the rules again —
    * ref error_recovery.py:376 reprocess_quarantined_records. Rows that
    * now pass (after an upstream fix: reference-table refresh, rule
    * relaxation, source correction) come back on the clean side; rows
    * that still violate return to quarantine. `runId = None` reprocesses
    * the whole quarantine area, otherwise one run's slice.
    * Output: (clean-with-original-schema, still-bad-with-failed_rules);
    * the bookkeeping columns (`failed_rules`, `quarantined_at`,
    * `run_id`) are dropped before re-evaluation so the rules see the
    * original row shape.
    */
  def reprocess(spark: SparkSession, dir: String,
                rules: Seq[graft.quality.DQ.Rule],
                runId: Option[String] = None): (DataFrame, DataFrame) = {
    val paths = runId match {
      case Some(id) =>
        val p = s"$dir/run_id=$id"
        restoreIfTorn(spark, p)
        Seq(p)
      case None =>
        // whole-area read: ONLY the healed real slices, never a swap
        // sibling; a staging dir that never committed (crash
        // mid-write) heals to nothing and is skipped
        slices(spark, dir, "run_id")()
    }
    require(paths.nonEmpty, s"no quarantine slices under $dir")
    val raw = spark.read.option("basePath", dir).parquet(paths: _*)
      .drop("failed_rules", "quarantined_at", "run_id")
    graft.quality.DQ.split(raw, rules)
  }

  /** Run a stage only when its output doesn't exist yet (resume-safe
    * rerun of a multi-stage pipeline: completed stages are skipped,
    * the failed stage recomputes from its inputs). Heals a torn swap
    * from a previous crashed run before deciding.
    */
  def runStage(spark: SparkSession, path: String, format: String = "parquet")
              (stage: => DataFrame): DataFrame = {
    val target = new org.apache.hadoop.fs.Path(path)
    if (!heal(fsOf(spark, target), target))
      idempotentWrite(stage, path, format)
    spark.read.format(format).load(path)
  }

  // ---- retry / classification (ref error_recovery.py:157-257) -----

  /** Error taxonomy — ref :184 classify_error's four buckets. */
  sealed trait ErrorType
  case object Transient extends ErrorType
  case object Configuration extends ErrorType
  case object DataError extends ErrorType
  case object SystemError extends ErrorType
  case object Unknown extends ErrorType

  private val transientPatterns = Seq(
    "timeout", "connection lost", "connection reset", "connection refused",
    "lock timeout", "deadlock", "temporary failure", "service unavailable",
    "network", "socket", "http 5", "502", "503", "504")
  private val configPatterns = Seq(
    "invalid config", "missing credential", "permission denied",
    "access denied", "authentication failed", "unauthorized", "invalid key",
    "config error", "no such file", "file not found", "directory not found",
    "credentials provided")
  private val dataPatterns = Seq(
    "constraint violation", "foreign key", "unique constraint",
    "check constraint", "invalid format", "type mismatch", "value error",
    "data error", "parsing error", "validation error", "schema mismatch")
  private val systemPatterns = Seq(
    "out of memory", "disk full", "no space left", "database down",
    "server error", "internal error", "system error", "memory error",
    "ioerror", "oserror", "broken pipe")

  /** Classify by message/type substrings — ref :184-227 (same pattern
    * lists, same precedence: transient > config > data > system).
    */
  def classifyError(e: Throwable): ErrorType = {
    val msg = Option(e.getMessage).getOrElse("").toLowerCase
    val typ = e.getClass.getSimpleName.toLowerCase
    def hits(ps: Seq[String]) = ps.exists(p => msg.contains(p) || typ.contains(p))
    if (hits(transientPatterns)) Transient
    else if (hits(configPatterns)) Configuration
    else if (hits(dataPatterns)) DataError
    else if (hits(systemPatterns)) SystemError
    else Unknown
  }

  /** Retry policy — ref :229 should_retry: config/data never retry
    * (the rerun cannot heal them), system errors once, transient and
    * unknown always (within the attempt budget).
    */
  def shouldRetry(t: ErrorType, attempt: Int): Boolean = t match {
    case Configuration | DataError => false
    case SystemError => attempt < 1
    case Transient | Unknown => true
  }

  /** Backoff schedule — ref :242 calculate_backoff_delay: fixed or
    * exponential, capped. (The reference's jitter strategy draws from
    * `random`; a deterministic engine takes jitter from the caller if
    * wanted — the cap and growth are the load-shedding substance.)
    */
  def backoffDelayMs(attempt: Int, factor: Double = 2.0,
                     initialMs: Long = 1000L, maxMs: Long = 60000L,
                     exponential: Boolean = true): Long = {
    val d = if (exponential) initialMs * math.pow(factor, attempt) else initialMs.toDouble
    math.min(maxMs.toDouble, d).toLong
  }

  /** ref :157 execute_with_retry with the classification-aware policy
    * wired in: a non-retryable class rethrows immediately, retryable
    * ones back off and try again up to `maxRetries`.
    */
  def withRetry[T](maxRetries: Int = 3, backoffFactor: Double = 2.0,
                   initialDelayMs: Long = 1000L, maxDelayMs: Long = 60000L,
                   sleep: Long => Unit = Thread.sleep)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case scala.util.control.NonFatal(e) =>
          val cls = classifyError(e)
          if (attempt >= maxRetries || !shouldRetry(cls, attempt)) throw e
          sleep(backoffDelayMs(attempt, backoffFactor, initialDelayMs, maxDelayMs))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** ref :498 implement_fallback_strategy: try the primary, on any
    * failure try the fallback; if BOTH fail, the primary's error is
    * the one rethrown (the fallback's failure is secondary context).
    */
  def withFallback[T](primary: => T)(fallback: => T): T =
    try primary
    catch {
      case scala.util.control.NonFatal(pe) =>
        try fallback
        catch { case scala.util.control.NonFatal(fe) =>
          pe.addSuppressed(fe); throw pe }
    }
}
