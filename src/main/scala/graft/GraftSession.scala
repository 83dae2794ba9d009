package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session factory with the engine's standard configuration.
  *
  * Tuned for correctness-reproducibility and scale:
  *  - AQE on (runtime re-plan, skew-join splitting, shuffle coalescing)
  *  - shuffle partitions sized to the local core count (the driver's
  *    cluster submit would size this to executors × cores instead)
  *  - UTC session timezone (cross-engine timestamp parity)
  *  - nanos-as-long parquet reads (events.ts is TIMESTAMP(NANOS), which
  *    Spark has no native type for; Tables.load normalizes to micros)
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    common(SparkSession.builder().master(master))
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")

  /** Session builder for spark-submit entry points ([[graft.Run]]):
    * the standard engine configuration, but an externally supplied
    * master (`spark-submit --master` lands in the `spark.master`
    * system property) stays in charge — then shuffle partitions and
    * the UI are also left to the submit conf / Spark defaults (AQE
    * coalescing sizes the former at runtime). Only a bare JVM
    * invocation with no `spark.master` defaults to `local[cores]`
    * with local-sized shuffle partitions.
    */
  def forSubmit(localCores: Int): SparkSession.Builder =
    if (sys.props.contains("spark.master")) common(SparkSession.builder())
    else builder(s"local[$localCores]", localCores)

  private def common(b: SparkSession.Builder): SparkSession.Builder =
    b.appName("graft")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.sql.adaptive.enabled", "true")
      // Whole-stage-codegen COMPILED-CLASS cache (default 100 entries):
      // a long-lived session running a many-query workload (REPL,
      // server, the 232-query bench/verify harnesses) generates far
      // more than 100 codegen stages, so every re-planned query pays
      // janino compilation again — measured r20-opt: a 12-query
      // paired A/B at sf0.1 ran 25.6 s -> 19.1 s (0.75x) from this one
      // setting, with per-query drops up to 47% (q_anom_ensemble) on
      // multi-stage plans whose execution is milliseconds. Entries are
      // compiled classes (~KBs each); 8192 is ~tens of MB against the
      // driver heap, core-count- and scale-independent.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Naive parquet timestamp[us] (the current testdata events.ts)
      // must load as session-zoned TIMESTAMP, not TIMESTAMP_NTZ: event-
      // time operators (unix_micros, withWatermark) require TIMESTAMP,
      // and with the session TZ pinned UTC the reading is identical.
      // Tables.normalizeEventsTs additionally casts any NTZ column that
      // slips through (e.g. a user-supplied session without this conf).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** [[persistIfSmall]]'s default budget: 32 MiB on every host. */
  private[graft] val SmallPersistBytes: Long = 32L << 20

  /** Size-aware persist (r16): cache `df` only when the optimizer's
    * size estimate says it is a SMALL frame — re-derive it from the
    * scan otherwise. Resolves the r15 tension between two truths:
    * corpus-sized persists are exactly what a 100 TB input forbids
    * (dropping them was right at the sf10 gate), but at gate SFs where
    * the frame is a few MB, re-deriving it 2-3× is pure waste (the
    * committed r15 bench paid +1.9 s on q_anom_lof alone for a cache
    * the input trivially afforded).
    *
    * The estimate is `optimizedPlan.stats.sizeInBytes` — for the
    * scan-derived frames this is meant for, a file-size-based figure
    * (driver-side, no job). The budget is [[SmallPersistBytes]],
    * 32 MiB, set by r16's A/B measurement of the LOF/ocsvm consumers
    * under the 32 g bench JVM: at sf0.1 the cache saves ~2 s/query, at
    * sf1 it is a wash, and at sf10 (estimates 50-300 MB) materializing
    * the deserialized cache costs MORE than the codegen'd kernel
    * re-derivations it saves (+2 s/query measured) — so the budget
    * sits just above the win region, and a 100 TB-shaped input
    * (estimate ≫ budget by orders of magnitude) can never qualify.
    * A fixed constant, not a share of the host's heap, so every JVM
    * plans the same frame the same way. Override with
    * `spark.graft.smallPersistBytes` (set ≤ 0 to disable persisting
    * entirely — the pure re-derive shape, spec-pinned equal).
    */
  def persistIfSmall(df: DataFrame): DataFrame =
    if (isSmall(df)) pin(df) else df

  /** The [[persistIfSmall]] decision, exposed: true iff the
    * optimizer's size estimate fits the small-frame budget. Callers
    * that would restructure a plan ONLY to serve a cached frame (e.g.
    * a pre-cache fan-out repartition) gate on this so the
    * restructuring and the cache always travel together — fanning a
    * frame that will NOT be cached just inserts a full-row exchange in
    * front of every consumer (measured r20-opt: q_anom_ocsvm at sf10,
    * 1.4x). */
  def isSmall(df: DataFrame): Boolean = {
    val budget = df.sparkSession.conf
      .getOption("spark.graft.smallPersistBytes").map(_.trim.toLong)
      .getOrElse(SmallPersistBytes)
    budget > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= budget
  }

  /** Pins released together: [[pin]] records a frame in the innermost
    * scope open on its thread ([[PinScope.within]]), and `close()`
    * releases them once; a second close does nothing. */
  final class PinScope extends AutoCloseable {
    private[GraftSession] val releases =
      new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    private val closed = new java.util.concurrent.atomic.AtomicBoolean(false)

    /** Run `body` with this scope innermost on the current thread. */
    def within[A](body: => A): A = {
      val outer = open.get
      open.set(this :: outer)
      try body finally open.set(outer)
    }

    def close(): Unit = if (closed.compareAndSet(false, true)) releases.forEach(_())
  }

  private val open = ThreadLocal.withInitial[List[PinScope]](() => Nil)
  private def own(release: () => Unit): Unit =
    open.get.headOption.foreach(_.releases.add(release))

  /** Run `body` in a fresh scope, released however `body` ends. */
  def scoped[A](body: => A): A = {
    val scope = new PinScope
    try scope.within(body) finally scope.close()
  }

  /** Persist `df` (Spark's default level), owned by the innermost open
    * scope, else by the session ([[releaseAll]]). A plan already cached
    * is read, not owned, so a close never drops someone else's cache. */
  def pin(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else { own(() => df.unpersist(blocking = false)); df.persist() }

  /** Own an eager `localCheckpoint` that outlives its operator, as [[pin]] does. */
  private[graft] def ownCheckpoint(cp: DataFrame): DataFrame = { own(() => releaseCheckpoint(cp)); cp }

  /** Drop a `localCheckpoint`'s blocks (no-op on any other frame). */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit = Some(df.queryExecution.analyzed)
    .collect { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false) }

  /** A cached frame's bytes as measured when an action loaded it (None
    * when `df` is not cached or not loaded yet). */
  private[graft] def cachedBytes(df: DataFrame): Option[Long] = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.sharedState.cacheManager.lookupCachedData(session, df.queryExecution.analyzed)
      .map(_.cachedRepresentation.cacheBuilder).filter(_.isCachedColumnBuffersLoaded)
      .map(_.sizeInBytesStats.value.longValue)
  }

  /** Release every cached frame and persistent RDD in the session.
    *
    * The ownership rule: every cache the engine takes is a [[pin]] (or
    * an [[ownCheckpoint]]) and belongs to the innermost [[PinScope]]
    * open on its thread. `Job.run` runs in a scope its `Job.Result`
    * owns, and every engine `foreachBatch` body in its own scope, closed
    * after the batch's writes. A pin made with no scope open belongs to
    * the session: a long-lived session that opens no scope (REPL,
    * server, a harness looping over queries) MUST call this between
    * units of work, or the accumulated blocks eventually evict and
    * GC-thrash every later query. `clearCache()` drops catalog-tracked
    * Dataset persists; the RDD sweep additionally drops localCheckpoint
    * blocks, which the catalog does not track.
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // The IVF quantizer memo (Ivf.trainAutoCached) is a driver-JVM map
    // keyed on the corpus path — invalidation-correct, but it outlives
    // Spark's caches, so a harness that loops over queries with
    // releaseAll isolation would pay Lloyd training only on the first
    // pass and report amortized numbers as if they were cold (r20
    // verdict: bench min-of-3 never included training on ~8 IVF-family
    // rows). releaseAll IS the isolation boundary, so the memo clears
    // here with everything else; within one unit of work the memo still
    // amortizes training across every IVF consumer of the same corpus.
    graft.llm.Ivf.clearIndexCache()
    TempDirs.sweep()
    // Broadcasts and shuffle files are reclaimed by ContextCleaner only
    // after their references are GC'd on the driver; with a large heap
    // that can lag many queries behind, so cleanup IO lands in the
    // middle of later work. Forcing a GC at the release boundary keeps
    // the reclaim there instead.
    System.gc()
  }
}

/** Scratch directories, deleted by ONE static JVM shutdown hook — not
  * one hook per invocation, which grew the JVM's hook list and the temp
  * volume without bound in a long-lived REPL/server session.
  *  - per-invocation dirs ([[register]]: a query's target, checkpoint
  *    or history copy, anything whose returned frame reads the path
  *    lazily) are also reclaimed eagerly: `sweep()` (called from
  *    GraftSession.releaseAll, i.e. at every between-units-of-work
  *    boundary) deletes all but the most recently registered dir, which
  *    may still back a live lazily-read frame from the current unit of
  *    work;
  *  - session-lifetime dirs ([[registerForExit]]: a ledger or table
  *    that repeated invocations reuse) are deleted at exit only.
  */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val lifetime = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      Seq(dirs, lifetime).foreach { q => q.forEach(p => rm(p.toFile)); q.clear() }
    }))
  }
  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** Register a scratch dir for shutdown-time (and sweep-time) deletion. */
  def register(p: java.nio.file.Path): java.nio.file.Path = {
    hook; dirs.add(p); p
  }

  /** Register a session-lifetime dir: deleted at shutdown, never by
    * `sweep()`. */
  private[graft] def registerForExit(p: java.nio.file.Path): java.nio.file.Path = {
    hook; lifetime.add(p); p
  }

  /** Delete every registered dir except the newest (still potentially
    * referenced by the current unit of work's lazy frame). */
  def sweep(): Unit = {
    while (dirs.size > 1) {
      val p = dirs.poll()
      if (p != null) rm(p.toFile)
    }
  }

  /** Visible for specs: number of dirs currently registered. */
  private[graft] def pending: Int = dirs.size
}
