package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Commit-versioned parquet table — the data-plane semantics behind
  * the reference's `delta_lake` incremental strategy
  * (incremental_load_manager.py:786 _extract_delta_lake, a placeholder
  * that logs "not yet implemented"), re-expressed as the transaction-
  * log design the lakehouse formats publish (Delta's `_delta_log`,
  * Iceberg's snapshot manifests): data files are invisible until a
  * numbered manifest references them, so "give me rows since version
  * V" is a METADATA answer — readers open exactly the delta's files,
  * never scanning or filtering the full table. That file-level pruning
  * is the scale story: a 100 TB table with a 1 GB daily delta reads
  * 1 GB, where even a perfectly pushed-down predicate scan still
  * visits every file's footer.
  *
  * Layout: `<dir>/part-<uuid>.parquet` data files plus
  * `<dir>/_graft_log/<%020d>.manifest` commit files. A manifest lists
  * its data files (relative names, one per line) between a header and
  * an `#end` terminator. Since r16 a manifest is written IN FULL to a
  * hidden temp name under `_graft_log` and then published into its
  * version slot by an atomic no-overwrite primitive
  * ([[CommitLocker]]): a slot either does not exist or holds a
  * complete manifest — there is no visible create-then-write window,
  * and a failed publish leaves only hidden temp debris (reclaimed by
  * [[vacuum]]), never a half-visible or double-published commit.
  * The publish primitive is scheme-aware: POSIX hard-link (link(2)
  * atomically fails on an existing target — the local Hadoop rename
  * only guards with a non-atomic exists() pre-check over rename(2),
  * which REPLACES, so racing renames have a lost-commit window) for
  * `file:`, no-overwrite rename for HDFS-like schemes, and an
  * EXPLICIT REFUSAL on object stores (s3/gs/abfs/...), whose rename
  * is copy+delete with no exclusivity — install a [[setCommitLocker]]
  * conditional-put / lock-service hook to commit there.
  *
  * Reader visibility rule: the readable table is the longest COMPLETE
  * prefix of versions. Writers never publish incomplete slots, so an
  * incomplete manifest can only be legacy or externally damaged
  * (torn copy); readers keep the defensive rule: younger than
  * [[staleClaimMs]] → treat as in-flight and stop before it, older →
  * skip it. The same two-phase visibility discipline as
  * [[graft.incremental.WatermarkStore.compact]].
  *
  * Writer replay safety: `commit(df, dir, txnId = Some(id))` is
  * idempotent — a txn id already recorded by a complete manifest
  * returns that version without writing anything (the lakehouse
  * "transactional writer" contract; a retried job cannot double-append
  * its batch).
  */
object VersionedTable {

  /** An incomplete manifest older than this is damage/legacy debris:
    * skipped by readers, its files reclaimable by [[vacuum]]. (r16
    * writers publish slots atomically-complete, so this is purely a
    * defensive reader rule; it also ages hidden temp manifests out of
    * `_graft_log` in [[vacuum]].)
    */
  val staleClaimMs: Long = 10 * 60 * 1000L

  private val logDirName = "_graft_log"
  private val header = "#graft-versioned-manifest"
  private val endMark = "#end"
  private val txnPrefix = "#txn:"
  // the private names under `_graft_log`: a commit's temp manifest and
  // a [[FileLeaseLocker]]'s lease, both reclaimed by [[vacuum]]
  private val tempSuffix = ".tmp"
  private val leaseSuffix = ".lease"

  /** Exclusive atomic publish: move the fully written `tmp` manifest
    * into the contended version `slot`. MUST return true iff the slot
    * now holds tmp's content AND no other publisher can have succeeded
    * on the same slot; MUST leave an existing slot untouched and
    * return false. `tmp` may remain on either outcome (the committer
    * cleans it up). Install a custom locker ([[setCommitLocker]]) for
    * object stores: back it with the store's conditional put
    * (If-None-Match) or an external lock service.
    */
  trait CommitLocker {
    def publish(fs: FileSystem, tmp: Path, slot: Path): Boolean
  }

  @volatile private var customLocker: Option[CommitLocker] = None

  /** Install / clear the commit publish primitive (JVM-global; specs
    * and connector integrations only — the scheme-aware default covers
    * HDFS-like and local filesystems).
    */
  def setCommitLocker(l: CommitLocker): Unit = customLocker = Some(l)
  def clearCommitLocker(): Unit = customLocker = None

  /** Reference [[CommitLocker]] for filesystems with NO atomic
    * no-overwrite primitive at all: lease-file arbitration using only
    * `create`/`open`/`delete`/`getFileStatus`.
    *
    * Protocol, per publish attempt on a contended `slot`:
    *  1. WAIT (bounded by `waitMs`) while a FRESH foreign lease
    *     (`.<slot>.lease`, younger than `staleLeaseMs`) exists — its
    *     holder is mid-publish; a stale lease is a crashed holder and
    *     is stolen (deleted) on claim.
    *  2. CLAIM: write our fencing token (a UUID) into the lease file
    *     (a plain last-writer-wins overwrite — no atomicity assumed),
    *     sleep `settleMs`, then READ THE LEASE BACK. Our token still
    *     there → we hold the lease; any other token → a racer
    *     overwrote us and we lost (return false; the commit loop
    *     re-lists and retries).
    *  3. PUBLISH under the lease: if the slot already exists → lose;
    *     else copy the manifest bytes into the slot and read the slot
    *     back — publish succeeded only if the read-back equals what we
    *     wrote (a torn/overwritten slot reads as a loss and becomes
    *     stale-claim debris the readers already skip and [[vacuum]]
    *     reclaims).
    *  4. RELEASE: delete the lease only if it STILL carries our token
    *     (the fencing check — a stale-steal must not lose the
    *     thief's lease).
    *
    * Safety assumptions — read them before trusting this on a real
    * object store: the write-then-settle-then-read-back arbitration is
    * sound only when (a) the store is read-after-write consistent
    * (S3 is, since 2020) and (b) two racers' claim writes land within
    * `settleMs` of each other's read-backs — i.e. `settleMs` must
    * exceed the store's worst-case write-visibility delay, and a
    * publisher pausing longer than `staleLeaseMs` mid-publish (GC,
    * network partition) can have its lease stolen. This is the
    * honest floor for a store with no primitives; a store WITH a
    * conditional put should use it directly instead — the S3 recipe:
    * `publish` = one `PutObject` of the manifest bytes to the slot key
    * with `If-None-Match: *`, return true on 200, false on 412
    * (precondition failed = slot taken); no lease, no settle, no
    * steal — the store's own CAS is strictly stronger than this class.
    */
  final class FileLeaseLocker(settleMs: Long = 100L,
                              staleLeaseMs: Long = 60000L,
                              waitMs: Long = 30000L) extends CommitLocker {
    private def readSmall(fs: FileSystem, p: Path): Option[String] =
      try Some(graft.Recovery.readText(fs, p))
      catch { case _: java.io.IOException => None }

    override def publish(fs: FileSystem, tmp: Path, slot: Path): Boolean = {
      val lease = graft.Recovery.privatePath(slot.getParent, slot.getName + leaseSuffix)
      val token = java.util.UUID.randomUUID().toString
      val deadline = System.currentTimeMillis() + waitMs
      // 1. wait out a fresh foreign lease; steal a stale one
      var leaseBlocked = true
      while (leaseBlocked) {
        val fresh = try {
          val st = fs.getFileStatus(lease)
          System.currentTimeMillis() - st.getModificationTime < staleLeaseMs
        } catch { case _: java.io.FileNotFoundException => false }
        if (!fresh) leaseBlocked = false
        else if (System.currentTimeMillis() >= deadline)
          throw new java.io.IOException(
            s"gave up after ${waitMs}ms waiting for commit lease $lease " +
              "(holder alive, or staleLeaseMs too long for this workload)")
        else Thread.sleep(50L)
      }
      if (fs.exists(slot)) return false // published while we waited
      // 2. claim by write + settle + read-back
      // a plain overwrite; no atomicity assumed
      graft.Recovery.writeText(fs, lease, token)
      Thread.sleep(settleMs)
      if (!readSmall(fs, lease).contains(token)) return false // outraced
      try {
        // 3. publish under the lease, verified by read-back
        if (fs.exists(slot)) false
        else {
          val body = readSmall(fs, tmp).getOrElse(
            throw new java.io.IOException(s"commit temp manifest $tmp unreadable"))
          graft.Recovery.writeText(fs, slot, body)
          readSmall(fs, slot).contains(body)
        }
      } finally {
        // 4. fenced release: never delete a lease a thief now holds
        if (readSmall(fs, lease).contains(token)) fs.delete(lease, false)
      }
    }
  }

  /** Schemes whose FileSystem rename/create primitives give NO
    * exclusivity (rename = server-side copy + delete; create cannot
    * refuse an existing key atomically): committing there without a
    * custom [[CommitLocker]] could silently drop a racing commit, so
    * it is refused instead.
    */
  private val nonAtomicSchemes = Set(
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss",
    "cos", "cosn", "swift")

  /** Default publish primitive by scheme. Local POSIX uses link(2)
    * (atomic, fails on an existing target — the one SPECIFIED
    * no-overwrite primitive the local filesystem has; Hadoop's local
    * rename guards a REPLACING rename(2) with a non-atomic exists()
    * pre-check, leaving a TOCTOU window where two racers both succeed
    * and one commit vanishes). HDFS-like schemes use the FileSystem
    * rename contract: no-overwrite, atomic within a directory.
    */
  private def defaultPublish(fs: FileSystem, tmp: Path, slot: Path): Boolean = {
    val scheme = Option(slot.toUri.getScheme).getOrElse(
      Option(fs.getUri.getScheme).getOrElse("file"))
    if (scheme.equalsIgnoreCase("file") || scheme.equalsIgnoreCase("local")) {
      val tmpFile = java.nio.file.Paths.get(tmp.toUri.getPath)
      val slotFile = java.nio.file.Paths.get(slot.toUri.getPath)
      try { java.nio.file.Files.createLink(slotFile, tmpFile); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // mounts without hard-link support (FAT/exFAT, some network or
        // overlay filesystems) — surface the cause and the remedy
        // instead of crashing opaque; do NOT fall back to the TOCTOU
        // exists()+rename, which is exactly the race link(2) closes
        case e @ (_: UnsupportedOperationException |
                  _: java.nio.file.FileSystemException) =>
          throw new java.io.IOException(
            s"local commit publish needs hard-link support at $slotFile " +
              "(link(2) is the filesystem's only atomic no-overwrite " +
              "primitive); this mount refused it — install an exclusive " +
              "publish hook via VersionedTable.setCommitLocker (e.g. " +
              "FileLeaseLocker) to commit here", e)
      }
    } else {
      // fast-path existence probe; the rename itself is the arbiter
      // (HDFS rename refuses an existing destination atomically)
      !fs.exists(slot) && fs.rename(tmp, slot)
    }
  }

  private def publish(fs: FileSystem, tmp: Path, slot: Path): Boolean =
    customLocker.fold(defaultPublish(fs, tmp, slot))(_.publish(fs, tmp, slot))

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(dir: String): Path = new Path(dir, logDirName)

  private def manifestPath(dir: String, v: Long): Path =
    new Path(logDir(dir), f"$v%020d.manifest")

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.endsWith(".manifest"))
      n.stripSuffix(".manifest").toLongOption.filter(_ >= 0)
    else None
  }

  private final case class Manifest(version: Long, files: Seq[String],
                                    txnId: Option[String], complete: Boolean,
                                    modTime: Long)

  /** Every claimed manifest, parsed, ascending by version — bounded
    * driver-side metadata (one small file per commit).
    */
  private def manifests(fs: FileSystem, dir: String): Seq[Manifest] = {
    val ld = logDir(dir)
    if (!fs.exists(ld)) return Seq.empty
    fs.listStatus(ld).toSeq
      .flatMap(st => versionOf(st.getPath).map(v => (v, st)))
      .sortBy(_._1)
      .map { case (v, st) =>
        val lines = graft.Recovery.readText(fs, st.getPath).linesIterator.toList
        Manifest(v,
          lines.filterNot(_.startsWith("#")).filter(_.nonEmpty),
          lines.find(_.startsWith(txnPrefix)).map(_.stripPrefix(txnPrefix)),
          lines.lastOption.contains(endMark),
          st.getModificationTime)
      }
  }

  /** The readable prefix: complete manifests up to (not through) the
    * first in-flight claim; stale incomplete claims are crashed
    * commits and are skipped.
    */
  private def readable(fs: FileSystem, dir: String,
                       now: Long = System.currentTimeMillis()): Seq[Manifest] = {
    val out = Seq.newBuilder[Manifest]
    var stop = false
    manifests(fs, dir).foreach { m =>
      if (!stop) {
        if (m.complete) out += m
        else if (now - m.modTime < staleClaimMs) stop = true // in-flight
        // else: stale claim — crashed commit, skip and keep reading
      }
    }
    out.result()
  }

  /** Newest readable version; None for an empty or nonexistent table. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    readable(fsOf(spark, new Path(dir)), dir).lastOption.map(_.version)

  /** Append `df` as one atomic commit; returns the published version
    * (versions start at 1). With `txnId`, a replayed commit whose id a
    * complete manifest already records is a no-op returning the
    * original version. Data files stage into a hidden dir and rename
    * into place BEFORE the manifest publishes — a crash leaves only
    * invisible debris, never a half-visible commit.
    */
  def commit(df: DataFrame, dir: String,
             txnId: Option[String] = None): Long = {
    val spark = df.sparkSession
    val root = new Path(dir)
    // the EFFECTIVE scheme, resolved the same way defaultPublish will:
    // a scheme-less path inherits fs.defaultFS, so with defaultFS on an
    // object store the refusal must still fire for bare paths
    val scheme = Option(root.toUri.getScheme)
      .orElse(Option(fsOf(spark, root).getUri.getScheme))
    require(customLocker.nonEmpty ||
        !scheme.exists(s => nonAtomicSchemes.contains(s.toLowerCase)),
      s"versioned commits to scheme '${scheme.getOrElse("")}' have no atomic " +
        "no-overwrite publish primitive (rename is copy+delete there): install " +
        "a conditional-put/lock-service hook via VersionedTable.setCommitLocker " +
        "before committing to an object store")
    val fs = fsOf(spark, root)
    val replayed = txnId.flatMap(id =>
      manifests(fs, dir).find(m => m.complete && m.txnId.contains(id)))
    if (replayed.nonEmpty) return replayed.get.version
    val stamp = java.util.UUID.randomUUID().toString
    val staging = graft.Recovery.privatePath(root, s"__vt_stage_$stamp")
    df.write.parquet(staging.toString)
    val names = try {
      val parts = fs.listStatus(staging).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      parts.zipWithIndex.map { case (st, i) =>
        val name = s"part-$stamp-$i.parquet"
        val target = new Path(root, name)
        if (!fs.rename(st.getPath, target))
          throw new java.io.IOException(s"could not publish data file $target")
        name
      }
    } finally fs.delete(staging, true)
    fs.mkdirs(logDir(dir))
    // the manifest body lands IN FULL on a hidden temp name first; the
    // version slot is then claimed by the atomic no-overwrite publish —
    // a slot is never visible incomplete, a crash here leaves only
    // hidden debris (vacuumed later), and a failed close() aborts the
    // commit instead of re-publishing the same file list under the
    // next slot (the pre-r16 create-then-write loop did exactly that
    // when close() failed after the content was fully written)
    val body = (header +: txnId.map(txnPrefix + _).toSeq) ++ names :+ endMark
    val tmp = graft.Recovery.privatePath(logDir(dir), s"m-$stamp$tempSuffix")
    graft.Recovery.writeText(fs, tmp, body.mkString("\n") + "\n")
    try {
      // CAS loop: claim the next unclaimed version slot; losing just
      // means someone else published that version — re-list, retry
      var attempt = 0
      while (true) {
        attempt += 1
        require(attempt <= 1000, s"could not claim a commit version under $dir")
        val next = manifests(fs, dir).lastOption.fold(1L)(_.version + 1)
        if (publish(fs, tmp, manifestPath(dir, next))) return next
      }
      -1L // unreachable
    } finally fs.delete(tmp, false) // no-op if the publish moved it
  }

  private def filesOf(dir: String,
                      ms: Seq[Manifest]): Seq[String] =
    ms.flatMap(_.files).map(n => new Path(new Path(dir), n).toString)

  /** The rows of `delta`'s files, or an empty frame when it has none.
    * The schema is one driver-side footer read (of the delta's first
    * file, else the table's), so building the frame runs no schema
    * inference job.
    */
  private def frameOf(spark: SparkSession, dir: String, all: Seq[Manifest],
                      delta: Seq[Manifest]): DataFrame = {
    val files = filesOf(dir, delta)
    val head = new Path((files ++ filesOf(dir, all)).headOption.getOrElse(
      throw new IllegalArgumentException(s"versioned table at $dir has no committed data")))
    val schema = SmallParquet.footerSchema(spark, fsOf(spark, head).getFileStatus(head))
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files: _*)
  }

  /** The whole table at its newest readable version. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val all = readable(fsOf(spark, new Path(dir)), dir)
    frameOf(spark, dir, all, all)
  }

  /** Rows committed STRICTLY AFTER `sinceVersion` — the incremental
    * delta, read file-first (only the delta's files open). `-1` (or
    * any version below the first) reads everything.
    */
  def readSince(spark: SparkSession, dir: String,
                sinceVersion: Long): DataFrame = {
    val all = readable(fsOf(spark, new Path(dir)), dir)
    frameOf(spark, dir, all, all.filter(_.version > sinceVersion))
  }

  /** Delete data files no complete manifest references (crashed-commit
    * debris), but only those older than [[staleClaimMs]] and only when
    * no in-flight claim exists — an in-flight commit's files are
    * already renamed into place before its manifest publishes.
    * Returns the number of files removed.
    */
  def vacuum(spark: SparkSession, dir: String,
             now: Long = System.currentTimeMillis()): Int = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return 0
    val ms = manifests(fs, dir)
    if (ms.exists(m => !m.complete && now - m.modTime < staleClaimMs)) return 0
    val referenced = ms.filter(_.complete).flatMap(_.files).toSet
    val dataRemoved = fs.listStatus(root).toSeq.count { st =>
      val n = st.getPath.getName
      st.isFile && graft.Recovery.dataFile(n) &&
        !referenced.contains(n) && now - st.getModificationTime >= staleClaimMs &&
        fs.delete(st.getPath, false)
    }
    // crashed commits can also strand hidden temp manifests (and, with
    // a FileLeaseLocker, lease files for slots never re-contended)
    val ld = logDir(dir)
    val tmpRemoved =
      if (!fs.exists(ld)) 0
      else fs.listStatus(ld).toSeq.count { st =>
        st.isFile &&
          graft.Recovery.privateName(st.getPath)
            .exists(n => n.endsWith(tempSuffix) || n.endsWith(leaseSuffix)) &&
          now - st.getModificationTime >= staleClaimMs &&
          fs.delete(st.getPath, false)
      }
    dataRemoved + tmpRemoved
  }
}
