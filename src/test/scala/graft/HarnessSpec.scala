package graft

/** Harness plumbing: TempDirs scratch-dir lifecycle and the bench's
  * plan fingerprinting (both exist so the DRIVER's artifacts stay
  * diagnosable — regressions here corrupt round-over-round evidence,
  * not query results).
  */
class HarnessSpec extends SparkSpec {

  test("TempDirs sweeps every registered dir except the newest") {
    val a = TempDirs.register(java.nio.file.Files.createTempDirectory("graft_td_a"))
    val b = TempDirs.register(java.nio.file.Files.createTempDirectory("graft_td_b"))
    assert(a.toFile.exists && b.toFile.exists)
    TempDirs.sweep()
    // a (and anything older from other specs) is reclaimed; the newest
    // registration survives — it may back a live lazily-read frame
    assert(!a.toFile.exists, "older scratch dir should be deleted by sweep")
    assert(b.toFile.exists, "newest scratch dir must survive sweep")
    assert(TempDirs.pending == 1)
    // repeated invocations stay bounded: register N more, sweep → 1
    val more = (1 to 5).map(i =>
      TempDirs.register(java.nio.file.Files.createTempDirectory(s"graft_td_$i")))
    TempDirs.sweep()
    assert(TempDirs.pending == 1)
    assert(more.init.forall(!_.toFile.exists) && more.last.toFile.exists)
  }

  test("a query's scratch dir is reclaimed at the next releaseAll after a later query") {
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def jobDirs(): Set[String] = Option(tmpRoot.list()).fold(Set.empty[String])(
      _.filter(_.startsWith("graft_jq")).toSet)
    val before = jobDirs()
    SparkEntry.queries("q_job_quarantine")(spark, TestSession.sfDir).count()
    val first = jobDirs() -- before
    assert(first.size == 1, s"expected one new scratch dir, got $first")
    SparkEntry.queries("q_job_quarantine_clean")(spark, TestSession.sfDir).count()
    GraftSession.releaseAll(spark)
    assert(!new java.io.File(tmpRoot, first.head).exists,
      s"${first.head} outlived the next query and releaseAll")
    // the session-lifetime ledger is reused across invocations, never swept
    val ledger = new java.io.File(QueriesIncremental.wmStoreDir).getParentFile
    GraftSession.releaseAll(spark)
    assert(ledger.exists, "sweep must not delete a session-lifetime dir")
  }

  test("Bench.planFingerprint ignores run-varying ids, catches plan changes") {
    val p1 = "Project [l_orderkey#123L, sum#456]\n+- *(2) Filter (l_qty#12 > 5)"
    val p2 = "Project [l_orderkey#987L, sum#12]\n+- *(4) Filter (l_qty#77 > 5)"
    assert(Bench.planFingerprint(p1) == Bench.planFingerprint(p2),
      "exprId / codegen-stage renumbering must not change the fingerprint")
    val p3 = "Project [l_orderkey#1L]\n+- *(2) Filter (l_qty#12 > 6)"
    assert(Bench.planFingerprint(p1) != Bench.planFingerprint(p3),
      "a genuinely different plan must fingerprint differently")
  }

  test("Bench.planFingerprint is stable for the same query planned twice") {
    def plan(): String = table("orders").groupBy("o_orderstatus").count()
      .queryExecution.executedPlan.toString
    assert(Bench.planFingerprint(plan()) == Bench.planFingerprint(plan()))
  }

  test("fingerprintPlan: executing the frame does not move the hash (r20)") {
    // the r19 media plan-hash drift: executedPlan is AQE's FINAL plan
    // after an action, embedding runtime coalesce/reuse choices.
    // fingerprintPlan hashes the static sparkPlan, so the hash of an
    // AQE-shuffling query must be identical before and after count()
    // — and equal to a freshly planned copy of the same query.
    def frame() = table("lineitem").groupBy("l_returnflag").count()
    val df = frame()
    val before = Bench.fingerprintPlan(df)
    df.count()
    assert(Bench.fingerprintPlan(df) == before,
      "running the query must not change its static-plan fingerprint")
    assert(Bench.fingerprintPlan(frame()) == before,
      "a fresh plan of the same query must fingerprint identically")
  }

  test("planFingerprint strips JVM lambda/object identities (r20)") {
    // a recompile of the defining file renumbers anonymous-function
    // classes; two UDF node renders differing only in those must hash
    // equal — and object identity hashes (@1a2b3c4d) likewise
    val a = "Filter UDF(graft.multimodal.Media$$$Lambda$3412/0x00000008019a4c40@4f3c2a1b(blob#12))"
    val b = "Filter UDF(graft.multimodal.Media$$$Lambda$998/0x00000008011b2d10@77e1f0aa(blob#99))"
    assert(Bench.planFingerprint(a) == Bench.planFingerprint(b))
    val c = "Filter UDF(graft.multimodal.Media$$$Lambda$998/0x1(other#99))"
    assert(Bench.planFingerprint(a) != Bench.planFingerprint(c),
      "different argument shape must still fingerprint differently")
  }

  test("Streams.drainStatePartitions: volume-derived, clamped to [1, session]") {
    import graft.streaming.Streams
    val sp = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(Streams.drainStatePartitions(spark, 0L) == 1)
    assert(Streams.drainStatePartitions(spark, 1L) == 1)
    assert(Streams.drainStatePartitions(spark, 4L << 20) == 1)
    assert(Streams.drainStatePartitions(spark, (4L << 20) + 1) == math.min(2, sp))
    assert(Streams.drainStatePartitions(spark, Long.MaxValue / 4) == sp,
      "a corpus-sized replay must keep the session's full parallelism")
  }

  test("bounded-window audit (r21): unpartitioned windows sit above an explicit bound") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Window => LWindow}
    import spark.implicits._
    def unpartitioned(df: org.apache.spark.sql.DataFrame): Seq[LWindow] =
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
    // Audit.trail with a deep offset: the ranking window's input is the
    // LIMIT(offset+limit) page — bounded by construction, and this
    // fails if the limit ever stops reaching below the window
    val audit = (1L to 500L).map(i => (i, s"r$i", "evt", "act",
      new java.sql.Timestamp(i * 1000), s"u${i % 7}", "{}", "ip", "s"))
      .toDF("audit_id", "run_id", "event_type", "action",
        "action_timestamp", "user_id", "action_details", "ip_address",
        "session_id")
    val paged = graft.monitoring.Audit.trail(audit,
      graft.monitoring.Audit.TrailFilter(limit = 10, offset = 5))
    val pagedWs = unpartitioned(paged)
    assert(pagedWs.nonEmpty, "expected the offset-ranking window")
    assert(pagedWs.forall(
      _.child.collectFirst { case _: GlobalLimit => true }.getOrElse(false)),
      "Audit.trail's unpartitioned window must rank a LIMIT-bounded page")
    // Search top-k heads: the rank window reads an orderBy().limit(k)
    val docs = (1L to 300L)
      .map(i => (i, s"alpha beta gamma t$i the quick brown fox"))
      .toDF("doc_id", "text")
    val vocab = graft.llm.Search.vocabTop(docs, "doc_id", "text", k = 7)
    val vws = unpartitioned(vocab)
    assert(vws.nonEmpty && vws.forall(
      _.child.collectFirst { case _: GlobalLimit => true }.getOrElse(false)),
      "Search's unpartitioned rank window must read a top-k LIMIT head")
    // Incremental.gaps, big route: the only unpartitioned window is the
    // bucket-seam stitch over a groupBy(__wb) aggregate (≤ buckets
    // rows); the in-bucket window is partitioned
    val seqs = (1L to 1000L).map(i => i * 3).toDF("v")
    val bucketed = graft.incremental.Incremental.gaps(seqs, "v",
      smallDistinct = 10)
    val bws = unpartitioned(bucketed)
    assert(bws.nonEmpty, "expected the seam-stitch window")
    assert(bws.forall(
      _.child.collectFirst { case _: Aggregate => true }.getOrElse(false)),
      "gaps' unpartitioned seam window must read a per-bucket aggregate")
    assert(bucketed.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.nonEmpty => w
    }.nonEmpty, "the in-bucket lag window must stay partitioned")
    // small route: the window input is the DISTINCT frame, admitted
    // only after an exact count ≤ smallDistinct (the code gate); shape
    // check — the window reads the distinct aggregate, nothing wider
    val small = graft.incremental.Incremental.gaps(seqs, "v")
    val sws = unpartitioned(small)
    assert(sws.nonEmpty && sws.forall(
      _.child.collectFirst { case _: Aggregate => true }.getOrElse(false)))
  }
}
