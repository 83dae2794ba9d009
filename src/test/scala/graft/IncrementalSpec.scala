package graft

import org.apache.spark.sql.functions._
import graft.incremental.Incremental

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("afterWatermark keeps strictly-newer rows") {
    val df = Seq((1, 10), (2, 20), (3, 30)).toDF("id", "seq")
    assert(Incremental.afterWatermark(df, "seq", 20).select("id").as[Int].collect().toSeq == Seq(3))
  }

  test("dedupLatest keeps the newest row per key") {
    val df = Seq((1, 1, "old"), (1, 2, "new"), (2, 1, "only")).toDF("k", "ver", "v")
    val out = Incremental.dedupLatest(df, Seq("k"), Seq(col("ver")))
      .orderBy("k").select("v").as[String].collect()
    assert(out.toSeq == Seq("new", "only"))
  }

  test("upsert: updates win, unmatched updates insert, rest survives") {
    val target = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val updates = Seq((2, "B"), (3, "C")).toDF("k", "v")
    val out = Incremental.upsert(target, updates, Seq("k"))
      .orderBy("k").as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "a"), (2, "B"), (3, "C")))
  }

  test("insertOnly never overwrites existing keys") {
    val target = Seq((1, "a")).toDF("k", "v")
    val updates = Seq((1, "A"), (2, "B")).toDF("k", "v")
    val out = Incremental.insertOnly(target, updates, Seq("k"))
      .orderBy("k").as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "a"), (2, "B")))
  }

  test("scd2 closes changed rows, opens new versions, inserts new keys") {
    val current = Seq((1, "x", "2020-01-01", "9999-12-31", true),
                      (2, "y", "2020-01-01", "9999-12-31", true))
      .toDF("k", "v", "eff_start", "eff_end", "is_current")
      .withColumn("eff_start", col("eff_start").cast("date"))
      .withColumn("eff_end", col("eff_end").cast("date"))
    val incoming = Seq((2, "Y"), (3, "z")).toDF("k", "v")
    val out = Incremental.scd2(current, incoming, Seq("k"), Seq("v"), "2021-06-01")
      .orderBy("k", "eff_start")
      .select(col("k"), col("v"), col("eff_end").cast("string"), col("is_current"))
      .as[(Int, String, String, Boolean)].collect().toSeq
    assert(out == Seq(
      (1, "x", "9999-12-31", true),    // untouched key stays open
      (2, "y", "2021-06-01", false),   // old version closed
      (2, "Y", "9999-12-31", true),    // new version opened
      (3, "z", "9999-12-31", true)))   // brand-new key
  }

  test("scd2 leaves history rows untouched") {
    val current = Seq(
      (1, "old", "2019-01-01", "2020-01-01", false),
      (1, "x", "2020-01-01", "9999-12-31", true))
      .toDF("k", "v", "eff_start", "eff_end", "is_current")
      .withColumn("eff_start", col("eff_start").cast("date"))
      .withColumn("eff_end", col("eff_end").cast("date"))
    val out = Incremental.scd2(current, Seq((1, "x")).toDF("k", "v"),
      Seq("k"), Seq("v"), "2021-06-01")
    assert(out.count() == 2) // history + unchanged active
  }

  test("detectDeletes finds target keys absent from source") {
    val target = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val source = Seq((1, "a"), (3, "c")).toDF("k", "v")
    val out = Incremental.detectDeletes(target, source, Seq("k"))
      .select("k").as[Int].collect()
    assert(out.toSeq == Seq(2))
  }

  test("snapshotDiff reports adds, removes, and per-column changes") {
    val old = Seq(
      (1, Some(10.0), "A"), (2, Some(20.0), "B"), (3, Some(30.0), "C"),
      (4, None, "D"), (5, Some(50.0), "E")
    ).toDF("k", "price", "status")
    val cur = Seq(
      (1, Some(10.0), "A"),   // unchanged -> dropped
      (2, Some(21.0), "B"),   // price changed
      (3, Some(30.0), null),  // status changed to NULL (null-safe compare)
      (4, Some(40.0), "D"),   // price changed FROM null
      (6, Some(60.0), "F")    // added; 5 removed
    ).toDF("k", "price", "status")
    val out = Incremental.snapshotDiff(old, cur, Seq("k"), Seq("price", "status"))
      .as[(Int, String, String)].collect().toSet
    assert(out == Set(
      (2, "changed", "price"), (3, "changed", "status"),
      (4, "changed", "price"), (5, "removed", ""), (6, "added", "")))
    // both columns moving lists them in compareCols order
    val both = Incremental.snapshotDiff(
      Seq((9, 1.0, "x")).toDF("k", "price", "status"),
      Seq((9, 2.0, "y")).toDF("k", "price", "status"),
      Seq("k"), Seq("price", "status"))
      .as[(Int, String, String)].collect().toSeq
    assert(both == Seq((9, "changed", "price,status")))
  }

  test("applyCdc applies only the latest event per key") {
    val target = Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v")
    val cdc = Seq(
      (1, 11.0, "U", 1), (1, 12.0, "U", 2),   // key 1: final v=12
      (2, 0.0, "D", 1),                        // key 2: deleted
      (4, 40.0, "I", 1)                        // key 4: inserted
    ).toDF("k", "v", "op", "seq")
    val out = Incremental.applyCdc(target, cdc, Seq("k"), "op", Seq(col("seq").desc))
      .orderBy("k").as[(Int, Double)].collect()
    assert(out.toSeq == Seq((1, 12.0), (3, 30.0), (4, 40.0)))
  }

  test("upsertWithMetrics reports what every stage did, result == plain upsert") {
    val target = Seq((1, "a", 10), (2, "b", 10)).toDF("k", "v", "seq")
    val batch = Seq(
      (1, "a2", 20), (1, "a1", 15),   // existing key, duplicate → update
      (3, "c", 25),                   // new key → insert
      (4, "late", 5),                 // at/before watermark → late arrival
      (5, "d", 30)                    // new key → insert
    ).toDF("k", "v", "seq")
    val (out, m) = Incremental.upsertWithMetrics(target, batch, Seq("k"),
      Seq(col("seq").desc), "seq", 10)
    assert(m == Incremental.LoadMetrics(
      recordsExtracted = 4, duplicatesFound = 1,
      recordsInserted = 2, recordsUpdated = 1, lateArrivals = 1,
      watermarkBefore = "10", watermarkAfter = "30"))
    val expected = Incremental.upsert(target,
      Incremental.dedupLatestBy(Incremental.afterWatermark(batch, "seq", 10),
        Seq("k"), Seq(col("seq").desc)), Seq("k"))
    assert(out.orderBy("k").collect().toSeq == expected.orderBy("k").collect().toSeq)
    // a late-only (or empty) batch must not move the watermark BACK
    val (_, m2) = Incremental.upsertWithMetrics(target,
      batch.filter(col("seq") <= 10), Seq("k"), Seq(col("seq").desc), "seq", 10)
    assert(m2.recordsExtracted == 0 && m2.watermarkAfter == "10")
    // column ORDER survives the key-flag join even when keys aren't first
    val reordered = batch.select("v", "k", "seq")
    val (out3, _) = Incremental.upsertWithMetrics(target.select("v", "k", "seq"),
      reordered, Seq("k"), Seq(col("seq").desc), "seq", 10)
    assert(out3.columns.toSeq == Seq("v", "k", "seq"))
    GraftSession.releaseAll(spark)
  }

  test("gaps reports jumps beyond tolerance") {
    val df = Seq(1L, 2L, 3L, 7L, 8L, 20L).toDF("seq")
    val out = Incremental.gaps(df, "seq").orderBy("curr_val")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((3L, 7L, 4L), (8L, 20L, 12L)))
  }

  test("gaps range-buckets the lag: partitioned window, seams stitched exactly") {
    // dense id space spanning many buckets: every bucket seam is a
    // consecutive pair — any seam mishandling shows up as a spurious
    // gap row or a missed one
    val df = ((1L to 1000L) ++ (2000L to 3000L)).toDF("seq")
    // smallDistinct = 0 forces the bucketed path on this 2001-value frame
    val out = Incremental.gaps(df, "seq", maxBuckets = 8, smallDistinct = 0L)
    assert(out.orderBy("curr_val").as[(Long, Long, Long)].collect().toSeq ==
      Seq((1000L, 2000L, 1000L)))
    // the lag window must be partitioned by the range bucket — no
    // move-everything-to-one-partition Window anywhere in the plan
    val specs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(out.queryExecution.executedPlan.toString)
      .map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__wb")),
      s"unpartitioned window in gaps plan: $specs")
    // the adaptive default takes the cheap bounded-window plan here and
    // agrees exactly
    assert(Incremental.gaps(df, "seq").orderBy("curr_val")
      .as[(Long, Long, Long)].collect().toSeq == Seq((1000L, 2000L, 1000L)))
    GraftSession.releaseAll(spark)
  }

  test("flagLate marks rows at or before the watermark") {
    val df = Seq((1, 5), (2, 10), (3, 15)).toDF("id", "seq")
    val late = Incremental.flagLate(df, "seq", 10).filter(col("is_late"))
      .select("id").as[Int].collect()
    assert(late.toSeq == Seq(1, 2))
  }

  test("upsertPartitioned rewrites only the touched partitions") {
    import java.nio.file.Files
    val dir = scratchDir("graft_upart").toString + "/facts"
    val t0 = Seq(("d1", 1L, "a"), ("d1", 2L, "b"), ("d2", 3L, "c"), ("d3", 4L, "d"))
      .toDF("day", "k", "v")
    // first load goes through the same call (no target yet)
    Incremental.upsertPartitioned(spark, dir, t0, Seq("day", "k"), "day")
    val d3File = new java.io.File(dir, "day=d3").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val d3Mtime = d3File.lastModified()

    // batch updates one d1 row and inserts into d2; d3 untouched
    val batch = Seq(("d1", 2L, "B!"), ("d2", 9L, "e")).toDF("day", "k", "v")
    Incremental.upsertPartitioned(spark, dir, batch, Seq("day", "k"), "day")
    val back = spark.read.parquet(dir).select("day", "k", "v")
      .as[(String, Long, String)].collect().toSet
    assert(back == Set(("d1", 1L, "a"), ("d1", 2L, "B!"), ("d2", 3L, "c"),
      ("d2", 9L, "e"), ("d3", 4L, "d")))
    // the untouched partition's file was not rewritten
    assert(d3File.exists() && d3File.lastModified() == d3Mtime,
      "day=d3 was rewritten although the batch never touched it")
    // a partition column outside the key is the silent-stale-copy bug
    intercept[IllegalArgumentException](
      Incremental.upsertPartitioned(spark, dir, batch, Seq("k"), "day"))
  }

  test("WatermarkStore: update/last/reset/history on a durable ledger, replay-idempotent") {
    import graft.incremental.WatermarkStore
    val dir = scratchDir("graft_wmstore").toString + "/wm"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    // empty ledger (and an unknown key later): no watermark, no error
    assert(WatermarkStore.last(spark, dir, "p1", "orders").isEmpty)

    // updates accumulate; last = newest event; types round-trip native
    WatermarkStore.update(spark, dir, "p1", "orders", "o_orderdate",
      ts("2024-01-01 00:00:00"), at = Some(ts("2024-01-01 01:00:00")))
    WatermarkStore.update(spark, dir, "p1", "orders", "o_orderdate",
      ts("2024-02-01 00:00:00"), at = Some(ts("2024-02-01 01:00:00")))
    val wm = WatermarkStore.last(spark, dir, "p1", "orders").get
    assert(wm.value == ts("2024-02-01 00:00:00"))
    assert(wm.column == "o_orderdate" && wm.strategy == "timestamp")
    assert(WatermarkStore.last(spark, dir, "p1", "nope").isEmpty)
    assert(WatermarkStore.last(spark, dir, "p2", "orders").isEmpty)

    // a sequence-strategy LONG watermark on the same pipeline, other
    // source: keys isolate, value decodes as a Long
    WatermarkStore.update(spark, dir, "p1", "events", "seq", 900L,
      strategy = "sequence", at = Some(ts("2024-02-01 02:00:00")))
    assert(WatermarkStore.last(spark, dir, "p1", "events").get.value == 900L)
    assert(WatermarkStore.last(spark, dir, "p1", "orders").get.value ==
      ts("2024-02-01 00:00:00"))

    // replay: re-appending an identical payload (a retried run
    // re-asserting its own watermark) never changes the DERIVED
    // watermark, and — reference parity: one inserted row per update
    // call — each append keeps its own history row (distinct
    // event_id), unlike a compact's physical duplicate of the SAME
    // event, which collapses (see the compact spec)
    WatermarkStore.update(spark, dir, "p1", "orders", "o_orderdate",
      ts("2024-02-01 00:00:00"), at = Some(ts("2024-02-01 01:00:00")))
    assert(WatermarkStore.last(spark, dir, "p1", "orders").get.value ==
      ts("2024-02-01 00:00:00"))

    // history: newest first, update events only, full value fidelity
    val h = WatermarkStore.history(spark, dir, "p1", "orders", "o_orderdate")
      .select("watermark_value").as[String].collect()
    assert(h.toSeq == Seq("2024-02-01 00:00:00.0", "2024-02-01 00:00:00.0",
      "2024-01-01 00:00:00.0"))

    // reset tombstones: last goes empty, history survives for audit,
    // and a NEWER update takes over again
    WatermarkStore.reset(spark, dir, "p1", "orders",
      at = Some(ts("2024-03-01 00:00:00")))
    assert(WatermarkStore.last(spark, dir, "p1", "orders").isEmpty)
    assert(WatermarkStore.last(spark, dir, "p1", "events").nonEmpty) // untouched
    assert(WatermarkStore.history(spark, dir, "p1", "orders", "o_orderdate")
      .count() == 3)
    WatermarkStore.update(spark, dir, "p1", "orders", "o_orderdate",
      ts("2024-03-05 00:00:00"), at = Some(ts("2024-03-05 01:00:00")))
    assert(WatermarkStore.last(spark, dir, "p1", "orders").get.value ==
      ts("2024-03-05 00:00:00"))

    // advanceFrom: max(column) of a batch becomes the watermark; an
    // EMPTY batch must not touch the ledger
    val batch = Seq((1L, ts("2024-03-07 10:00:00")), (2L, ts("2024-03-06 09:00:00")))
      .toDF("id", "updated_at")
    assert(WatermarkStore.advanceFrom(spark, dir, "p1", "orders", "updated_at",
      batch, at = Some(ts("2024-03-07 11:00:00"))).contains(ts("2024-03-07 10:00:00")))
    assert(WatermarkStore.advanceFrom(spark, dir, "p1", "orders", "updated_at",
      batch.limit(0), at = Some(ts("2024-03-08 11:00:00"))).isEmpty)
    assert(WatermarkStore.last(spark, dir, "p1", "orders").get.value ==
      ts("2024-03-07 10:00:00"))

    // compact folds the ledger (1 file per key) with identical derived state
    val before = WatermarkStore.last(spark, dir, "p1", "orders")
    WatermarkStore.compact(spark, dir)
    assert(WatermarkStore.last(spark, dir, "p1", "orders") == before)
    assert(WatermarkStore.last(spark, dir, "p1", "events").get.value == 900L)

    // unsupported value types fail loudly, never silently stringify
    assertThrows[IllegalArgumentException](
      WatermarkStore.update(spark, dir, "p1", "orders", "c", BigDecimal(1)))

    // same-instant ties break on the NATIVE value ordering: long 10
    // must beat long 9 even though "9" > "10" lexically
    WatermarkStore.update(spark, dir, "p1", "seqsrc", "seq", 9L,
      strategy = "sequence", at = Some(ts("2024-04-01 00:00:00")))
    WatermarkStore.update(spark, dir, "p1", "seqsrc", "seq", 10L,
      strategy = "sequence", at = Some(ts("2024-04-01 00:00:00")))
    assert(WatermarkStore.last(spark, dir, "p1", "seqsrc").get.value == 10L)
  }

  test("WatermarkStore.compact: merge-then-retire — racing readers never see an empty key, crash states only duplicate") {
    import graft.incremental.WatermarkStore
    val dir = scratchDir("graft_wmrace").toString + "/wm"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 6 events on one key, 2 on another — many small files
    (1 to 6).foreach(i => WatermarkStore.update(spark, dir, "px", "src", "c",
      i.toLong, strategy = "sequence", at = Some(ts(s"2024-01-0$i 00:00:00"))))
    (1 to 2).foreach(i => WatermarkStore.update(spark, dir, "px", "other", "c",
      (10 + i).toLong, strategy = "sequence", at = Some(ts(s"2024-02-0$i 00:00:00"))))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leafFiles(src: String) = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$dir/pipeline_id=px/source_id=$src")).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
    assert(leafFiles("src").size == 6)

    // racing readers: hammer `last` from another thread while compact
    // runs — fold publishes the combined file and only RETIRES the
    // originals (no file a reader's listing references is deleted),
    // so every observation must be Some(6), and none may throw
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[Any]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() => {
      try {
        while (!stop.get())
          seen.add(WatermarkStore.last(spark, dir, "px", "src").map(_.value))
      } catch { case t: Throwable => readerErr.set(t) }
    })
    reader.start()
    try WatermarkStore.compact(spark, dir)
    finally { stop.set(true); reader.join(30000) }
    assert(readerErr.get() == null, s"racing reader threw: ${readerErr.get()}")
    assert(!seen.isEmpty)
    seen.forEach(v => assert(v.contains(6L), s"racing reader saw $v"))
    // after ONE compact: combined file published, originals retired
    // but still present (duplicates collapse on read)
    assert(leafFiles("src").exists(_.getPath.getName.startsWith("compact-")))
    assert(leafFiles("src").size == 7)
    assert(WatermarkStore.last(spark, dir, "px", "src").get.value == 6L)
    assert(WatermarkStore.last(spark, dir, "px", "other").get.value == 12L)
    assert(WatermarkStore.history(spark, dir, "px", "src", "c").count() == 6)

    // a racing reader over the SECOND compact (the reap phase) must
    // also stay green: its listing can only pair retired originals
    // WITH the long-visible combined file
    val seen2 = new java.util.concurrent.ConcurrentLinkedQueue[Option[Any]]()
    stop.set(false)
    val reader2 = new Thread(() => {
      try {
        while (!stop.get())
          seen2.add(WatermarkStore.last(spark, dir, "px", "src").map(_.value))
      } catch { case t: Throwable => readerErr.set(t) }
    })
    reader2.start()
    try WatermarkStore.compact(spark, dir)
    finally { stop.set(true); reader2.join(30000) }
    assert(readerErr.get() == null, s"racing reader threw: ${readerErr.get()}")
    seen2.forEach(v => assert(v.contains(6L), s"racing reader saw $v"))
    // after TWO compacts: originals reaped, one file per key
    assert(leafFiles("src").size == 1 && leafFiles("other").size == 1)
    assert(WatermarkStore.history(spark, dir, "px", "src", "c").count() == 6)

    // crash-state simulation: a compact that died after publishing its
    // combined file but before writing the manifest leaves duplicates
    // (combined copy + still-live originals) -> collapse on read, and
    // later compacts fold the debris away
    WatermarkStore.update(spark, dir, "px", "src", "c", 7L,
      strategy = "sequence", at = Some(ts("2024-01-07 00:00:00")))
    val combined = leafFiles("src").find(_.getPath.getName.startsWith("compact-")).get
    val copy = new org.apache.hadoop.fs.Path(
      combined.getPath.getParent, "compact-crashcopy.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, combined.getPath, fs, copy,
      false, spark.sparkContext.hadoopConfiguration)
    assert(WatermarkStore.last(spark, dir, "px", "src").get.value == 7L)
    assert(WatermarkStore.history(spark, dir, "px", "src", "c").count() == 7)
    WatermarkStore.compact(spark, dir) // fold (retire the three files)
    WatermarkStore.compact(spark, dir) // reap
    assert(leafFiles("src").size == 1)
    assert(WatermarkStore.last(spark, dir, "px", "src").get.value == 7L)
    assert(WatermarkStore.history(spark, dir, "px", "src", "c").count() == 7)

    // an event appended between fold and reap survives both phases
    WatermarkStore.update(spark, dir, "px", "other", "c", 13L,
      strategy = "sequence", at = Some(ts("2024-02-03 00:00:00")))
    WatermarkStore.compact(spark, dir)
    assert(WatermarkStore.last(spark, dir, "px", "other").get.value == 13L)
  }

  test("Job incremental section: resumes from the stored watermark, advances only on success") {
    import graft.pipeline.Job
    val base = scratchDir("graft_jobwm").toString
    val store = s"$base/wm"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sfDir = TestSession.sfDir
    def doc(minScore: Double = 0.0) =
      s"""{
         |  "datasets": [
         |    {"name": "w_orders", "format": "parquet", "path": "$sfDir/orders.parquet"}
         |  ],
         |  "pipeline": {"primary": "w_orders", "steps": [
         |    {"type": "select", "columns": ["o_orderkey", "o_orderdate", "o_orderstatus"]}
         |  ]},
         |  "quality": {"rules": [
         |    {"rule_id": "st", "type": "allowed_values",
         |     "column": "o_orderstatus", "values": ["zzz"]}
         |  ], "min_score": $minScore},
         |  "incremental": {"watermark_store": "$store", "pipeline_id": "pj",
         |    "source_id": "w_orders", "column": "o_orderdate"}
         |}""".stripMargin
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val total = orders.count()
    val maxDate = orders.agg(max("o_orderdate")).head().getTimestamp(0)

    // run 1: no stored watermark -> full extract; ledger advances to max
    val r1 = Job.runJson(spark, doc())
    assert(r1.output.count() == total)
    val wm1 = graft.incremental.WatermarkStore.last(spark, store, "pj", "w_orders").get
    assert(wm1.value == maxDate)

    // run 2: resumes from the stored watermark -> nothing is newer ->
    // empty output AND the ledger does not move (empty batch contract)
    val r2 = Job.runJson(spark, doc())
    assert(r2.output.count() == 0)
    assert(graft.incremental.WatermarkStore.last(spark, store, "pj", "w_orders")
      .get.updateTime == wm1.updateTime)

    // reset -> the next run re-extracts everything (reprocessing flow)
    graft.incremental.WatermarkStore.reset(spark, store, "pj", "w_orders")
    assert(Job.runJson(spark, doc()).output.count() == total)

    // a GATED run fails before the ledger advances: reset, then run
    // with an impossible gate — watermark stays empty
    graft.incremental.WatermarkStore.reset(spark, store, "pj", "w_orders")
    intercept[graft.quality.DQ.QualityGateException](
      Job.runJson(spark, doc(minScore = 100.0)))
    assert(graft.incremental.WatermarkStore.last(spark, store, "pj", "w_orders").isEmpty)

    // config validation: unknown source_id is a parse-time error
    assert(intercept[IllegalArgumentException](Job.parse(
      doc().replace(""""source_id": "w_orders"""", """"source_id": "nope"""")))
      .getMessage.contains("not a declared dataset"))
    // streaming mode rejects the section loudly
    assert(intercept[IllegalArgumentException](
      Job.runStream(spark, Job.parse(doc().replace(
        """"quality": {"rules": [
    {"rule_id": "st", "type": "allowed_values",
     "column": "o_orderstatus", "values": ["zzz"]}
  ], "min_score": 0.0},""",
        s""""sink": {"path": "$base/snk"},""")), s"$base/ckpt"))
      .getMessage.contains("incremental"))
  }

  test("VersionedTable: atomic commits, since-version deltas, txn replay, crash debris invisible") {
    import graft.sources.VersionedTable
    val dir = scratchDir("graft_vt")
      .toString + "/tbl"
    val a = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b = Seq((3L, "c")).toDF("k", "v")
    val c = Seq((4L, "d"), (5L, "e")).toDF("k", "v")

    assert(VersionedTable.latestVersion(spark, dir).isEmpty)
    assert(VersionedTable.commit(a, dir, txnId = Some("t1")) == 1L)
    assert(VersionedTable.commit(b, dir) == 2L)
    // writer replay: the same txn id returns the original version and
    // appends NOTHING (a retried job cannot double-append its batch)
    assert(VersionedTable.commit(a, dir, txnId = Some("t1")) == 1L)
    assert(VersionedTable.read(spark, dir).count() == 3)
    assert(VersionedTable.commit(c, dir, txnId = Some("t3")) == 3L)
    assert(VersionedTable.latestVersion(spark, dir).contains(3L))

    // since-version is a file-level delta: strictly-after semantics,
    // -1 reads everything, at-latest is an EMPTY frame with the
    // table's schema (not an error)
    assert(VersionedTable.read(spark, dir).count() == 5)
    assert(VersionedTable.readSince(spark, dir, 1L)
      .select("k").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L))
    assert(VersionedTable.readSince(spark, dir, -1L).count() == 5)
    // the no-delta read pins its schema from one footer on the driver
    val (none, jobs) = jobsDuring(VersionedTable.readSince(spark, dir, 3L))
    assert(jobs == 0, s"$jobs Spark jobs for a no-delta readSince")
    assert(none.isEmpty &&
      none.schema == VersionedTable.read(spark, dir).schema)

    // crash debris: a data file no manifest references is invisible to
    // readers and reclaimed by vacuum once stale
    val orphan = java.nio.file.Paths.get(dir, "part-orphan.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get(),
      orphan)
    assert(VersionedTable.read(spark, dir).count() == 5)
    val future = System.currentTimeMillis() + VersionedTable.staleClaimMs + 1
    assert(VersionedTable.vacuum(spark, dir, now = future) == 1)
    assert(!java.nio.file.Files.exists(orphan))
    assert(VersionedTable.read(spark, dir).count() == 5)

    // an in-flight (incomplete, young) claim: readers stop BEFORE it —
    // the readable table is the longest complete prefix
    val claim = java.nio.file.Paths.get(dir, "_graft_log",
      f"${4L}%020d.manifest")
    java.nio.file.Files.write(claim,
      "#graft-versioned-manifest\n".getBytes("UTF-8"))
    assert(VersionedTable.latestVersion(spark, dir).contains(3L))
    assert(VersionedTable.read(spark, dir).count() == 5)
    // vacuum refuses to run under an in-flight claim
    assert(VersionedTable.vacuum(spark, dir, now = future) == 0)
    java.nio.file.Files.delete(claim)

    // the named strategy round trip: extract past the STORED version,
    // advance only when something new committed (replay-idempotent)
    val store = scratchDir("graft_vtwm")
      .toString + "/wm"
    assert(Incremental.extractSinceVersion(spark, dir, store, "pv", "tbl")
      .count() == 5)
    assert(Incremental.extractSinceVersion(spark, dir, store, "pv", "tbl")
      .count() == 5) // re-extract before advance: identical
    assert(Incremental.advanceVersion(spark, dir, store, "pv", "tbl")
      .contains(3L))
    assert(Incremental.extractSinceVersion(spark, dir, store, "pv", "tbl")
      .count() == 0)
    // nothing new: the ledger stays untouched
    assert(Incremental.advanceVersion(spark, dir, store, "pv", "tbl").isEmpty)
    val d = Seq((6L, "f")).toDF("k", "v")
    assert(VersionedTable.commit(d, dir) == 4L)
    val delta = Incremental.extractSinceVersion(spark, dir, store, "pv", "tbl")
    assert(delta.select("k").as[Long].collect().toSeq == Seq(6L))
    assert(Incremental.advanceVersion(spark, dir, store, "pv", "tbl")
      .contains(4L))

    // the catalog face: format "versioned" reads the newest version
    assert(graft.sources.FileSource.read(spark, "versioned", dir)
      .count() == 6)
  }

  test("VersionedTable: racing committers claim distinct versions; object-store schemes refused; locker hook honored") {
    import graft.sources.VersionedTable
    // (1) establish the hazard the publish primitive must avoid: the
    // LOCAL Hadoop rename maps to rename(2) and silently REPLACES an
    // existing destination — so rename-as-CAS on the contended slot
    // would let two racers both "succeed" and lose a commit. The
    // default local publish uses link(2) instead, which atomically
    // refuses an existing target.
    val hazDir = scratchDir("graft_vt_haz")
    val fa = hazDir.resolve("a"); val fb = hazDir.resolve("b")
    val fc = hazDir.resolve("c")
    java.nio.file.Files.write(fa, "A".getBytes)
    java.nio.file.Files.write(fb, "B".getBytes)
    java.nio.file.Files.write(fc, "C".getBytes)
    // rename(2) silently REPLACES an existing target (POSIX): any
    // rename-based claim at best guards with a non-atomic exists()
    // pre-check (Hadoop's local rename does exactly that — a TOCTOU
    // window under contention), so two racers can both "succeed"
    val renamed = fb.toFile.renameTo(fa.toFile)
    assert(renamed && new String(java.nio.file.Files.readAllBytes(fa)) == "B",
      "expected the POSIX rename-overwrite hazard this spec documents")
    // link(2) is the primitive with a SPECIFIED atomic no-overwrite
    // guarantee — the default local publish
    intercept[java.nio.file.FileAlreadyExistsException] {
      java.nio.file.Files.createLink(fa, fc)
    }

    // (2) racing committers: every commit lands on its own version,
    // none are lost, the readable table holds the union
    val dir = scratchDir("graft_vt_race")
      .toString + "/tbl"
    val dfs = (1 to 20).map(i => i -> Seq((i.toLong, s"r$i")).toDF("k", "v")).toMap
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val versions = Await.result(
      Future.sequence((1 to 4).map { t =>
        Future { (1 to 5).map(i => VersionedTable.commit(dfs((t - 1) * 5 + i), dir)) }
      }), 5.minutes).flatten
    assert(versions.sorted == (1L to 20L), s"got $versions")
    assert(VersionedTable.read(spark, dir)
      .select("k").as[Long].collect().sorted.toSeq == (1L to 20L))

    // (3) schemes with no atomic no-overwrite publish are refused
    // up front (before any filesystem/connector is even instantiated)
    val refusal = intercept[IllegalArgumentException] {
      VersionedTable.commit(dfs(1), "s3a://bucket/tbl")
    }
    assert(refusal.getMessage.contains("setCommitLocker"))

    // (4) an installed locker becomes the publish arbiter: here an
    // in-JVM lock table emulating an object store's conditional put —
    // the byte copy itself is a deliberately NON-atomic overwrite; the
    // lock table alone provides exclusivity, and no slot may ever be
    // granted twice
    val dir2 = scratchDir("graft_vt_lock")
      .toString + "/tbl"
    val granted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val locker = new VersionedTable.CommitLocker {
      override def publish(fs: org.apache.hadoop.fs.FileSystem,
                           tmp: org.apache.hadoop.fs.Path,
                           slot: org.apache.hadoop.fs.Path): Boolean = {
        if (!granted.add(slot.toString)) false
        else {
          val in = fs.open(tmp)
          val bytes = try in.readAllBytes() finally in.close()
          val out = fs.create(slot, true) // non-atomic put, lock-guarded
          try out.write(bytes) finally out.close()
          true
        }
      }
    }
    VersionedTable.setCommitLocker(locker)
    try {
      val vs = Await.result(
        Future.sequence((1 to 4).map { t =>
          Future { (1 to 3).map(i => VersionedTable.commit(dfs((t - 1) * 3 + i), dir2)) }
        }), 5.minutes).flatten
      assert(vs.sorted == (1L to 12L), s"got $vs")
      assert(granted.size == 12, "a slot was granted more than once")
      assert(VersionedTable.read(spark, dir2).count() == 12)
    } finally VersionedTable.clearCommitLocker()
  }

  test("FileLeaseLocker: racing committers arbitrate correctly on a deliberately non-atomic filesystem") {
    import graft.sources.VersionedTable
    import org.apache.hadoop.fs.Path
    // register a filesystem whose create() IGNORES the no-overwrite
    // flag and whose rename() silently replaces — i.e. NO atomic
    // primitive exists; only the lease protocol provides exclusivity
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockns.impl", classOf[NonAtomicMockFs].getName)
    val base = scratchDir("graft_vt_lease")
    val dir = s"mockns:${base}/tbl"
    val fs = new Path(dir).getFileSystem(conf)
    assert(fs.isInstanceOf[NonAtomicMockFs], s"got ${fs.getClass}")
    // prove the mock hazard is real: create(overwrite=false) on an
    // existing file succeeds (and truncates) instead of refusing
    val probe = new Path(s"mockns:${base}/probe")
    fs.create(probe, false).close()
    fs.create(probe, false).close() // would throw on a correct FS

    val dfs = (1 to 12).map(i => i -> Seq((i.toLong, s"r$i")).toDF("k", "v")).toMap
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    VersionedTable.setCommitLocker(
      new VersionedTable.FileLeaseLocker(settleMs = 25L))
    try {
      val vs = Await.result(
        Future.sequence((1 to 4).map { t =>
          Future { (1 to 3).map(i => VersionedTable.commit(dfs((t - 1) * 3 + i), dir)) }
        }), 5.minutes).flatten
      assert(vs.sorted == (1L to 12L), s"versions lost or duplicated: $vs")
      assert(VersionedTable.read(spark, dir)
        .select("k").as[Long].collect().sorted.toSeq == (1L to 12L))
      // no lease debris after clean publishes
      val log = fs.listStatus(new Path(dir, "_graft_log")).map(_.getPath.getName)
      assert(!log.exists(_.endsWith(".lease")), s"leaked leases in $log")

      // stale-lease steal: a crashed holder's lease (old modtime) must
      // not block the next committer
      val logDir = new Path(dir, "_graft_log")
      val stale = new Path(logDir, ".00000000000000000013.manifest.lease")
      val out = fs.create(stale, true); out.write("dead".getBytes); out.close()
      fs.setTimes(stale, System.currentTimeMillis() - 10 * 60 * 1000L, -1)
      assert(VersionedTable.commit(dfs(1), dir) == 13L)

      // a FRESH foreign lease blocks until waitMs, then fails loudly
      val fresh = new Path(logDir, ".00000000000000000014.manifest.lease")
      val out2 = fs.create(fresh, true); out2.write("alive".getBytes); out2.close()
      VersionedTable.setCommitLocker(
        new VersionedTable.FileLeaseLocker(settleMs = 25L, waitMs = 300L))
      val blocked = intercept[java.io.IOException] {
        VersionedTable.commit(dfs(2), dir)
      }
      assert(blocked.getMessage.contains("lease"))
    } finally VersionedTable.clearCommitLocker()
  }

  test("incremental JDBC extract pushes the stored watermark into the database scan") {
    import graft.incremental.WatermarkStore
    import graft.sources.{JdbcSink, JdbcSource}
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    val url = "jdbc:derby:memory:graftinc;create=true"
    val drv = Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val store = scratchDir("graft_jdbcwm")
      .toString + "/wm"
    val src = table("orders")
      .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
    JdbcSink.write(src, url, "ORDERS_INC", "overwrite", drv)
    val j = JdbcSource(url, "ORDERS_INC", extra = drv)

    // empty ledger: a full extract (the reference's first-run contract)
    val full = Incremental.extractJdbc(spark, j, store, "pw", "orders_inc",
      "o_orderkey")
    assert(full.count() == src.count())

    // stored watermark: the filter must reach the DATABASE — Spark's
    // JDBC scan advertises it as a pushed predicate, meaning Derby
    // evaluates WHERE o_orderkey > 1000 and only the delta crosses
    WatermarkStore.update(spark, store, "pw", "orders_inc", "o_orderkey",
      1000L, strategy = "sequence")
    val delta = Incremental.extractJdbc(spark, j, store, "pw", "orders_inc",
      "o_orderkey")
    val physical = delta.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
      physical.contains("GreaterThan(o_orderkey,1000)"),
      s"stored watermark not pushed into the JDBC scan:\n$physical")
    val expected = src.filter($"o_orderkey" > 1000L).count()
    assert(delta.count() == expected && expected > 0)

    // round trip: extract -> advance from the consumed batch -> the
    // next extract is empty until newer rows land
    val maxKey = src.agg(max($"o_orderkey")).head().getLong(0)
    val hi = WatermarkStore.advanceFrom(spark, store, "pw", "orders_inc",
      "o_orderkey", delta, "sequence")
    assert(hi.contains(maxKey))
    assert(Incremental.extractJdbc(spark, j, store, "pw", "orders_inc",
      "o_orderkey").count() == 0)
    val more = src.orderBy($"o_orderkey").limit(5)
      .withColumn("o_orderkey", $"o_orderkey" + lit(maxKey + 1))
    JdbcSink.write(more, url, "ORDERS_INC", "append", drv)
    val next = Incremental.extractJdbc(spark, j, store, "pw", "orders_inc",
      "o_orderkey")
    assert(next.count() == 5)
    assert(next.agg(min($"o_orderkey")).head().getLong(0) > maxKey)
  }

  test("Job with a jdbc dataset: watermark round trip against live Derby") {
    import graft.pipeline.Job
    import graft.sources.JdbcSink
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    val url = "jdbc:derby:memory:graftjobinc;create=true"
    val drv = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    val store = scratchDir("graft_jobjdbc")
      .toString + "/wm"
    val src = table("orders")
      .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
    JdbcSink.write(src, url, "ORDERS_JOB", "overwrite",
      Map("driver" -> drv))
    val doc =
      s"""{
         |  "datasets": [
         |    {"name": "jo", "format": "jdbc", "path": "$url",
         |     "options": {"dbtable": "ORDERS_JOB", "driver": "$drv"}}
         |  ],
         |  "pipeline": {"primary": "jo", "steps": [
         |    {"type": "select", "columns": ["o_orderkey", "o_totalprice"]}
         |  ]},
         |  "incremental": {"watermark_store": "$store", "pipeline_id": "pj",
         |    "source_id": "jo", "column": "o_orderkey",
         |    "strategy": "sequence"}
         |}""".stripMargin
    val total = src.count()
    val maxKey = src.agg(max($"o_orderkey")).head().getLong(0)

    // run 1: empty ledger -> full extract; ledger advances to max(key)
    assert(Job.runJson(spark, doc).output.count() == total)
    assert(graft.incremental.WatermarkStore.last(spark, store, "pj", "jo")
      .get.value == maxKey)

    // run 2: nothing newer -> empty output, ledger untouched
    assert(Job.runJson(spark, doc).output.count() == 0)

    // rows land in the warehouse -> run 3 consumes exactly the delta
    // and advances past it
    val more = src.orderBy($"o_orderkey").limit(7)
      .withColumn("o_orderkey", $"o_orderkey" + lit(maxKey + 1))
    JdbcSink.write(more, url, "ORDERS_JOB", "append", Map("driver" -> drv))
    val r3 = Job.runJson(spark, doc)
    assert(r3.output.count() == 7)
    assert(graft.incremental.WatermarkStore.last(spark, store, "pj", "jo")
      .get.value == more.agg(max($"o_orderkey")).head().getLong(0))

    // NoSQL connectors stay register-only in batch runs
    val nosqlDoc = doc
      .replace(""""format": "jdbc"""", """"format": "mongodb"""")
      .replace(s""""path": "$url"""", """"path": "mongodb://x"""")
    assert(intercept[IllegalArgumentException](Job.runJson(spark, nosqlDoc))
      .getMessage.contains("NoSQL"))
  }

  test("Job with a jdbc dataset: a failed run releases its pinned delta batch") {
    import graft.pipeline.Job
    import graft.sources.JdbcSink
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    val url = "jdbc:derby:memory:graftjobfail;create=true"
    val drv = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    val store = scratchDir("graft_jobfail")
      .toString + "/wm"
    JdbcSink.write(table("orders").select($"o_orderkey", $"o_orderstatus"),
      url, "ORDERS_FAIL", "overwrite", Map("driver" -> drv))
    // an impossible rule behind min_score 100: the gate throws after
    // the delta batch was pinned and the output cached
    val doc =
      s"""{
         |  "datasets": [
         |    {"name": "jf", "format": "jdbc", "path": "$url",
         |     "options": {"dbtable": "ORDERS_FAIL", "driver": "$drv"}}
         |  ],
         |  "pipeline": {"primary": "jf", "steps": [
         |    {"type": "select", "columns": ["o_orderkey", "o_orderstatus"]}
         |  ]},
         |  "quality": {"rules": [
         |    {"rule_id": "never", "type": "allowed_values",
         |     "column": "o_orderstatus", "values": ["zzz"]}
         |  ], "min_score": 100.0},
         |  "incremental": {"watermark_store": "$store", "pipeline_id": "pf",
         |    "source_id": "jf", "column": "o_orderkey",
         |    "strategy": "sequence"}
         |}""".stripMargin
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    GraftSession.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    intercept[graft.quality.DQ.QualityGateException](Job.runJson(spark, doc))
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "a failed jdbc incremental run must release its pinned delta batch")
    assert(cacheManager.isEmpty)
    // the failed run left the ledger untouched
    assert(graft.incremental.WatermarkStore.last(spark, store, "pf", "jf").isEmpty)
  }

  test("distinctSketch/rollupDistinct: incremental union, overlap-idempotent, bounded error") {
    val events = table("events").withColumn("day", to_date(col("ts")))
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // per-day slices sketched independently (what each load persists),
    // rolled up by union — the incremental path
    val daily = Incremental.distinctSketch(events, Seq("event_type", "day"), "user_id")
    val rolled = Incremental.rollupDistinct(daily, Seq("event_type")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled.keySet == exact.keySet)
    for ((k, ex) <- exact) {
      val err = math.abs(rolled(k) - ex).toDouble / ex
      assert(err < 0.05, s"$k: estimate ${rolled(k)} vs exact $ex (err $err)")
    }

    // overlapping slices change nothing: union is idempotent on
    // re-sketched duplicates of the same keys (the retry/replay case)
    val overlapped = Incremental.rollupDistinct(daily.unionByName(daily),
      Seq("event_type")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(overlapped == rolled)

    // single-pass whole-data sketch agrees with the incremental union
    val whole = Incremental.rollupDistinct(
      Incremental.distinctSketch(events, Seq("event_type"), "user_id"),
      Seq("event_type")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(whole == rolled)
  }
}

/** A deliberately NON-atomic filesystem for the FileLeaseLocker spec:
  * `create(overwrite = false)` silently overwrites (no exclusive-create
  * primitive) and `rename` silently replaces an existing destination
  * (no no-overwrite rename) — the worst-case object-store shape, where
  * only the lease protocol can provide commit exclusivity.
  */
class NonAtomicMockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockns"
  override def getUri: java.net.URI = java.net.URI.create("mockns:///")
  override def create(f: org.apache.hadoop.fs.Path,
                      permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    super.create(f, permission, true, bufferSize, replication, blockSize, progress)
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    super.create(f, true, bufferSize, replication, blockSize, progress)
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (exists(dst)) delete(dst, false)
    super.rename(src, dst)
  }
}
