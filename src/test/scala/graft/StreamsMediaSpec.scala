package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.multimodal.Media
import graft.pipeline.Pipeline
import graft.streaming.Streams

class StreamsMediaSpec extends SparkSpec {
  import spark.implicits._

  test("windowedAgg with watermark aggregates a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "k", "v")
    val agg = Streams.windowedAgg(df, "ts", "10 minutes", "1 hour", None,
      Seq("k"), Seq(count(lit(1)).as("n"), sum(col("v")).as("total")))
    val q = agg.writeStream.format("memory").queryName("wa_test")
      .outputMode(OutputMode.Update()).start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      input.addData((ts(10, 5), "a", 1.0), (ts(10, 20), "a", 2.0), (ts(11, 5), "b", 5.0))
      q.processAllAvailable()
      val rows = spark.table("wa_test")
        .select(col("k"), col("n"), col("total")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains(("a", 2L, 3.0)))
      assert(rows.contains(("b", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming windowedAgg over real events matches the batch tumblingAgg bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Det
    import graft.operators.Ops
    val events = table("events")
      .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)]
      .collect()
      .sortBy(_._1.getTime) // arrive roughly in event-time order, 3 micro-batches
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.windowedAgg(df, "ts", "10 minutes", "1 hour", None,
      Seq("event_type"),
      Seq(count(lit(1)).as("n"), Det.sumAt(col("value"), 6).as("sum_val")))
      .withColumn("bucket_start", col("window.start")).drop("window")
    val q = agg.writeStream.format("memory").queryName("wa_parity")
      .outputMode(OutputMode.Complete()).start()
    try {
      events.grouped(math.max(1, events.length / 3)).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("wa_parity")
        .select("bucket_start", "event_type", "n", "sum_val").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = Ops.tumblingAgg(table("events"), "ts", "1 hour", Seq("event_type"),
          Seq(count(lit(1)).as("n"), Det.sumAt(col("value"), 6).as("sum_val")))
        .select("bucket_start", "event_type", "n", "sum_val").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch,
        s"stream/batch diverge: only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("registered q_stream_tumbling (file source -> memory sink) matches q_window_tumbling") {
    val streamed = SparkEntry.queries("q_stream_tumbling")(spark, TestSession.sfDir)
      .select("bucket_start", "event_type", "n", "sum_val").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = SparkEntry.queries("q_window_tumbling")(spark, TestSession.sfDir)
      .select("bucket_start", "event_type", "n", "sum_val").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch, s"file-source streaming diverged from batch: " +
      s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
  }

  test("eventsStream reads BOTH on-disk layouts: bare file and directory dataset") {
    // the gate SFs ship events.parquet as a bare FILE; ScaleUp's sfN
    // trees as a DIRECTORY of part files. The old pathGlobFilter on
    // leaf names matched nothing for the directory layout — a
    // silently EMPTY stream (caught by the r13 sf1 streaming gate);
    // this pins both layouts to the batch row count
    val base = scratchDir("graft_evdir").toString
    val batch = spark.read.parquet(s"${TestSession.sfDir}/events.parquet")
    batch.write.parquet(s"$base/events.parquet") // directory dataset
    val expected = batch.count()
    for (dir <- Seq(TestSession.sfDir, base)) {
      val sink = s"ev_layout_${if (dir == base) "dir" else "file"}"
      val q = Streams.startMemorySink(
        Tables.eventsStream(spark, dir).select("event_id"), sink,
        OutputMode.Append())
      try q.processAllAvailable() finally q.stop()
      assert(spark.table(sink).count() == expected,
        s"eventsStream over $dir lost rows")
    }
  }

  test("registered q_stream_sessionize (file source, Complete mode) matches batch islands") {
    import graft.functions.Det
    import graft.operators.Ops
    val streamed = SparkEntry.queries("q_stream_sessionize")(spark, TestSession.sfDir)
      .select("user_id", "session_start", "n_events", "sum_val").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Ops.sessionize(table("events"), Seq("user_id"), "ts",
        Seq(col("ts").asc, col("event_id").asc), gapSeconds = 1800)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts").cast("timestamp")).as("session_start"),
        count(lit(1)).as("n_events"), Det.sumAt(col("value"), 6).as("sum_val"))
      .select("user_id", "session_start", "n_events", "sum_val").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch, s"registered streaming sessionize diverged: " +
      s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
  }

  test("registered q_stream_cdc (file source + idempotent swap) matches batch applyCdc") {
    // count first: set equality alone would hide a duplicated-row
    // divergence between the two folds
    def rows(name: String) = SparkEntry.queries(name)(spark, TestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val streamed = rows("q_stream_cdc")
    val batch = rows("q_incr_cdc")
    assert(streamed.size == batch.size,
      s"row-count mismatch: streaming=${streamed.size} batch=${batch.size}")
    assert(streamed.toSet == batch.toSet, s"streaming CDC fold diverged from batch: " +
      s"extra=${(streamed.toSet -- batch.toSet).take(3)} " +
      s"missing=${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("streaming session_window sessions match batch Ops.sessionize on real events") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Det
    import graft.operators.Ops
    val events = table("events")
      .select(col("ts").cast("timestamp"), col("user_id"), col("value"))
      .as[(java.sql.Timestamp, Long, Double)].collect().sortBy(_._1.getTime)
    val maxTs = events.map(_._1.getTime).max
    // sentinel far past the data advances the global watermark so every
    // real session finalizes and Append mode emits it
    val sentinel = (new java.sql.Timestamp(maxTs + 10L * 24 * 3600 * 1000), -1L, 0.0)
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val agg = Streams.sessionWindowAgg(df, "ts", "1 hour", "30 minutes",
      Seq("user_id"),
      Seq(count(lit(1)).as("n"), Det.sumAt(col("value"), 6).as("sum_val")))
    val q = agg.writeStream.format("memory").queryName("sess_parity")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.toSeq); q.processAllAvailable()
      input.addData(Seq(sentinel)); q.processAllAvailable()
      val streamed = spark.table("sess_parity")
        .filter(col("user_id") =!= -1L)
        .select("user_id", "session_start", "n", "sum_val").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = Ops.sessionize(table("events"), Seq("user_id"), "ts",
          Seq(col("ts").asc, col("event_id").asc), gapSeconds = 1800)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts").cast("timestamp")).as("session_start"),
          count(lit(1)).as("n"), Det.sumAt(col("value"), 6).as("sum_val"))
        .select("user_id", "session_start", "n", "sum_val").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch,
        s"only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("dedupStream drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("ts", "id")
    val q = Streams.dedupStream(df, "ts", "1 hour", Seq("id"))
      .writeStream.format("memory").queryName("dd_test")
      .outputMode(OutputMode.Append()).start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      input.addData((t0, 1L), (t0, 1L), (t0, 2L))
      q.processAllAvailable()
      assert(spark.table("dd_test").count() == 2)
    } finally q.stop()
  }

  test("lateSideOutput lands exactly the rows batch flagLate would flag") {
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("graft_late").toString
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val onTimeCounts = scala.collection.mutable.Map.empty[Long, Long]
    val q = Streams.lateSideOutput(input.toDF().toDF("ts", "id"), "ts",
      "10 minutes", s"$dir/late", s"$dir/state", s"$dir/ckpt") {
      (onTime, batchId) => onTimeCounts(batchId) = onTime.count()
    }
    try {
      // b0: no prior watermark → nothing can be late
      input.addData((ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:05:00"), 2L), (ts("2024-01-01 10:10:00"), 3L))
      q.processAllAvailable()
      // b1: wm = 10:10 − 10 min = 10:00 → 09:55 late, 10:02 on time
      input.addData((ts("2024-01-01 10:20:00"), 4L),
        (ts("2024-01-01 09:55:00"), 5L), (ts("2024-01-01 10:02:00"), 6L))
      q.processAllAvailable()
      // b2: wm = 10:20 − 10 min = 10:10 → 10:05 late; null ts → on time
      input.addData((ts("2024-01-01 10:05:00"), 7L),
        (ts("2024-01-01 10:30:00"), 8L), (null, 9L))
      q.processAllAvailable()
    } finally q.stop()

    val late = Streams.lateRows(spark, s"$dir/late")
    assert(late.select("id").as[Long].collect().sorted.toSeq == Seq(5L, 7L))
    // watermark state is one cumulative-max slice per batch, so a
    // checkpoint replay of batch N reads its original horizon
    assert(spark.read.parquet(s"$dir/state/batch_id=0").head().getTimestamp(0)
      == ts("2024-01-01 10:10:00"))
    assert(spark.read.parquet(s"$dir/state/batch_id=1").head().getTimestamp(0)
      == ts("2024-01-01 10:20:00"))
    assert(spark.read.parquet(s"$dir/state/batch_id=2").head().getTimestamp(0)
      == ts("2024-01-01 10:30:00"))
    // a crashed swap's lingering siblings are ignored, not discovered
    // as bogus partitions: copy batch 1's slice to a __old name (its
    // live slice exists, so the retiree must contribute nothing)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$dir/late/batch_id=1"), fs,
      new org.apache.hadoop.fs.Path(s"$dir/late/batch_id=1__old"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(Streams.lateRows(spark, s"$dir/late")
      .select("id").as[Long].collect().sorted.toSeq == Seq(5L, 7L))
    // per-batch slices, discoverable by batch_id partition
    assert(late.filter(col("batch_id") === 1).count() == 1 &&
           late.filter(col("batch_id") === 2).count() == 1)
    assert(onTimeCounts == Map(0L -> 3L, 1L -> 2L, 2L -> 2L))

    // parity: replaying each batch through the BATCH flagLate contract
    // at the same per-batch watermark counts the same rows
    import graft.incremental.Incremental
    val b1 = Seq((ts("2024-01-01 10:20:00"), 4L), (ts("2024-01-01 09:55:00"), 5L),
      (ts("2024-01-01 10:02:00"), 6L)).toDF("ts", "id")
    val b2 = Seq((ts("2024-01-01 10:05:00"), 7L), (ts("2024-01-01 10:30:00"), 8L))
      .toDF("ts", "id")
    val batchLate =
      Incremental.flagLate(b1, "ts", ts("2024-01-01 10:00:00"))
        .filter(col("is_late")).count() +
      Incremental.flagLate(b2, "ts", ts("2024-01-01 10:10:00"))
        .filter(col("is_late")).count()
    assert(batchLate == late.count())
  }

  test("runningTotals maintains per-key state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val q = Streams.runningTotals(input.toDS())
      .writeStream.format("memory").queryName("rt_test")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(("a", 1.0), ("a", 2.0))
      q.processAllAvailable()
      input.addData(("a", 3.0))
      q.processAllAvailable()
      val last = spark.table("rt_test").filter(col("key") === "a")
        .orderBy(col("n").desc).head()
      assert(last.getAs[Long]("n") == 3 && last.getAs[Double]("total") == 6.0)
    } finally q.stop()
  }

  test("fileStream picks up dropped files as micro-batches") {
    val dir = scratchDir("graft_filestream").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val stream = Streams.fileStream(spark, "json", dir, schema)
    val q = stream.groupBy().agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .writeStream.format("memory").queryName("fs_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(s"$dir/a.json"), "{\"id\":1,\"v\":2.0}\n{\"id\":2,\"v\":3.0}")
      q.processAllAvailable()
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(s"$dir/b.json"), "{\"id\":3,\"v\":5.0}")
      q.processAllAvailable()
      val r = spark.table("fs_test").head()
      assert(r.getAs[Long]("n") == 3 && r.getAs[Double]("s") == 10.0)
    } finally q.stop()
  }

  test("applyCdcStream folds CDC micro-batches into the parquet target") {
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("graft_cdc_stream").toString
    val targetPath = s"$dir/target"
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
      .write.parquet(targetPath)
    val input = MemoryStream[(Long, Double, String, Long)]
    val q = Streams.applyCdcStream(input.toDF().toDF("k", "v", "op", "seq"),
      Seq("k"), "op", Seq(col("seq").desc), targetPath, s"$dir/ckpt")
    try {
      input.addData((1L, 11.0, "U", 1L), (2L, 0.0, "D", 1L))
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(targetPath)
        .orderBy("k").as[(Long, Double)].collect().toSeq
      assert(afterB1 == Seq((1L, 11.0), (3L, 30.0)))
      input.addData((4L, 40.0, "I", 2L), (1L, 12.0, "U", 2L))
      q.processAllAvailable()
      val afterB2 = spark.read.parquet(targetPath)
        .orderBy("k").as[(Long, Double)].collect().toSeq
      assert(afterB2 == Seq((1L, 12.0), (3L, 30.0), (4L, 40.0)))
    } finally q.stop()
  }

  test("Metrics.Recorder observes completed actions with durations") {
    val rec = graft.monitoring.Metrics.attach(spark)
    try {
      table("region").count()
      // listener delivery is async; poll briefly
      val deadline = System.nanoTime() + 5_000_000_000L
      while (rec.snapshot().isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val m = rec.snapshot()
      assert(m.nonEmpty)
      assert(m.exists(x => x.funcName == "count" && !x.failed && x.durationMs >= 0))
    } finally spark.listenerManager.unregister(rec)
  }

  test("Media.withMetadata attaches a typed metadata struct") {
    val df = Seq((1L, "somebytes".getBytes), (2L, "x".getBytes)).toDF("id", "blob")
    val out = Media.withMetadata(df, "blob", "image/png")
    val meta = out.select("media_meta.*")
    assert(meta.columns.toSeq == Seq("mime", "width", "height", "duration_ms", "n_bytes"))
    val r = meta.orderBy(col("n_bytes").desc).head()
    assert(r.getAs[String]("mime") == "image/png")
    assert(r.getAs[Long]("n_bytes") == 9L)
    assert(r.getAs[Int]("width") > 0)
  }

  test("Media.parseImageDims reads real PNG/GIF/JPEG/BMP headers") {
    // minimal hand-built headers: the actual byte layouts of each format
    def png(w: Int, h: Int): Array[Byte] = {
      val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
      val ihdr = java.nio.ByteBuffer.allocate(16)
        .putInt(13).put("IHDR".getBytes).putInt(w).putInt(h).array()
      sig ++ ihdr
    }
    def gif(w: Int, h: Int): Array[Byte] =
      "GIF89a".getBytes ++ Array((w & 0xFF).toByte, (w >> 8).toByte,
        (h & 0xFF).toByte, (h >> 8).toByte)
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val soi = Array(0xFF, 0xD8).map(_.toByte)
      // APP0 segment (skipped by the walker), then SOF0 with dims
      val app0 = Array(0xFF, 0xE0, 0x00, 0x04, 0x4A, 0x46).map(_.toByte)
      val sof0 = Array(0xFF, 0xC0, 0x00, 0x11, 0x08,
        (h >> 8) & 0xFF, h & 0xFF, (w >> 8) & 0xFF, w & 0xFF, 0x03).map(_.toByte)
      soi ++ app0 ++ sof0
    }
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).position(18)
      b.putInt(w).putInt(h)
      b.array()
    }
    assert(Media.parseImageDims(png(640, 480)).contains(("png", 640, 480)))
    assert(Media.parseImageDims(gif(320, 200)).contains(("gif", 320, 200)))
    assert(Media.parseImageDims(jpeg(1920, 1080)).contains(("jpeg", 1920, 1080)))
    // standard-legal 0xFF fill bytes between segments must not derail the walk
    def jpegPadded(w: Int, h: Int): Array[Byte] = {
      val j = jpeg(w, h)
      val (head, tail) = j.splitAt(2 + 6) // after SOI+APP0, before SOF0
      head ++ Array.fill(3)(0xFF.toByte) ++ tail
    }
    assert(Media.parseImageDims(jpegPadded(800, 600)).contains(("jpeg", 800, 600)))
    assert(Media.parseImageDims(bmp(64, 32)).contains(("bmp", 64, 32)))
    assert(Media.parseImageDims(bmp(64, -32)).contains(("bmp", 64, 32))) // top-down BMP: |biHeight|
    assert(Media.parseImageDims("not an image".getBytes).isEmpty)
    assert(Media.parseImageDims(null).isEmpty)
    // and through the DataFrame surface: real dims beat the stub
    val df = Seq((1L, png(640, 480)), (2L, "junk".getBytes)).toDF("id", "blob")
    val meta = Media.withMetadata(df, "blob", "image/png")
      .select(col("id"), col("media_meta.width"), col("media_meta.height"))
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    assert(meta(0) == ((1L, 640, 480)))   // parsed from the header
    assert(meta(1)._2 > 0 && meta(1)._3 > 0) // junk falls back to the stub
  }

  test("Media.parseMp3Meta reads MPEG audio frame headers") {
    // MPEG1 Layer III, 128 kbps, 44100 Hz, stereo:
    // 0xFF 0xFB (sync + V1 + LIII + noCRC) 0x90 (idx9=128k, sr0=44100) 0x00
    val frame = Array(0xFF, 0xFB, 0x90, 0x00).map(_.toByte)
    val body = frame ++ Array.fill(15996)(0x11.toByte) // 16000 bytes total
    // 16000 bytes * 8 / 128 kbps = 1000 ms
    assert(Media.parseMp3Meta(body).contains((2, 44100, 128, 1000L)))
    // mono flag (channel mode 11)
    val mono = Array(0xFF, 0xFB, 0x90, 0xC0).map(_.toByte) ++ Array.fill(12)(0.toByte)
    assert(Media.parseMp3Meta(mono).exists(_._1 == 1))
    // MPEG2 Layer III (0xF3): version bits 10, bitrate idx 9 -> 80 kbps, sr idx 0 -> 22050
    val v2 = Array(0xFF, 0xF3, 0x90, 0x00).map(_.toByte) ++ Array.fill(96)(0.toByte)
    assert(Media.parseMp3Meta(v2).exists(m => m._2 == 22050 && m._3 == 80))
    // leading ID3v2 tag (syncsafe size 0x100 = 128+... here 200 bytes) is skipped
    val id3 = ("ID3".getBytes :+ 4.toByte :+ 0.toByte :+ 0.toByte) ++
      Array[Byte](0, 0, 1, 72) ++ Array.fill(200)(0x55.toByte) // size = (1<<7)|72 = 200
    assert(Media.parseMp3Meta(id3 ++ body).contains((2, 44100, 128, 1000L)))
    // junk, free-format bitrate, reserved version, truncated: all None
    assert(Media.parseMp3Meta("no sync here".getBytes).isEmpty)
    assert(Media.parseMp3Meta(Array(0xFF, 0xFB, 0x00, 0x00).map(_.toByte)).isEmpty)
    assert(Media.parseMp3Meta(Array(0xFF, 0xEB, 0x90, 0x00).map(_.toByte)).isEmpty)
    assert(Media.parseMp3Meta(Array(0xFF.toByte)).isEmpty)
    assert(Media.parseMp3Meta(null).isEmpty)
    // DataFrame surface: the mp3 estimate beats the stub for audio blobs
    val df = Seq((1L, body)).toDF("id", "blob")
    val meta = Media.withMetadata(df, "blob", "audio/mpeg")
      .select(col("media_meta.duration_ms")).as[Long].head()
    assert(meta == 1000L)
  }

  test("q_media is deterministic across runs and covers both mimes") {
    def run() = SparkEntry.queries("q_media")(spark, TestSession.sfDir)
      .orderBy("mime").collect().toSeq
    val a = run()
    assert(a.map(_.getAs[String]("mime")).toSet == Set("audio/wav", "video/mp4"))
    assert(a.forall(_.getAs[Long]("n_frames") > 0L))
    assert(a == run())
  }

  test("Media.parseMp4Meta reads ISO-BMFF mvhd duration") {
    def be32(v: Long): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(name: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ name.getBytes ++ payload
    // mvhd v0: version+flags, creation, modification, timescale, duration
    def mvhd(timescale: Long, duration: Long): Array[Byte] =
      box("mvhd", be32(0L) ++ be32(0L) ++ be32(0L) ++ be32(timescale) ++ be32(duration))
    val ftyp = box("ftyp", "isom0000".getBytes)
    // timescale 600 ticks/s, duration 1500 ticks -> 2500 ms
    val mp4 = ftyp ++ box("moov", mvhd(600, 1500))
    assert(Media.parseMp4Meta(mp4).contains(2500L))
    // a preceding sibling box inside moov must be walked over
    val mp4b = ftyp ++ box("moov", box("iods", Array.fill(6)(0.toByte)) ++ mvhd(1000, 90000))
    assert(Media.parseMp4Meta(mp4b).contains(90000L))
    // a moov with to-EOF size (0) still parses — the inner walk must
    // use the RESOLVED size, not re-read the raw 0
    val moovBody = mvhd(600, 1500)
    val moovToEof = ftyp ++ be32(0L) ++ "moov".getBytes ++ moovBody
    assert(Media.parseMp4Meta(moovToEof).contains(2500L))
    // junk, missing moov, zero timescale, hostile box size: all None
    assert(Media.parseMp4Meta("not an mp4 at all....".getBytes).isEmpty)
    assert(Media.parseMp4Meta(ftyp ++ box("free", Array[Byte]())).isEmpty)
    assert(Media.parseMp4Meta(ftyp ++ box("moov", mvhd(0, 1500))).isEmpty)
    val hostile = ftyp ++ be32(0xFFFFFFF0L) ++ "moov".getBytes
    assert(Media.parseMp4Meta(hostile).isEmpty)
    // 64-bit extended size near Long.MaxValue must not wrap the guard
    val wrap = ftyp ++ be32(1L) ++ "skip".getBytes ++
      Array(0x7F, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xF8).map(_.toByte) ++
      Array.fill(16)(0.toByte)
    assert(Media.parseMp4Meta(wrap).isEmpty)
    // truncated v1 mvhd: bounds must reject, not read past the array
    val v1Trunc = ftyp ++ box("moov",
      box("mvhd", Array(1, 0, 0, 0).map(_.toByte) ++ Array.fill(24)(0.toByte)))
    assert(Media.parseMp4Meta(v1Trunc).isEmpty)
    // an mvhd declaring a too-short box must not parse sibling bytes
    val shortBox = ftyp ++ box("moov",
      box("mvhd", Array(0, 0, 0, 0).map(_.toByte)) ++ mvhd(600, 600))
    assert(Media.parseMp4Meta(shortBox).isEmpty)
    assert(Media.parseMp4Meta(null).isEmpty)
    // DataFrame surface: parsed duration beats the stub for video blobs
    val df = Seq((1L, mp4), (2L, "junkvideo".getBytes)).toDF("id", "blob")
    val meta = Media.withMetadata(df, "blob", "video/mp4")
      .select(col("id"), col("media_meta.duration_ms"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(meta(0) == ((1L, 2500L)))
    assert(meta(1)._2 == 9L * 8L) // junk falls back to the stub
  }

  test("Media.detectAudioFormat + audioFormatProfile: per-format coverage incl. real AIFF/AU round-trips") {
    import spark.implicits._
    // real AIFF/AU bytes: encode a short PCM clip through the JDK's own
    // writers — the formats the decode path claims to cover
    def encoded(t: javax.sound.sampled.AudioFileFormat.Type): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true,
        t == javax.sound.sampled.AudioFileFormat.Type.AIFF) // AIFF is BE
      val pcm = Array.tabulate[Byte](400)(i => (i % 64).toByte)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 200)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, t, baos)
      baos.toByteArray
    }
    val aiff = encoded(javax.sound.sampled.AudioFileFormat.Type.AIFF)
    val au = encoded(javax.sound.sampled.AudioFileFormat.Type.AU)
    assert(Media.detectAudioFormat(aiff).contains("aiff"))
    assert(Media.detectAudioFormat(au).contains("au"))
    assert(Media.decodePcm(aiff).isDefined && Media.decodePcm(au).isDefined)
    assert(Media.detectAudioFormat(Media.syntheticWav(100)).contains("wav"))
    val mp3 = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0) ++
      Array.fill(96)(0.toByte)
    val aac = Array[Byte](0xFF.toByte, 0xF1.toByte, 0x50.toByte,
      0x80.toByte, 0, 0x1F.toByte, 0xFC.toByte)
    assert(Media.detectAudioFormat(mp3).contains("mp3"))
    assert(Media.detectAudioFormat(aac).contains("aac"))
    // ID3v2-prefixed sync still resolves, to the right family
    val id3 = "ID3".getBytes ++ Array[Byte](4, 0, 0, 0, 0, 0, 0)
    assert(Media.detectAudioFormat(id3 ++ mp3).contains("mp3"))
    assert(Media.detectAudioFormat(id3 ++ aac).contains("aac"))
    assert(Media.detectAudioFormat("fLaC0000".getBytes).contains("flac"))
    assert(Media.detectAudioFormat("OggS0000".getBytes).contains("ogg"))
    assert(Media.detectAudioFormat("neither!".getBytes).isEmpty)
    assert(Media.detectAudioFormat(null).isEmpty)
    assert(Media.detectAudioFormat(Array[Byte](1, 2)).isEmpty)
    // the profile counts detection, header-meta, and decodability apart
    val corpus = Seq(
      (1L, Media.syntheticWav(500)), // wav: meta + decodable
      (2L, aiff),                    // aiff: decodable, no header parser
      (3L, au),                      // au: decodable, no header parser
      (4L, mp3),                     // mp3: header meta, no decoder
      (5L, aac), (6L, aac),          // aac: detected only
      (7L, "random junk".getBytes)).toDF("id", "wav")
    val prof = Media.audioFormatProfile(corpus, "wav")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(prof == Map(
      "wav" -> ((1L, 1L, 1L)), "aiff" -> ((1L, 0L, 1L)),
      "au" -> ((1L, 0L, 1L)), "mp3" -> ((1L, 1L, 0L)),
      "aac" -> ((2L, 0L, 0L)), "unknown" -> ((1L, 0L, 0L))))
  }

  test("Media.parseWavMeta reads real RIFF/WAVE headers") {
    // hand-built canonical WAV: RIFF + fmt (PCM stereo 44.1k/16) + data
    def wav(dataSize: Int, extraChunk: Boolean = false,
            oddExtra: Boolean = false): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(200).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(0).put("WAVE".getBytes)
      if (extraChunk) {
        val sz = if (oddExtra) 3 else 4
        bb.put("LIST".getBytes).putInt(sz).put(Array.fill(sz + (sz % 2))(0x20.toByte))
      }
      bb.put("fmt ".getBytes).putInt(16)
        .putShort(1).putShort(2)            // PCM, 2 channels
        .putInt(44100).putInt(44100 * 4)    // sample rate, byte rate
        .putShort(4).putShort(16)           // block align, bits
      bb.put("data".getBytes).putInt(dataSize)
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
    // 44100*4 bytes/sec -> 176400 bytes = 1000 ms
    assert(Media.parseWavMeta(wav(176400) ++ new Array[Byte](0))
      .contains((2, 44100, 16, 1000L)))
    assert(Media.parseWavMeta(wav(88200)).contains((2, 44100, 16, 500L)))
    // a LIST chunk before fmt/data must be walked over, odd sizes pad
    assert(Media.parseWavMeta(wav(176400, extraChunk = true)).contains((2, 44100, 16, 1000L)))
    assert(Media.parseWavMeta(wav(176400, extraChunk = true, oddExtra = true))
      .contains((2, 44100, 16, 1000L)))
    assert(Media.parseWavMeta("RIFFxxxxJUNK and then some padding".getBytes).isEmpty)
    assert(Media.parseWavMeta("too short".getBytes).isEmpty)
    assert(Media.parseWavMeta(null).isEmpty)
    // hostile chunk sizes: 0xFFFFFFF8 wrapped Int advance to zero
    // (infinite loop), 0x7FFFFFFF overflowed it negative (index crash)
    def hostile(size: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(0).put("WAVE".getBytes)
      bb.put("LIST".getBytes).putInt(size).put(Array.fill(16)(0x20.toByte))
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
    assert(Media.parseWavMeta(hostile(0xFFFFFFF8)).isEmpty)
    assert(Media.parseWavMeta(hostile(0x7FFFFFFF)).isEmpty)
    // through the DataFrame surface: parsed duration beats the stub
    val df = Seq((1L, wav(88200)), (2L, "junkaudio".getBytes)).toDF("id", "blob")
    val meta = Media.withMetadata(df, "blob", "audio/wav")
      .select(col("id"), col("media_meta.duration_ms"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(meta(0) == ((1L, 500L)))        // real header parse
    assert(meta(1)._2 == 9L * 8L)          // junk falls back to the stub
  }

  test("Media.extractFeatures emits deterministic fixed-width vectors") {
    val df = Seq((1L, "aaa".getBytes), (2L, "bbb".getBytes)).toDF("id", "blob")
    val f1 = Media.extractFeatures(df, "blob", "id", dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val f2 = Media.extractFeatures(df, "blob", "id", dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f1(1L).size == 8)
    assert(f1 == f2)           // deterministic
    assert(f1(1L) != f1(2L))   // content-sensitive
  }

  test("MediaFeaturesF codegen output matches the reference math") {
    // the expected vector is computed HERE with plain Scala — if
    // doGenCode's Java ever drifts from the declared rolling-hash
    // math (sign handling, overflow wrap, lane mixing), this catches it
    def expected(bytes: Array[Byte], dim: Int): Seq[Float] = {
      var h = 1125899906842597L
      bytes.foreach(b => h = 31L * h + b)
      (1 to dim).map(d => ((h ^ (2654435761L * d)) % 1000L).toFloat / 1000.0f)
    }
    val blobs = Seq(
      1L -> "aaa".getBytes("UTF-8"),
      2L -> Array[Byte](-128, -1, 0, 1, 127), // negative bytes: sign matters
      3L -> Array.emptyByteArray)
    val got = Media.extractFeatures(blobs.toDF("id", "blob"), "blob", "id", dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    blobs.foreach { case (id, b) => assert(got(id) == expected(b, 8), s"id=$id") }
  }

  test("Media.extractFeatures stays in whole-stage codegen (no RDD scan)") {
    // parquet-backed (a local Seq constant-folds to LocalTableScan,
    // which never enters codegen and would vacuously pass/fail)
    val df = table("documents")
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    val feats = Media.extractFeatures(df, "blob", "doc_id", dim = 4)
    val plan = feats.queryExecution.executedPlan
    assert(!plan.toString.contains("ExistingRDD"), plan)
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty, plan)
    // the full multimodal query plan is RDD-free too
    val q = SparkEntry.queries("q_media")(spark, TestSession.sfDir)
    assert(!q.queryExecution.executedPlan.toString.contains("ExistingRDD"))
  }

  test("quarantineStream splits micro-batches exactly like the batch contract") {
    import java.nio.file.Files
    import graft.quality.DQ
    implicit val sqlCtx = spark.sqlContext
    val rules = Seq(DQ.NotNull("nn", "v"), DQ.ValueRange("rng", "x", 0, 100))
    val base = scratchDir("graft_qstream").toString
    val input = MemoryStream[(Long, String, Double)]
    val cleanSeen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = Streams.quarantineStream(
      input.toDF().toDF("id", "v", "x"), rules,
      s"$base/quarantine", s"$base/ckpt") { (ok, bid) =>
      cleanSeen += ((bid, ok.count()))
    }
    try {
      input.addData(Seq((1L, "a", 5.0), (2L, null, 5.0), (3L, "c", 500.0)))
      q.processAllAvailable()
      input.addData(Seq((4L, "d", 50.0), (5L, null, -1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val quarantined = Streams.quarantinedRows(spark, s"$base/quarantine")
    // same rows AND same failed_rules tags as the batch split of the union
    val all = Seq((1L, "a", 5.0), (2L, (null: String), 5.0), (3L, "c", 500.0),
      (4L, "d", 50.0), (5L, (null: String), -1.0)).toDF("id", "v", "x")
    val (_, batchBad) = DQ.split(all, rules)
    val got = quarantined.select("id", "failed_rules")
      .as[(Long, String)].collect().toSet
    val want = batchBad.select("id", "failed_rules")
      .as[(Long, String)].collect().toSet
    assert(got == want && got == Set((2L, "nn"), (3L, "rng"), (5L, "nn,rng")))
    // the clean side saw everything else, batch by batch (batch 0:
    // ids 2 and 3 both fail, only id 1 is clean)
    assert(cleanSeen.toSet == Set((0L, 1L), (1L, 1L)))
    // slices are batch-keyed (the exactly-once replay contract); the
    // batch id comes from the partition layout, not a stored column
    assert(quarantined.select("batch_id").distinct().count() == 2)
    // invalid rule sets fail at construction, not mid-stream
    intercept[IllegalArgumentException](Streams.quarantineStream(
      input.toDF(), Seq(DQ.UniqueKeys("u", Seq("_1"))), s"$base/q2", s"$base/c2")(
      (_, _) => ()))
  }

  test("nearDupScreenStream screens batches against seed + earlier survivors") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val base = scratchDir("graft_ndstream").toString
    val historyRoot = s"$base/history"
    val textSeed = "the quick brown fox jumps over the lazy dog"
    val textA = "completely fresh crawl content about spark engines"
    val textB = "another novel document with its own distinct words"
    val batch1 = Seq((3L, textA), (4L, textB), (5L, null: String))
    def family(name: String, root: String) = Pipeline.screenFns(spark,
      Pipeline.Screen(name, root, "doc_id", "text", ngramN = Some(3)))
    // one two-batch ingest stream of `name`'s family over `root`; the
    // survivors each batch hands to the sink
    def screenStream(name: String, root: String): List[(Long, Set[Long])] = {
      val (sigs, screen) = family(name, root)
      // seed: pre-existing corpus signatures at batch_id=-1
      graft.Recovery.idempotentWrite(
        sigs(Seq((100L, textSeed)).toDF("doc_id", "text")), s"$root/batch_id=-1")
      val input = MemoryStream[(Long, String)]
      val cleanSeen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
      val q = Streams.ingestScreenStream(
        input.toDF().toDF("doc_id", "text"), root, s"$root-ckpt")(sigs)(screen) {
        (ok, bid) => cleanSeen += ((bid, ok.select("doc_id").as[Long].collect().toSet))
      }
      try {
        // batch 0: id 1 repeats the SEEDED text (dropped); ids 2 and 6
        // share fresh text A — within-batch dups both survive (the
        // documented scope: the screen is cross-batch only)
        input.addData(Seq((1L, textSeed), (2L, textA), (6L, textA)))
        q.processAllAvailable()
        // batch 1: id 3 repeats batch 0's survivor text (dropped via the
        // batch-0 slice), id 4 is fresh, id 5 has null text (can never
        // match — the NOT-EXISTS null contract)
        input.addData(batch1)
        q.processAllAvailable()
      } finally q.stop()
      cleanSeen.toList
    }
    assert(screenStream("minhash", historyRoot) ==
      List((0L, Set(2L, 6L)), (1L, Set(4L, 5L))))
    // survivors' signatures landed as batch-keyed slices beside the seed
    val hist = spark.read.option("basePath", historyRoot).parquet(historyRoot)
    assert(hist.select("batch_id").distinct().as[Long].collect().toSet ==
      Set(-1L, 0L, 1L))
    assert(hist.filter(col("batch_id") === 0L).select("doc_id")
      .as[Long].collect().toSet == Set(2L, 6L))
    assert(hist.filter(col("batch_id") === 1L).select("doc_id")
      .as[Long].collect().toSet == Set(4L, 5L))
    // a batch's history read excludes its OWN slice (replay safety):
    // re-screening batch 1's rows against everything-but-slice-1
    // reproduces batch 1's survivors exactly
    val replayHistory = hist.filter(col("batch_id") =!= 1L)
      .select("doc_id", "__sig", "__shash")
    val replayed = graft.llm.Dedup.minhashAgainstHistory(
      Seq((3L, textA), (4L, textB), (5L, null: String)).toDF("doc_id", "text"),
      replayHistory, "doc_id", "text", ngramN = 3)
    assert(replayed.select("doc_id").as[Long].collect().toSet == Set(4L, 5L))

    // compaction folds seed + committed slices into ONE seed slice and
    // screens identically afterwards; the slice above the watermark
    // stays untouched
    val before = hist.select("doc_id", "__sig", "__shash")
      .collect().map(_.toString).sorted.toSeq
    assert(Streams.compactSignatureHistory(spark, historyRoot, upToBatch = 0L) == 1)
    val hist2 = spark.read.option("basePath", historyRoot).parquet(historyRoot)
    assert(hist2.select("batch_id").distinct().as[Long].collect().toSet ==
      Set(-1L, 1L))
    assert(hist2.filter(col("batch_id") === -1L).select("doc_id")
      .as[Long].collect().toSet == Set(100L, 2L, 6L))
    assert(hist2.select("doc_id", "__sig", "__shash")
      .collect().map(_.toString).sorted.toSeq == before)
    // idempotent: nothing left to fold below the watermark
    assert(Streams.compactSignatureHistory(spark, historyRoot, upToBatch = 0L) == 0)
    // folding the rest reduces to a single seed, rows still identical
    assert(Streams.compactSignatureHistory(spark, historyRoot, upToBatch = 1L) == 1)
    val hist3 = spark.read.option("basePath", historyRoot).parquet(historyRoot)
    assert(hist3.select("batch_id").distinct().as[Long].collect().toSet == Set(-1L))
    assert(hist3.select("doc_id", "__sig", "__shash")
      .collect().map(_.toString).sorted.toSeq == before)
    // seed-only root: the early return must fire WITHOUT rewriting the
    // seed over itself (listStatus paths are scheme-qualified, so the
    // old raw-string equality never matched) — proven via mtimes
    val fsC = new org.apache.hadoop.fs.Path(historyRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seedPath = new org.apache.hadoop.fs.Path(s"$historyRoot/batch_id=-1")
    def seedMtimes = fsC.listStatus(seedPath)
      .map(s => (s.getPath.getName, s.getModificationTime)).toSeq.sorted
    val m0 = seedMtimes
    assert(Streams.compactSignatureHistory(spark, historyRoot, upToBatch = 99L) == 0)
    assert(seedMtimes == m0)

    // the simhash and exact families ride the same replay and
    // history-append path: same survivors batch by batch, one slice
    // per batch beside the seed, and batch 1 replayed against every
    // slice but its own reproduces its survivors
    for (name <- Seq("simhash", "exact")) {
      val root = s"$base/history-$name"
      assert(screenStream(name, root) ==
        List((0L, Set(2L, 6L)), (1L, Set(4L, 5L))), name)
      val h = spark.read.option("basePath", root).parquet(root)
      assert(h.select("batch_id").distinct().as[Long].collect().toSet ==
        Set(-1L, 0L, 1L), name)
      val (_, screen) = family(name, root)
      assert(screen(batch1.toDF("doc_id", "text"),
          h.filter(col("batch_id") =!= 1L).drop("batch_id"))
        .select("doc_id").as[Long].collect().toSet == Set(4L, 5L), name)
    }
  }

  test("compactSignatureHistory is schema-agnostic: image and semantic roots fold, screen identically, keep stamps, compose with reassign") {
    import java.nio.file.Files
    import graft.llm.{Dedup, Ivf}
    // --- image root: 8-byte perceptual signatures ---------------------
    val ibase = scratchDir("graft_compact_img").toString
    val iroot = s"$ibase/history"
    graft.Recovery.idempotentWrite(
      Media.imageSignatures(
        Seq((100L, Media.syntheticPng(1))).toDF("img_id", "img"),
        "img_id", "img"), s"$iroot/batch_id=-1")
    graft.Recovery.idempotentWrite(
      Media.imageSignatures(
        Seq((101L, Media.syntheticPng(2))).toDF("img_id", "img"),
        "img_id", "img"), s"$iroot/batch_id=0")
    val ibatch = Seq(
      (1L, Media.syntheticPng(1)),  // dup of seed → drops
      (2L, Media.syntheticPng(2)),  // dup of slice 0 → drops
      (3L, Media.syntheticPng(3))). // fresh → survives
      toDF("img_id", "img")
    def iScreen() = Media.imageAgainstHistory(ibatch, "img_id", "img",
        spark.read.option("basePath", iroot).parquet(iroot)
          .select("img_id", "__sig"), maxHamming = 0)
      .select("img_id").as[Long].collect().sorted.toSeq
    val iBefore = iScreen()
    assert(iBefore == Seq(3L))
    // returns the number of NON-seed slices folded (the seed rewrites)
    assert(Streams.compactSignatureHistory(spark, iroot, upToBatch = 0L) == 1)
    val ihist = spark.read.option("basePath", iroot).parquet(iroot)
    assert(ihist.select("batch_id").distinct().as[Long].collect().toSeq
      == Seq(-1L))
    assert(ihist.count() == 2L && iScreen() == iBefore)
    // --- semantic root: cell-assigned embeddings, VERSION-stamped -----
    val sbase = scratchDir("graft_compact_sem").toString
    val sroot = s"$sbase/history"
    val idxDir = s"$sbase/idx"
    Ivf.saveIndex(Seq((0, Array(1f, 0f)), (1, Array(0f, 1f)))
      .toDF("__cid", "__cvec"), idxDir)
    val (cents1, v1) = Ivf.loadIndexVersioned(spark, idxDir)
    graft.Recovery.idempotentWrite(
      Dedup.semanticHistorySignatures(
        Seq((100L, Array(1f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents1, indexVersion = Some(v1)),
      s"$sroot/batch_id=-1")
    graft.Recovery.idempotentWrite(
      Dedup.semanticHistorySignatures(
        Seq((101L, Array(0f, 1f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents1, indexVersion = Some(v1)),
      s"$sroot/batch_id=0")
    val sbatch = Seq((1L, Array(1f, 0f)), (2L, Array(0.7071f, 0.7071f)))
      .toDF("vec_id", "embedding")
    def sScreen(c: org.apache.spark.sql.DataFrame, v: Long) =
      Dedup.semanticAgainstHistory(sbatch,
          spark.read.option("basePath", sroot).parquet(sroot), c,
          "vec_id", "embedding", threshold = 0.95, indexVersion = Some(v))
        .select("vec_id").as[Long].collect().sorted.toSeq
    assert(sScreen(cents1, v1) == Seq(2L)) // exact dup of 100 drops
    assert(Streams.compactSignatureHistory(spark, sroot, upToBatch = 0L) == 1)
    val shist = spark.read.option("basePath", sroot).parquet(sroot)
    // folded to one seed; the __iv stamps survive the fold untouched
    assert(shist.select("batch_id").distinct().as[Long].collect().toSeq
      == Seq(-1L))
    assert(shist.select("__iv").distinct().as[Long].collect().toSeq
      == Seq(v1))
    assert(sScreen(cents1, v1) == Seq(2L))
    // --- compose with the r19 maintenance repair: retrain → reassign
    // the COMPACTED root → stamps advance, screen green under v2
    Ivf.saveIndex(Seq((0, Array(0f, 1f)), (1, Array(1f, 0f)))
      .toDF("__cid", "__cvec"), idxDir)
    val (cents2, v2) = Ivf.loadIndexVersioned(spark, idxDir)
    assert(intercept[IllegalStateException](sScreen(cents2, v2))
      .getMessage.contains("reassignSemanticHistory"))
    assert(Dedup.reassignSemanticHistory(spark, sroot, idxDir,
      "embedding") == 1) // one folded seed slice
    assert(spark.read.option("basePath", sroot).parquet(sroot)
      .select("__iv").distinct().as[Long].collect().toSeq == Seq(v2))
    assert(sScreen(cents2, v2) == Seq(2L))
  }

  test("imageScreenStream: multi-batch perceptual ingest; replay == batch imageAgainstHistory") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val base = scratchDir("graft_imgstream").toString
    val historyRoot = s"$base/history"
    // a near-copy construction with a PINNED small nonzero hamming
    // (corner-block edit — a uniform jitter moves no dHash bits)
    def cornered(seed: Long) = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Media.syntheticPng(seed)))
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    // seed: one pre-ingested picture's signature at batch_id=-1
    graft.Recovery.idempotentWrite(
      Media.imageSignatures(
        Seq((100L, Media.syntheticPng(1))).toDF("img_id", "img"),
        "img_id", "img"),
      s"$historyRoot/batch_id=-1")
    val input = MemoryStream[(Long, Array[Byte])]
    val cleanSeen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    val (sigs, screen) = Pipeline.screenFns(spark,
      Pipeline.Screen("image", historyRoot, "img_id", "img", maxHamming = Some(6)))
    val q = Streams.ingestScreenStream(
      input.toDF().toDF("img_id", "img"), historyRoot, s"$base/ckpt")(sigs)(screen) {
      (ok, bid) => cleanSeen += ((bid, ok.select("img_id").as[Long].collect().toSet))
    }
    val batch1 = Seq(
      (5L, cornered(50)),                       // near-copy of batch-0 survivor → drop
      (6L, Media.syntheticPng(77)),             // fresh → survive
      (7L, null.asInstanceOf[Array[Byte]]))     // undecodable → survive
    try {
      // batch 0: byte-identical seed copy drops, corner-edited seed
      // copy drops (perceptual, not byte, matching), fresh survives
      input.addData(Seq(
        (1L, Media.syntheticPng(1)),
        (2L, cornered(1)),
        (3L, Media.syntheticPng(50))))
      q.processAllAvailable()
      input.addData(batch1)
      q.processAllAvailable()
    } finally q.stop()
    assert(cleanSeen.toList == List((0L, Set(3L)), (1L, Set(6L, 7L))))
    // slices carry ONLY ids + 8-byte signatures — pixels never land in
    // history, and survivors' signatures are batch-keyed
    val hist = spark.read.option("basePath", historyRoot).parquet(historyRoot)
    assert(hist.columns.toSet == Set("img_id", "__sig", "batch_id"))
    assert(hist.filter(col("batch_id") === 0L).select("img_id")
      .as[Long].collect().toSet == Set(3L))
    // replay == the BATCH operator: screening batch 1's rows against
    // everything-but-slice-1 through imageAgainstHistory reproduces
    // the stream's batch-1 survivors exactly
    val replayHistory = hist.filter(col("batch_id") =!= 1L)
      .select("img_id", "__sig")
    val replayed = Media.imageAgainstHistory(
      batch1.toDF("img_id", "img"), "img_id", "img", replayHistory,
      maxHamming = 6)
    assert(replayed.select("img_id").as[Long].collect().toSet == Set(6L, 7L))
  }

  test("audioScreenStream: re-gained recordings drop across batches, fresh survive") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val base = scratchDir("graft_audstream").toString
    val historyRoot = s"$base/history"
    graft.Recovery.idempotentWrite(
      Media.audioSignatures(
        Seq((100L, Media.syntheticWavPattern(1L, 9))).toDF("audio_id", "wav"),
        "audio_id", "wav"),
      s"$historyRoot/batch_id=-1")
    val input = MemoryStream[(Long, Array[Byte])]
    val cleanSeen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    val (sigs, screen) = Pipeline.screenFns(spark,
      Pipeline.Screen("audio", historyRoot, "audio_id", "wav", maxHamming = Some(0)))
    val q = Streams.ingestScreenStream(
      input.toDF().toDF("audio_id", "wav"), historyRoot, s"$base/ckpt")(sigs)(screen) {
      (ok, bid) => cleanSeen += ((bid, ok.select("audio_id").as[Long].collect().toSet))
    }
    try {
      // batch 0: re-gained copy of the seed drops, fresh survives
      input.addData(Seq(
        (1L, Media.syntheticWavPattern(1L, 200)),
        (2L, Media.syntheticWavPattern(2L, 5))))
      q.processAllAvailable()
      // batch 1: re-gained copy of batch 0's survivor drops; null survives
      input.addData(Seq(
        (3L, Media.syntheticWavPattern(2L, 77)),
        (4L, null.asInstanceOf[Array[Byte]])))
      q.processAllAvailable()
    } finally q.stop()
    assert(cleanSeen.toList == List((0L, Set(2L)), (1L, Set(4L))))
  }

  test("semanticScreenStream: cell-assigned embedding ingest over a fixed quantizer") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val base = scratchDir("graft_semstream").toString
    val historyRoot = s"$base/history"
    val idxDir = s"$base/idx"
    graft.llm.Ivf.saveIndex(
      Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)))
        .toDF("__cid", "__cvec"), idxDir)
    val (sigs, screen) = Pipeline.screenFns(spark,
      Pipeline.Screen("semantic", historyRoot, "vec_id", "embedding",
        threshold = Some(0.9), indexDir = Some(idxDir)))
    graft.Recovery.idempotentWrite(
      sigs(Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")),
      s"$historyRoot/batch_id=-1")
    val input = MemoryStream[(Long, Array[Float])]
    val cleanSeen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    val q = Streams.ingestScreenStream(
      input.toDF().toDF("vec_id", "embedding"), historyRoot, s"$base/ckpt")(sigs)(screen) {
      (ok, bid) => cleanSeen += ((bid, ok.select("vec_id").as[Long].collect().toSet))
    }
    try {
      // batch 0: exact seed dup drops, orthogonal fresh survives
      input.addData(Seq(
        (1L, Array(1f, 0f, 0f, 0f)),
        (2L, Array(0f, 1f, 0f, 0f))))
      q.processAllAvailable()
      // batch 1: near-dup of batch 0's survivor drops (cell 1), a null
      // vector survives (unscorable)
      input.addData(Seq(
        (3L, Array(0.05f, 0.999f, 0f, 0f)),
        (4L, null.asInstanceOf[Array[Float]])))
      q.processAllAvailable()
    } finally q.stop()
    assert(cleanSeen.toList == List((0L, Set(2L)), (1L, Set(4L))))
    // history slices carry the CELL-ASSIGNED embedding schema, stamped
    // with the quantizer version
    val hist = spark.read.option("basePath", historyRoot).parquet(historyRoot)
    assert(hist.columns.toSet == Set("vec_id", "embedding", "__cid", "__iv", "batch_id"))
  }

  test("semanticScreenStream version handshake: a mid-stream retrain+reassign refuses; restart on v2 replays green") {
    import java.nio.file.Files
    import graft.llm.{Dedup, Ivf}
    implicit val sqlCtx = spark.sqlContext
    val base = scratchDir("graft_semver_stream").toString
    val historyRoot = s"$base/history"
    val idxDir = s"$base/idx"
    Ivf.saveIndex(
      Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)))
        .toDF("__cid", "__cvec"), idxDir)
    val (cents1, v1) = Ivf.loadIndexVersioned(spark, idxDir)
    graft.Recovery.idempotentWrite(
      Dedup.semanticHistorySignatures(
        Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents1, indexVersion = Some(v1)),
      s"$historyRoot/batch_id=-1")
    val input = MemoryStream[(Long, Array[Float])]
    val cleanSeen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    // the screen loads the index (and its version) once, at start
    def startScreen() = {
      val (sigs, screen) = Pipeline.screenFns(spark,
        Pipeline.Screen("semantic", historyRoot, "vec_id", "embedding",
          threshold = Some(0.9), indexDir = Some(idxDir)))
      Streams.ingestScreenStream(
        input.toDF().toDF("vec_id", "embedding"), historyRoot, s"$base/ckpt")(sigs)(screen) {
        (ok, bid) => cleanSeen += ((bid, ok.select("vec_id").as[Long].collect().toSet))
      }
    }
    val q1 = startScreen()
    try {
      // batch 0 under v1: seed dup drops, fresh survives
      input.addData(Seq(
        (1L, Array(1f, 0f, 0f, 0f)),
        (2L, Array(0f, 1f, 0f, 0f))))
      q1.processAllAvailable()
      assert(cleanSeen.toList == List((0L, Set(2L))))
      // the maintenance cron fires while the stream is live: retrain
      // publishes v2 (axes swapped) and re-assigns the history root
      Ivf.saveIndex(
        Seq((0, Array(0f, 1f, 0f, 0f)), (1, Array(1f, 0f, 0f, 0f)))
          .toDF("__cid", "__cvec"), idxDir)
      assert(Dedup.reassignSemanticHistory(
        spark, historyRoot, idxDir, "embedding") == 2) // seed + slice 0
      // the NEXT micro-batch still screens with the v1 handle → the
      // handshake refuses LOUDLY instead of joining stale cells
      input.addData(Seq((3L, Array(0f, 1f, 0f, 0f))))
      val err = intercept[Exception] { q1.processAllAvailable() }
      def rootMessage(t: Throwable): String =
        Option(t.getCause).map(rootMessage)
          .getOrElse(Option(t.getMessage).getOrElse(""))
      assert(rootMessage(err).contains("reassignSemanticHistory") ||
        err.toString.contains("DIFFERENT quantizer payload"))
    } finally q1.stop()
    // restart the SAME checkpoint lineage with the re-loaded v2 index:
    // batch 1 replays against the healed history and screens green
    // (id 3 near-dups batch 0's survivor id 2, now in a v2 cell)
    val (_, v2) = Ivf.loadIndexVersioned(spark, idxDir)
    assert(v2 == 2L)
    val q2 = startScreen()
    try q2.processAllAvailable() finally q2.stop()
    assert(cleanSeen.toList == List((0L, Set(2L)), (1L, Set.empty[Long])))
    // every surviving slice is v2-stamped
    val hist = spark.read.option("basePath", historyRoot).parquet(historyRoot)
    assert(hist.select("__iv").distinct().as[Long].collect().toSeq == Seq(2L))
  }

  test("Datagen.withFields: streaming values identical to batch for the same ids") {
    import graft.sources.Datagen, Datagen._
    val fields = Seq(IntCol("age", 18, 80), DoubleCol("p", 0.0, 1.0),
      CatCol("dept", Seq("a", "b", "c")))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val q = Datagen.withFields(input.toDF().withColumnRenamed("value", "row_id"),
        "row_id", fields, seed = 11)
      .writeStream.format("memory").queryName("dg_stream").start()
    try {
      input.addData(0L until 500L); q.processAllAvailable()
      input.addData(500L until 1000L); q.processAllAvailable() // a second batch
      val streamed = spark.table("dg_stream")
      val batch = Datagen.withFields(
        spark.range(1000).withColumnRenamed("id", "row_id"), "row_id", fields,
        seed = 11)
      // identical values row-for-row regardless of batch boundaries
      assert(streamed.count() == 1000)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
    // and the rate-source wrapper builds a genuinely streaming frame
    assert(Datagen.stream(spark, 10, fields).isStreaming)
  }

  test("Media.sampleFrames explodes n evenly spaced offsets per video") {
    val df = Seq((1L, "0123456789".getBytes)).toDF("id", "blob")
    val withMeta = Media.withMetadata(df, "blob", "video/mp4")
    val frames = Media.sampleFrames(withMeta, "media_meta", n = 4)
    assert(frames.count() == 4)
    val offsets = frames.select("frame_offset_ms").as[Long].collect().sorted
    assert(offsets.head == 0L && offsets.distinct.length == 4)
  }

  // ---- perceptual hashing (r17: REAL pixel decode via javax.imageio) --

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("Media.grayGrid: box-filter means match hand-computed luminance") {
    // 2x1 image: left pixel pure red, right pixel pure white
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFF0000)
    img.setRGB(1, 0, 0xFFFFFF)
    val g = Media.grayGrid(img, 2, 1)
    assert(math.abs(g(0) - 299.0 * 255 / 1000.0) < 1e-9, g.toSeq)
    assert(math.abs(g(1) - 255.0) < 1e-9, g.toSeq)
    // 4x2 image downsampled to 2x1: each cell averages its 2x2 block
    val img2 = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 4; y <- 0 until 2) {
      val v = x * 10 + y // gray levels 0,1,10,11 | 20,21,30,31
      img2.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val g2 = Media.grayGrid(img2, 2, 1)
    assert(math.abs(g2(0) - (0 + 1 + 10 + 11) / 4.0) < 1e-9, g2.toSeq)
    assert(math.abs(g2(1) - (20 + 21 + 30 + 31) / 4.0) < 1e-9, g2.toSeq)
  }

  test("Media.dHash/aHash decode real codecs; signature laws hold") {
    // byte-identical inputs hash identically, and decode really ran
    val a = Media.syntheticPng(42L)
    assert(Media.parseImageDims(a).contains(("png", 36, 32))) // it IS a real PNG
    assert(Media.dHash(a).isDefined && Media.dHash(a) == Media.dHash(a.clone()))
    assert(Media.aHash(a).isDefined)
    // uniform brightness shift: dHash compares ADJACENT cells, so a
    // global +10 shift flips (almost) nothing — brightness invariance
    val shifted = Media.syntheticPng(42L, jitter = 10)
    assert(shifted.toSeq != a.toSeq) // different bytes...
    assert(hamming(Media.dHash(a).get, Media.dHash(shifted).get) <= 2)
    // distinct seeds -> independent patterns -> far-apart signatures
    val b = Media.syntheticPng(43L)
    assert(hamming(Media.dHash(a).get, Media.dHash(b).get) > 10)
    // undecodable and null inputs score as "not an image", never throw
    assert(Media.dHash("not an image".getBytes).isEmpty)
    assert(Media.dHash(null).isEmpty)
    assert(Media.dHash(Array.emptyByteArray).isEmpty)
    // a corrupt PNG (valid magic, torn body) must not kill the task
    assert(Media.dHash(a.take(30)).isEmpty)
  }

  test("dHash robustness: JPEG re-encode of the same pixels stays within a small hamming budget") {
    // a smooth 2D gradient: adjacent 8x8-cell means differ by ~28 gray
    // levels, far beyond JPEG quantization noise on smooth content
    val img = new java.awt.image.BufferedImage(72, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 72; y <- 0 until 64) {
      val v = (x * 255 / 71 + y * 128 / 63) * 2 / 3
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    def enc(fmt: String): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, baos), s"no $fmt writer")
      baos.toByteArray
    }
    val png = enc("png"); val jpg = enc("jpg"); val bmp = enc("bmp")
    assert(png.toSeq != jpg.toSeq) // byte-level: unrelated blobs
    val hPng = Media.dHash(png).get
    assert(hamming(hPng, Media.dHash(jpg).get) <= 6,
      s"JPEG re-encode drifted ${hamming(hPng, Media.dHash(jpg).get)} bits")
    assert(Media.dHash(bmp).get == hPng) // lossless re-encode: exact
    assert(hamming(Media.aHash(png).get, Media.aHash(jpg).get) <= 6)
  }

  test("imageNearDup pairs re-encoded/jittered copies, not unrelated images") {
    val rows = Seq(
      1L -> Media.syntheticPng(7L),              // original
      2L -> Media.syntheticPng(7L),              // byte-identical copy
      3L -> Media.syntheticPng(7L, jitter = 8),  // re-graded copy
      4L -> Media.syntheticPng(99L),             // unrelated
      5L -> "corrupt".getBytes                   // undecodable: dropped
    )
    val df = rows.toDF("id", "img")
    val pairs = Media.imageNearDup(df, "id", "img", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)), pairs)
    assert(pairs.filter(p => p._2 == 2L).forall(_._3 == 0)) // identical bytes: hamming 0
    // aHash path agrees on the identical pair
    val ap = Media.imageNearDup(df, "id", "img", maxHamming = 0, algo = "ahash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ap.contains((1L, 2L)))
    // hammingPairs completeness at the budget boundary: pigeonhole says
    // a planted pair at EXACTLY maxHamming must still be found
    val sigA = 0L
    val sigB = (1L << 0) | (1L << 21) | (1L << 42) | (1L << 63) // hamming 4, spread across bands
    val sigs = Seq(10L -> sigA, 11L -> sigB).toDF("id", "__sig")
    val edge = graft.llm.Dedup.hammingPairs(sigs, "id", "__sig", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(edge.toSeq == Seq((10L, 11L, 4)))
    // ...and null signatures are dropped pre-banding (never pair, never
    // enter bucket occupancy)
    val withNull = Seq((20L, Some(5L)), (21L, Some(5L)), (22L, None))
      .toDF("id", "__sig")
    val np = graft.llm.Dedup.hammingPairs(withNull, "id", "__sig", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(np.toSeq == Seq((20L, 21L)))
  }

  // ---- audio sample screens (r17: REAL PCM decode via javax.sound) ----

  test("Media.decodePcm + audioScreenOf: hand-computed stats over synthesized PCM") {
    // syntheticWav(16384, 2, 4): samples 0.5, -0.5, 0, 0
    val (fmt, x) = Media.decodePcm(Media.syntheticWav(16384, nLoud = 2, nTotal = 4)).get
    assert(fmt.getSampleRate == 8000.0f && fmt.getChannels == 1)
    assert(x.toSeq == Seq(0.5, -0.5, 0.0, 0.0))
    val sc = Media.audioScreenOf(Media.syntheticWav(16384, nLoud = 2, nTotal = 4)).get
    assert(sc.n_samples == 4 && sc.sample_rate == 8000 && sc.channels == 1)
    assert(sc.rms == math.sqrt(0.125)) // sqrt((0.25+0.25)/4), exactly
    assert(sc.peak == 0.5 && sc.clip_ratio == 0.0)
    assert(sc.silence_frac == 0.0) // one (partial) window, RMS 0.35 > 0.01
    // full-scale samples clip; trailing zero windows count as silence
    val clipped = Media.audioScreenOf(Media.syntheticWav(32767)).get
    assert(clipped == Media.AudioScreen(800, 8000, 1, 100,
      math.sqrt(32767.0 * 32767.0 / 2147483648.0), 32767.0 / 32768.0, 0.5, 0.5))
    // undecodable / null never throw
    assert(Media.audioScreenOf("not audio".getBytes).isEmpty)
    assert(Media.audioScreenOf(null).isEmpty)
    assert(Media.audioScreenOf(Media.syntheticWav(100).take(30)).isEmpty)
  }

  test("Media.decodePcm handles unsigned 8-bit and big-endian PCM") {
    // hand-built 8-bit unsigned WAV: 128 -> 0.0, 255 -> 127/128, 0 -> -1.0
    val bb = java.nio.ByteBuffer.allocate(44 + 3)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + 3).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(8000).putShort(1).putShort(8)
      .put("data".getBytes).putInt(3)
      .put(128.toByte).put(255.toByte).put(0.toByte)
    val (fmt8, x8) = Media.decodePcm(bb.array()).get
    assert(fmt8.getSampleSizeInBits == 8)
    assert(x8.toSeq == Seq(0.0, 127.0 / 128.0, -1.0))
    // big-endian path via the JDK's own AU writer (AU = PCM_SIGNED BE)
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val be = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, true)
    val raw = java.nio.ByteBuffer.allocate(4).putShort(16384.toShort).putShort((-32768).toShort).array()
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), be, 2), AudioFileFormat.Type.AU, baos)
    val (fmtBe, xBe) = Media.decodePcm(baos.toByteArray).get
    assert(fmtBe.isBigEndian)
    assert(xBe.toSeq == Seq(0.5, -1.0))
  }

  test("q_media_dedup_planted output equals its SQL-predicted pair list") {
    val got = SparkEntry.queries("q_media_dedup_planted")(spark, TestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val docs = table("documents").select("doc_id").as[Long].collect()
    assert(got == docs.map(d => (d, d + 1000000L, 0)).toSet)
  }

  test("imageAgainstHistory drops re-encoded history copies, keeps fresh and undecodable images") {
    // history: signatures of patterns 1 and 2 (ingested earlier)
    val history = Media.imageSignatures(
      Seq((901L, Media.syntheticPng(1)), (902L, Media.syntheticPng(2)))
        .toDF("img_id", "img"),
      "img_id", "img")
    // a NEAR-copy of pattern 2 with one corner block blacked out: a
    // local edit moves a few dHash bits (a uniform brightness jitter
    // would move NONE — dHash compares adjacent means, so it is
    // brightness-shift-invariant by design); pin the construction in
    // range before relying on it
    val tweaked = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Media.syntheticPng(2)))
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val hamming = {
      val s = Media.imageSignatures(
        Seq((0L, Media.syntheticPng(2)), (1L, tweaked)).toDF("img_id", "img"),
        "img_id", "img").orderBy("img_id").select("__sig").as[Long].collect()
      java.lang.Long.bitCount(s(0) ^ s(1))
    }
    assert(hamming > 0 && hamming <= 6, s"construction drifted: hamming $hamming")
    val batch = Seq(
      (1L, Media.syntheticPng(1)), // byte-identical re-encode → drop
      (2L, tweaked),               // near-copy, small nonzero hamming → drop
      (3L, Media.syntheticPng(77)),// fresh pattern → survive
      (4L, "not an image".getBytes)// undecodable → null sig → survive
    ).toDF("img_id", "img")
    val kept = Media.imageAgainstHistory(batch, "img_id", "img",
        history, maxHamming = 6)
      .select("img_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(3L, 4L))
    // empty history screens nothing
    val none = Media.imageAgainstHistory(batch, "img_id", "img",
      history.filter(lit(false)), maxHamming = 6)
    assert(none.count() == 4L)
    // threshold 0 = exact-signature-only screen: the jittered copy now
    // survives, the byte-identical one still drops
    val strict = Media.imageAgainstHistory(batch, "img_id", "img",
        history, maxHamming = 0)
      .select("img_id").as[Long].collect().sorted.toSeq
    assert(strict == Seq(2L, 3L, 4L))
  }

  test("parseImageDims: WebP VP8/VP8L/VP8X dims round-trip; corrupt profiles and truncations screen out") {
    assert(Media.parseImageDims(Media.syntheticWebp(640, 480, "vp8"))
      .contains(("webp", 640, 480)))
    assert(Media.parseImageDims(Media.syntheticWebp(333, 77, "vp8l"))
      .contains(("webp", 333, 77)))
    assert(Media.parseImageDims(Media.syntheticWebp(70000, 50000, "vp8x"))
      .contains(("webp", 70000, 50000)))
    // field-width boundaries: VP8L stores minus-one in 14 bits (max
    // 16384), VP8 stores the raw 14-bit value (max 16383)
    assert(Media.parseImageDims(Media.syntheticWebp(16384, 1, "vp8l"))
      .contains(("webp", 16384, 1)))
    assert(Media.parseImageDims(Media.syntheticWebp(16383, 16383, "vp8"))
      .contains(("webp", 16383, 16383)))
    // a WAV RIFF is not a WEBP RIFF
    assert(Media.parseImageDims(Media.syntheticWav(1000)).isEmpty)
    // corrupt VP8 sync code / unknown first chunk screen out
    val badSync = Media.syntheticWebp(10, 10, "vp8"); badSync(23) = 0
    assert(Media.parseImageDims(badSync).isEmpty)
    val badChunk = Media.syntheticWebp(10, 10, "vp8l"); badChunk(12) = 'A'.toByte
    assert(Media.parseImageDims(badChunk).isEmpty)
    val badSig = Media.syntheticWebp(10, 10, "vp8l"); badSig(20) = 0
    assert(Media.parseImageDims(badSig).isEmpty)
    // every truncation parses without throwing and never invents dims
    for (kind <- Seq("vp8", "vp8l", "vp8x")) {
      val full = Media.syntheticWebp(99, 55, kind)
      (0 until full.length).foreach { len =>
        val r = Media.parseImageDims(full.take(len))
        assert(r.isEmpty || r.contains(("webp", 99, 55)), s"$kind len=$len: $r")
      }
    }
    // webp is dims-only: no JDK decoder, so the pixel path screens out
    assert(Media.decodeImage(Media.syntheticWebp(64, 48, "vp8l")).isEmpty)
    assert(Media.dHash(Media.syntheticWebp(64, 48, "vp8l")).isEmpty)
  }

  test("resizeImage: exact nearest-neighbor remap, determinism, fit arithmetic, null contract") {
    import spark.implicits._
    // 2x1 (red | white) upscaled to 4x2: nearest-neighbor floor maps
    // x∈{0,1}→src 0 (red), x∈{2,3}→src 1 (white) — pixel-exact
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFF0000); img.setRGB(1, 0, 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val twoByOne = baos.toByteArray
    val up = Media.resizeImage(twoByOne, 4, 2).get
    val dec = Media.decodeImage(up).get
    assert(dec.getWidth == 4 && dec.getHeight == 2)
    for (y <- 0 until 2; x <- 0 until 4)
      assert((dec.getRGB(x, y) & 0xFFFFFF) ==
        (if (x < 2) 0xFF0000 else 0xFFFFFF), s"($x,$y)")
    // output parses as a PNG with the requested dims
    assert(Media.parseImageDims(up).contains(("png", 4, 2)))
    // deterministic: same input, byte-identical output
    assert(java.util.Arrays.equals(up, Media.resizeImage(twoByOne, 4, 2).get))
    // downscale of a solid color stays that color
    val solid = Media.resizeImage(
      Media.resizeImage(twoByOne, 1, 1).get, 3, 3).get
    val sdec = Media.decodeImage(solid).get
    assert((0 until 3).forall(x => (sdec.getRGB(x, 0) & 0xFFFFFF) ==
      (sdec.getRGB(0, 0) & 0xFFFFFF)))
    // fit arithmetic: longest side to the box, floor division, min 1
    assert(Media.fitDims(100, 50, 32) == ((32, 16)))
    assert(Media.fitDims(50, 100, 32) == ((16, 32)))
    assert(Media.fitDims(7, 7, 32) == ((32, 32)))
    assert(Media.fitDims(1000, 1, 32) == ((32, 1)))
    assert(Media.fitDims(1, 1000, 32) == ((1, 32)))
    val fitted = Media.resizeImageFit(Media.syntheticPng(5), 18).get
    assert(Media.parseImageDims(fitted).contains(("png", 18, 16))) // 36x32 → 18x16
    // undecodable / null inputs yield None; the column form nulls
    assert(Media.resizeImage("not an image".getBytes, 4, 4).isEmpty)
    assert(Media.resizeImage(null, 4, 4).isEmpty)
    assert(Media.resizeImage(Media.syntheticWebp(8, 8), 4, 4).isEmpty) // dims-only format
    val df = Seq((1L, Media.syntheticPng(1)),
        (2L, null.asInstanceOf[Array[Byte]])).toDF("id", "img")
    val out = Media.resizeImages(df, "img", 8, 8)
      .select(col("id"), col("resized").isNull.as("n"))
      .as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false, 2L -> true))
    // invalid target dims refuse loudly
    assert(intercept[IllegalArgumentException](
      Media.resizeImage(twoByOne, 0, 4)).getMessage.contains("resize dims"))
  }

  test("area resize: closed-form block means, half-up rounding, solid invariance, upscale == nearest") {
    import spark.implicits._
    def png(pixels: Seq[Seq[Int]]): Array[Byte] = {
      val h = pixels.length; val w = pixels.head.length
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixels(y)(x))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    def rgb(r: Int, g: Int, b: Int) = (r << 16) | (g << 8) | b
    // 2x2 → 1x1: per-channel means of four known pixels, HALF-UP:
    // R (10+11+12+13)/4 = 11.5 → 12; G (0+0+3+0)/4 = 0.75 → 1;
    // B (255+0+0+1)/4 = 64
    val quad = png(Seq(Seq(rgb(10, 0, 255), rgb(11, 0, 0)),
                       Seq(rgb(12, 3, 0), rgb(13, 0, 1))))
    val one = Media.decodeImage(Media.resizeImage(quad, 1, 1, "area").get).get
    assert((one.getRGB(0, 0) & 0xFFFFFF) == rgb(12, 1, 64))
    // 4x2 → 2x1: disjoint 2x2 blocks average independently
    val two = png(Seq(Seq(rgb(0, 0, 0), rgb(2, 0, 0), rgb(100, 0, 0), rgb(100, 0, 0)),
                      Seq(rgb(4, 0, 0), rgb(6, 0, 0), rgb(100, 0, 0), rgb(104, 0, 0))))
    val tdec = Media.decodeImage(Media.resizeImage(two, 2, 1, "area").get).get
    assert((tdec.getRGB(0, 0) & 0xFFFFFF) == rgb(3, 0, 0))   // (0+2+4+6)/4
    assert((tdec.getRGB(1, 0) & 0xFFFFFF) == rgb(101, 0, 0)) // (100·3+104)/4
    // the planted corpus contract behind q_media_resize_area:
    // syntheticPng is 4x4-constant blocks, so a 36x32 → 9x8 area pass
    // reproduces each block's gray VERBATIM (mean of a constant)
    val src = Media.decodeImage(Media.syntheticPng(42)).get
    val area98 = Media.decodeImage(
      Media.resizeImage(Media.syntheticPng(42), 9, 8, "area").get).get
    for (j <- 0 until 8; i <- 0 until 9)
      assert((area98.getRGB(i, j) & 0xFFFFFF) ==
        (src.getRGB(i * 4, j * 4) & 0xFFFFFF), s"block ($i,$j)")
    // solid color survives any area resize exactly
    val solid = png(Seq.fill(5)(Seq.fill(7)(rgb(9, 200, 77))))
    val sdec = Media.decodeImage(Media.resizeImage(solid, 3, 2, "area").get).get
    for (y <- 0 until 2; x <- 0 until 3)
      assert((sdec.getRGB(x, y) & 0xFFFFFF) == rgb(9, 200, 77))
    // upscale: every source block degenerates to one pixel → area ==
    // nearest, byte-identical
    assert(java.util.Arrays.equals(
      Media.resizeImage(quad, 5, 3, "area").get,
      Media.resizeImage(quad, 5, 3, "nearest").get))
    // deterministic; fit form threads the algo; unknown algo refuses
    assert(java.util.Arrays.equals(
      Media.resizeImage(two, 2, 1, "area").get,
      Media.resizeImage(two, 2, 1, "area").get))
    assert(Media.parseImageDims(
      Media.resizeImageFit(Media.syntheticPng(5), 18, "area").get)
      .contains(("png", 18, 16)))
    assert(intercept[IllegalArgumentException](
      Media.resizeImage(quad, 2, 2, "bicubic")).getMessage.contains("algo"))
    // DataFrame form: algo=area, null contract intact
    val df = Seq((1L, Media.syntheticPng(1)),
        (2L, null.asInstanceOf[Array[Byte]])).toDF("id", "img")
    val out = Media.resizeImages(df, "img", 9, 8, algo = "area")
      .select(col("id"), col("resized").isNull.as("n"))
      .as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false, 2L -> true))
  }

  test("pluggable decoder hooks: signatures and profiles pick up hook coverage; default unchanged") {
    import spark.implicits._
    // a format the JVM cannot decode: "GIMG" + w + h + w·h gray bytes
    def mockImg(w: Int, h: Int, seed: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + w * h)
      bb.put("GIMG".getBytes("US-ASCII")); bb.putInt(w); bb.putInt(h)
      var i = 0
      while (i < w * h) { bb.put(((seed * 31 + i * 7) & 0xFF).toByte); i += 1 }
      bb.array()
    }
    def isGimg(b: Array[Byte]) =
      b.length >= 12 && b(0) == 'G' && b(1) == 'I' && b(2) == 'M' && b(3) == 'G'
    val blob = mockImg(16, 8, 1)
    // without a hook: undecodable end to end (the honest r17 scope)
    assert(Media.decodeImage(blob).isEmpty && Media.dHash(blob).isEmpty)
    Media.setImageDecoder { b =>
      if (!isGimg(b)) None
      else {
        val bb = java.nio.ByteBuffer.wrap(b)
        bb.position(4); val w = bb.getInt; val h = bb.getInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val g = b(12 + y * w + x) & 0xFF
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
        }
        Some(img)
      }
    }
    try {
      // the hook decodes; the JDK formats still take the JDK path
      assert(Media.decodeImage(blob).exists(i => i.getWidth == 16 && i.getHeight == 8))
      assert(Media.decodeImage(Media.syntheticPng(3)).isDefined)
      val sig = Media.dHash(blob)
      assert(sig.isDefined)
      // the EXISTING signature machinery now covers the format: a
      // re-containered copy (identical pixels, trailing junk the mock
      // decoder ignores) pairs at hamming 0; an unrelated one doesn't
      val copy = mockImg(16, 8, 1) ++ Array[Byte](99)
      val other = mockImg(16, 8, 77)
      val frame = Seq((1L, blob), (2L, copy), (3L, other)).toDF("id", "img")
      val pairs = Media.imageNearDup(frame, "id", "img", maxHamming = 0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 2L)) && !pairs.exists(p => p._1 == 3L || p._2 == 3L))
      // the history screen flows too: id 2 drops against id 1's stored
      // signature, the unrelated id 3 survives
      val hist = Media.imageSignatures(frame.filter($"id" === 1L), "id", "img")
      val survivors = Media.imageAgainstHistory(
        frame.filter($"id" > 1L), "id", "img", hist, maxHamming = 0)
        .select("id").as[Long].collect().toSet
      assert(survivors == Set(3L))
      // and the coverage profile REPORTS the widened coverage: the
      // mock format has no parseable dims (format 'unknown') but is
      // now decodable — n_decodable counts it
      val prof = Media.imageFormatProfile(frame, "img")
        .filter($"format" === "unknown")
        .select("n", "n_decodable").as[(Long, Long)].collect().toSeq
      assert(prof == Seq((3L, 3L)))
    } finally Media.clearImageDecoder()
    // hook cleared: default behavior restored bit-for-bit
    assert(Media.decodeImage(blob).isEmpty)

    // audio: "GAUD" + unsigned bytes as samples
    def mockAud(seed: Int): Array[Byte] =
      "GAUD".getBytes("US-ASCII") ++
        Array.tabulate(260)(i => (((seed * 17 + i * i) % 251) & 0xFF).toByte)
    val aud = mockAud(1)
    assert(Media.decodePcm(aud).isEmpty && Media.audioHash(aud).isEmpty)
    Media.setAudioDecoder { b =>
      if (!(b.length > 4 && b(0) == 'G' && b(1) == 'A' && b(2) == 'U' && b(3) == 'D')) None
      else Some((8000f, 1, b.drop(4).map(v => ((v & 0xFF) - 128) / 128.0)))
    }
    try {
      val (fmt, samples) = Media.decodePcm(aud).get
      assert(fmt.getSampleRate == 8000f && fmt.getChannels == 1 &&
        samples.length == 260)
      assert(Media.audioHash(aud).isDefined)
      // gain invariance carries through the hook path: a decoder that
      // scaled samples uniformly would keep every differential bit —
      // here, identical bytes re-containered pair exactly
      val aframe = Seq((1L, aud), (2L, mockAud(1)), (3L, mockAud(9)))
        .toDF("id", "wav")
      val apairs = Media.audioNearDup(aframe, "id", "wav", maxHamming = 0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(apairs.contains((1L, 2L)))
      val aprof = Media.audioFormatProfile(aframe, "wav")
        .filter($"format" === "unknown")
        .select("n", "n_decodable").as[(Long, Long)].collect().toSeq
      assert(aprof == Seq((3L, 3L)))
    } finally Media.clearAudioDecoder()
    assert(Media.decodePcm(aud).isEmpty)
  }

  test("pluggable video frame decoder: keyframe plan gains pixels in the still-image signature space") {
    import spark.implicits._
    // 10 frames at 100 ms, sync every 3rd → keyframes 0/300/600/900 ms
    val vid = Media.syntheticMp4(32, 16, durMs = 1000, withAudio = false,
      frames = 10, gop = 3)
    val df = Seq((1L, vid)).toDF("id", "vid")
    // unhooked: the SAME rows as the decode-free plan, sigs all null —
    // the honest coverage contract (no video codecs in this JVM)
    val plan = Media.sampleKeyframes(df, "id", "vid", 4)
      .select("frame_idx", "frame_offset_ms").as[(Int, Long)]
      .collect().toSeq.sorted
    assert(plan == Seq((0, 0L), (1, 300L), (2, 600L), (3, 900L)))
    val unhooked = Media.videoFrameSignatures(df, "id", "vid", 4)
      .select($"frame_idx", $"frame_offset_ms", $"__sig")
      .as[(Int, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(unhooked.map(r => (r._1, r._2)) == plan)
    assert(unhooked.forall(_._3.isEmpty))
    // hook: "decode" the frame at offset t as the planted PNG seeded t
    // — deterministic, and lets us prove the frame sig IS the image
    // sig (same grayGrid → dHash core, orientation 1)
    Media.setVideoFrameDecoder { (b, off) =>
      Media.decodeImage(Media.syntheticPng(off))
    }
    try {
      val sigs = Media.videoFrameSignatures(df, "id", "vid", 4)
        .select($"frame_offset_ms", $"__sig")
        .as[(Long, Option[Long])].collect().toMap
      assert(sigs.keySet == Set(0L, 300L, 600L, 900L))
      sigs.foreach { case (off, sig) =>
        assert(sig == Media.dHash(Media.syntheticPng(off)),
          s"frame sig at $off must equal the still-image dHash")
      }
      // phash variant rides the same dispatch
      val p = Media.videoFrameSignatures(df, "id", "vid", 1, algo = "phash")
        .select($"__sig").as[Option[Long]].head()
      assert(p == Media.pHash(Media.syntheticPng(0L)))
      // a throwing hook stays row-local: null sig, task survives
      Media.setVideoFrameDecoder((_, _) => throw new RuntimeException("boom"))
      val thrown = Media.videoFrameSignatures(df, "id", "vid", 4)
        .filter($"__sig".isNotNull).count()
      assert(thrown == 0L)
    } finally Media.clearVideoFrameDecoder()
    // cleared: back to the honest nulls
    assert(Media.videoFrameSignatures(df, "id", "vid", 4)
      .filter($"__sig".isNotNull).count() == 0L)
  }

  test("parseImageDims: AVIF ispe dims round-trip; corrupt boxes and truncations screen out") {
    assert(Media.parseImageDims(Media.syntheticAvif(640, 480))
      .contains(("avif", 640, 480)))
    assert(Media.parseImageDims(Media.syntheticAvif(1, 1))
      .contains(("avif", 1, 1)))
    assert(Media.parseImageDims(Media.syntheticAvif(8192, 4320))
      .contains(("avif", 8192, 4320)))
    // an MP4 ftyp is not an AVIF ftyp — brand gate, not box-shape gate
    // (major AND compatible brands swapped to MP4's: the synthetic's
    // compat list is "avif","mif1" at offsets 16/20)
    val mp4ish = Media.syntheticAvif(10, 10).clone()
    def setBrand(b: Array[Byte], at: Int, s: String): Unit =
      s.getBytes("US-ASCII").copyToArray(b, at)
    setBrand(mp4ish, 8, "isom"); setBrand(mp4ish, 16, "mp41")
    assert(Media.parseImageDims(mp4ish).isEmpty)
    // major 'mif1' with avif only in the COMPATIBLE brands parses —
    // the dominant real-world encoder stamp (r20 ADVICE fix)
    val mif1 = Media.syntheticAvif(10, 10).clone()
    setBrand(mif1, 8, "mif1")
    assert(Media.parseImageDims(mif1).contains(("avif", 10, 10)))
    // corrupt interior box tags screen out (no meta / no ispe)
    val noMeta = Media.syntheticAvif(10, 10).clone()
    noMeta(24 + 4) = 'X'.toByte // meta tag → Xeta
    assert(Media.parseImageDims(noMeta).isEmpty)
    // hostile child size inside meta: walk bails, never throws
    val badSize = Media.syntheticAvif(10, 10).clone()
    badSize(24 + 12) = 0xFF.toByte // iprp size high byte → huge
    assert(Media.parseImageDims(badSize).isEmpty)
    // every truncation parses without throwing and never invents dims
    val full = Media.syntheticAvif(99, 55)
    (0 until full.length).foreach { len =>
      val r = Media.parseImageDims(full.take(len))
      assert(r.isEmpty || r.contains(("avif", 99, 55)), s"len=$len: $r")
    }
    // avif is dims-only: no JDK AV1 decoder, the pixel path screens out
    assert(Media.decodeImage(Media.syntheticAvif(64, 48)).isEmpty)
    assert(Media.dHash(Media.syntheticAvif(64, 48)).isEmpty)
  }

  // Build a minimal APP1 EXIF segment carrying ONLY the orientation
  // tag and splice it after the JPEG SOI — deterministic bytes, both
  // TIFF byte orders.
  private def withExif(jpeg: Array[Byte], o: Int, le: Boolean): Array[Byte] = {
    def u16(v: Int, little: Boolean) =
      if (little) Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
      else Array[Byte](((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def u32(v: Int, little: Boolean) =
      if (little) Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
      else Array[Byte](((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    val tiff = (if (le) "II".getBytes else "MM".getBytes) ++
      u16(42, le) ++ u32(8, le) ++            // header + IFD0 offset
      u16(1, le) ++                           // one entry
      u16(0x0112, le) ++ u16(3, le) ++ u32(1, le) ++ // tag SHORT ×1
      u16(o, le) ++ u16(0, le) ++             // inline value + pad
      u32(0, le)                              // no next IFD
    val payload = "Exif".getBytes ++ Array[Byte](0, 0) ++ tiff
    val seg = Array[Byte](0xFF.toByte, 0xE1.toByte) ++
      Array[Byte](((payload.length + 2) >> 8).toByte,
        ((payload.length + 2) & 0xFF).toByte) ++ payload
    jpeg.take(2) ++ seg ++ jpeg.drop(2)
  }

  test("exifOrientation: both TIFF byte orders, bounded on hostile bytes, upright default") {
    // a real JPEG via the JDK encoder
    val img = Media.decodeImage(Media.syntheticPng(7L)).get
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    val jpeg = baos.toByteArray
    assert(Media.exifOrientation(jpeg) == 1)
    for (o <- 1 to 8; le <- Seq(true, false))
      assert(Media.exifOrientation(withExif(jpeg, o, le)) == o,
        s"o=$o le=$le")
    // out-of-range value and truncations default upright, never throw
    assert(Media.exifOrientation(withExif(jpeg, 9, le = true)) == 1)
    val tagged = withExif(jpeg, 6, le = true)
    (0 to tagged.length).foreach { len =>
      val v = Media.exifOrientation(tagged.take(len))
      assert(v == 1 || v == 6)
    }
    assert(Media.exifOrientation(Media.syntheticPng(7L)) == 1)
    assert(Media.exifOrientation(null) == 1)
    assert(Media.exifOrientation(Array.emptyByteArray) == 1)
  }

  test("grayGridOriented == grid of the physically transformed image; EXIF-tagged rotation pairs at hamming 0") {
    import java.awt.image.BufferedImage
    def rot90cw(s: BufferedImage): BufferedImage = {
      val out = new BufferedImage(s.getHeight, s.getWidth, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until s.getHeight; x <- 0 until s.getWidth)
        out.setRGB(s.getHeight - 1 - y, x, s.getRGB(x, y))
      out
    }
    def flipH(s: BufferedImage): BufferedImage = {
      val out = new BufferedImage(s.getWidth, s.getHeight, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until s.getHeight; x <- 0 until s.getWidth)
        out.setRGB(s.getWidth - 1 - x, y, s.getRGB(x, y))
      out
    }
    def flipV(s: BufferedImage): BufferedImage = {
      val out = new BufferedImage(s.getWidth, s.getHeight, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until s.getHeight; x <- 0 until s.getWidth)
        out.setRGB(x, s.getHeight - 1 - y, s.getRGB(x, y))
      out
    }
    // the EXIF display transforms, composed from independent primitives
    def display(s: BufferedImage, o: Int): BufferedImage = o match {
      case 1 => s
      case 2 => flipH(s)
      case 3 => rot90cw(rot90cw(s))
      case 4 => flipV(s)
      case 5 => flipH(rot90cw(s))
      case 6 => rot90cw(s)
      case 7 => flipV(rot90cw(s))
      case 8 => rot90cw(rot90cw(rot90cw(s)))
    }
    // non-square stored raster so transposed orientations change dims
    val stored = Media.decodeImage(Media.syntheticPng(11L)).get
    for (o <- 1 to 8; (gw, gh) <- Seq((9, 8), (8, 8))) {
      val viaMap = Media.grayGridOriented(stored, gw, gh, o).toSeq
      val viaPixels = Media.grayGrid(display(stored, o), gw, gh).toSeq
      assert(viaMap == viaPixels, s"o=$o grid=${gw}x$gh")
    }
    // end-to-end: the SAME pixels saved rotated-with-EXIF pair at
    // hamming 0 with the upright original. ONE lossy encode on the
    // tagged side, and the upright reference is the physically
    // re-rotated DECODE of that same JPEG stored losslessly — so the
    // only difference between the two paths is the orientation
    // normalization under test (a second independent JPEG encode
    // would add codec noise that is not the feature's claim; the
    // separate re-encode-robustness spec owns that tolerance).
    def encodeAs(img: BufferedImage, fmt: String) = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, baos)
      baos.toByteArray
    }
    for (o <- Seq(3, 6, 8)) {
      // stored-with-tag-o must DISPLAY as upright: store the inverse
      val inverted = o match {
        case 3 => rot90cw(rot90cw(stored))
        case 6 => rot90cw(rot90cw(rot90cw(stored))) // display rot90cw undoes
        case 8 => rot90cw(stored)
      }
      val jpegInv = encodeAs(inverted, "jpg")
      val taggedHash = Media.dHash(withExif(jpegInv, o, le = true)).get
      val uprightRef = Media.dHash(encodeAs(
        display(Media.decodeImage(jpegInv).get, o), "png")).get
      assert(java.lang.Long.bitCount(uprightRef ^ taggedHash) == 0, s"o=$o")
      // without the tag the rotated copy does NOT pair — the r17 gap
      val untaggedHash = Media.dHash(jpegInv).get
      assert(java.lang.Long.bitCount(uprightRef ^ untaggedHash) > 6, s"o=$o untagged")
    }
    // orientation-1 images hash exactly as before (plain grid path)
    assert(Media.grayGridOriented(stored, 9, 8, 1).toSeq ==
      Media.grayGrid(stored, 9, 8).toSeq)
  }

  test("audioHash: exact gain invariance, 97 distinct class patterns, flat audio hashes 0, hostile inputs None") {
    // gain invariance is EXACT on the dyadic patterned WAVs: every
    // gain of the same seed produces a bit-identical signature
    for (seed <- Seq(0L, 7L, 96L); g <- Seq(1, 2, 17, 255)) {
      val s1 = Media.audioHash(Media.syntheticWavPattern(seed, 1)).get
      val sg = Media.audioHash(Media.syntheticWavPattern(seed, g)).get
      assert(s1 == sg, s"seed=$seed gain=$g")
    }
    // ...and the blobs themselves differ byte-wise (the planted story)
    assert(!java.util.Arrays.equals(
      Media.syntheticWavPattern(7L, 1), Media.syntheticWavPattern(7L, 2)))
    // the q_media_audio_dedup oracle stands on the 97 fixed class
    // patterns being pairwise distinct — deterministic, SF-independent
    val classSigs = (0L until 97L).map(s =>
      Media.audioHash(Media.syntheticWavPattern(s, 1)).get)
    assert(classSigs.distinct.size == 97)
    // constant envelope (the old loud-then-silence shape has only one
    // descending step) ⇒ near-zero signature; pure silence ⇒ 0
    assert(Media.audioHash(Media.syntheticWav(0, 0, 800)).contains(0L))
    // undecodable / null / empty-PCM inputs screen out, never throw
    assert(Media.audioHash(null).isEmpty)
    assert(Media.audioHash("not audio".getBytes).isEmpty)
    assert(Media.audioHash(Media.syntheticWav(100, 0, 0)).isEmpty)
    val full = Media.syntheticWavPattern(5L, 3)
    (0 until full.length by 7).foreach(len => Media.audioHash(full.take(len)))
  }

  test("audioNearDup + audioAgainstHistory: re-gained copies pair/drop, fresh and undecodable survive") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Media.syntheticWavPattern(10L, 5)),
      (2L, Media.syntheticWavPattern(10L, 200)), // re-gained copy of 1
      (3L, Media.syntheticWavPattern(11L, 5)),   // different recording
      (4L, null.asInstanceOf[Array[Byte]])
    ).toDF("audio_id", "wav")
    val pairs = Media.audioNearDup(corpus, "audio_id", "wav", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // history screen: the ingested class drops, fresh + null survive
    val history = Media.audioSignatures(
      Seq((100L, Media.syntheticWavPattern(10L, 77))).toDF("audio_id", "wav"),
      "audio_id", "wav")
    val kept = Media.audioAgainstHistory(corpus, "audio_id", "wav",
        history, maxHamming = 0)
      .select("audio_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(3L, 4L))
  }

  test("pHash: byte-identical and re-encoded copies pair, distinct patterns differ, EXIF-normalized") {
    val a = Media.pHash(Media.syntheticPng(42L)).get
    assert(Media.pHash(Media.syntheticPng(42L)).get == a)
    assert(Media.pHash(Media.syntheticPng(43L)).get != a)
    // brightness shift: pHash thresholds against the coefficient
    // median, and a uniform shift moves only the DC coefficient — the
    // 63 AC terms and (being DC-dominated) the median band keep the
    // re-graded copy within a small hamming budget
    val shifted = Media.pHash(Media.syntheticPng(42L, jitter = 10)).get
    assert(java.lang.Long.bitCount(a ^ shifted) <= 6)
    // JPEG re-encode: low-frequency energy survives recompression
    val img = Media.decodeImage(Media.syntheticPng(42L)).get
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    val reenc = Media.pHash(baos.toByteArray).get
    assert(java.lang.Long.bitCount(a ^ reenc) <= 6)
    // imageSignatures routes the algo; unknown algos are refused
    val sigs = Media.imageSignatures(
      { import spark.implicits._
        Seq((1L, Media.syntheticPng(42L))).toDF("img_id", "img") },
      "img_id", "img", algo = "phash")
    assert(sigs.select("__sig").collect().head.getLong(0) == a)
    intercept[IllegalArgumentException](Media.imageSignatures(
      { import spark.implicits._
        Seq((1L, Media.syntheticPng(42L))).toDF("img_id", "img") },
      "img_id", "img", algo = "nope"))
    assert(Media.pHash(null).isEmpty)
    assert(Media.pHash("junk".getBytes).isEmpty)
    // EXIF normalization rides the same oriented grid as dHash: a
    // rotation-tagged copy pairs at hamming 0 with the upright pixels
    // (single lossy encode + lossless reference, the dHash pattern)
    val up = Media.decodeImage(Media.syntheticPng(42L)).get
    val rot270 = {
      def r(s: java.awt.image.BufferedImage) = {
        val o = new java.awt.image.BufferedImage(s.getHeight, s.getWidth,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (yy <- 0 until s.getHeight; xx <- 0 until s.getWidth)
          o.setRGB(s.getHeight - 1 - yy, xx, s.getRGB(xx, yy))
        o
      }
      r(r(r(up)))
    }
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rot270, "jpg", jb)
    val jpegRot = jb.toByteArray
    val tagged = Media.pHash(withExif(jpegRot, 6, le = true)).get
    val refImg = Media.decodeImage(jpegRot).get
    val refUp = {
      val o = new java.awt.image.BufferedImage(refImg.getHeight, refImg.getWidth,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (yy <- 0 until refImg.getHeight; xx <- 0 until refImg.getWidth)
        o.setRGB(refImg.getHeight - 1 - yy, xx, refImg.getRGB(xx, yy))
      o
    }
    val pb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(refUp, "png", pb)
    val ref = Media.pHash(pb.toByteArray).get
    assert(java.lang.Long.bitCount(tagged ^ ref) == 0)
  }

  test("parseMp4Tracks: v0 and v1 boxes round-trip the builder's closed-form fields") {
    for (v1 <- Seq(false, true)) {
      val bytes = Media.syntheticMp4(640, 360, durMs = 12345L,
        withAudio = true, videoCodec = "avc1", v1 = v1)
      val ts = Media.parseMp4Tracks(bytes)
      assert(ts.size == 2, s"v1=$v1: $ts")
      val vid = ts.find(_.handler == "vide").get
      assert(vid == Media.Mp4Track(1L, "vide", "avc1", 640, 360,
        Some(12345L), "und"), s"v1=$v1")
      val aud = ts.find(_.handler == "soun").get
      assert(aud == Media.Mp4Track(2L, "soun", "mp4a", 0, 0,
        Some(12345L), "eng"), s"v1=$v1")
      // the mvhd container duration agrees (timescale 1000 → ms)
      assert(Media.parseMp4Meta(bytes).contains(12345L), s"v1=$v1")
    }
    // video-only container
    val solo = Media.parseMp4Tracks(
      Media.syntheticMp4(320, 240, 500L, withAudio = false, videoCodec = "hvc1"))
    assert(solo.map(t => (t.handler, t.codec)) == Seq(("vide", "hvc1")))
  }

  test("parseMp4Tracks never throws on truncations, corrupt sizes, or foreign bytes") {
    val bytes = Media.syntheticMp4(640, 360, 1000L, withAudio = true)
    // every prefix parses without throwing, and a prefix can never
    // invent a track the full file does not have
    (0 to bytes.length).foreach { len =>
      val ts = Media.parseMp4Tracks(bytes.take(len))
      assert(ts.size <= 2, s"len=$len")
    }
    // corrupt child size mid-moov: keep earlier siblings, no throw
    val corrupt = bytes.clone()
    // second trak's size field: find it by scanning for the 2nd "trak"
    val s = new String(corrupt.map(b => (b & 0xFF).toChar))
    val t2 = s.indexOf("trak", s.indexOf("trak") + 1) - 4
    corrupt(t2) = 0x7F.toByte // size now huge → overruns moov
    val kept = Media.parseMp4Tracks(corrupt)
    assert(kept.map(_.handler) == Seq("vide"))
    // non-BMFF bytes
    assert(Media.parseMp4Tracks("not an mp4 at all".getBytes).isEmpty)
    assert(Media.parseMp4Tracks(null).isEmpty)
    assert(Media.parseMp4Tracks(Array.emptyByteArray).isEmpty)
    // header-only (declared size 8) tkhd/mdhd as the FINAL box of the
    // file: the version byte would sit exactly at bytes.length, so an
    // unguarded read throws AIOOBE instead of screening the box out
    def b32(v: Long) = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def bx(t: String, payload: Array[Byte]) =
      b32(8L + payload.length) ++ t.getBytes("US-ASCII") ++ payload
    val ftyp8 = bx("ftyp", "isom".getBytes ++ b32(0L))
    val tkhdOnly = ftyp8 ++ bx("moov", bx("trak", bx("tkhd", Array.emptyByteArray)))
    assert(Media.parseMp4Tracks(tkhdOnly).isEmpty)
    val hdlrV = bx("hdlr", b32(0L) ++ b32(0L) ++ "vide".getBytes)
    val mdhdOnly = ftyp8 ++
      bx("moov", bx("trak", bx("mdia", hdlrV ++ bx("mdhd", Array.emptyByteArray))))
    assert(Media.parseMp4Tracks(mdhdOnly).isEmpty)
    assert(Media.parseMp4Keyframes(mdhdOnly).isEmpty)
  }

  test("parseMp4Keyframes + sampleKeyframes: sync-sample timing from real stts/stss") {
    // 10 frames at 100 ms, keyframe every 4 → sync samples 1, 5, 9 at
    // 0 / 400 / 800 ms
    val withGop = Media.syntheticMp4(320, 240, durMs = 1000L,
      withAudio = false, frames = 10, gop = 4)
    assert(Media.parseMp4Keyframes(withGop) == Seq(0L, 400L, 800L))
    // absent stss → every sample is sync (the ISO-BMFF default)
    val allSync = Media.syntheticMp4(320, 240, 1000L, withAudio = false,
      frames = 10)
    assert(Media.parseMp4Keyframes(allSync) == (0 until 10).map(_ * 100L))
    // the cap subsamples evenly and deterministically
    assert(Media.parseMp4Keyframes(allSync, cap = 5) ==
      Seq(0L, 200L, 400L, 600L, 800L))
    // no sample tables / no video track / junk → empty, never a throw
    assert(Media.parseMp4Keyframes(
      Media.syntheticMp4(320, 240, 1000L, withAudio = true)).isEmpty)
    assert(Media.parseMp4Keyframes("junk".getBytes).isEmpty)
    (0 to withGop.length by 7).foreach { len =>
      Media.parseMp4Keyframes(withGop.take(len))
    }
    // the sampler: more keyframes than n → even pick; fewer → all;
    // table-less rows drop
    val df = Seq(
      (1L, Media.syntheticMp4(320, 240, 4000L, withAudio = false,
        frames = 40, gop = 2)),          // 20 keyframes at 0,200,…
      (2L, withGop),                     // 3 keyframes
      (3L, "junk".getBytes)
    ).toDF("vid", "blob")
    val got = Media.sampleKeyframes(df, "vid", "blob", n = 4)
      .orderBy("vid", "frame_idx")
      .as[(Long, Int, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0, 0L), (1L, 1, 1000L), (1L, 2, 2000L), (1L, 3, 3000L),
      (2L, 0, 0L), (2L, 1, 400L), (2L, 2, 800L)))
  }

  test("videoTracks / videoStreamScreen: inventory and pre-decode gate") {
    val rows = Seq(
      (1L, Media.syntheticMp4(1280, 720, 4000L, withAudio = true)),
      (2L, Media.syntheticMp4(320, 240, 2000L, withAudio = false, videoCodec = "hvc1")),
      (3L, "junk".getBytes)) // unparseable
    val df = rows.toDF("media_id", "blob")
    val inv = Media.videoTracks(df, "media_id", "blob")
      .select("media_id", "track_id", "handler", "codec", "width", "height")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getInt(4), r.getInt(5))).toSet
    assert(inv == Set(
      (1L, 1L, "vide", "avc1", 1280, 720),
      (1L, 2L, "soun", "mp4a", 0, 0),
      (2L, 1L, "vide", "hvc1", 320, 240)))
    val screen = Media.videoStreamScreen(df, "media_id", "blob",
        minWidth = 640, minHeight = 360)
      .select("media_id", "n_tracks", "has_video", "has_audio",
        "vid_width", "vid_codec", "duration_ms", "ok")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
        r.getBoolean(3), if (r.isNullAt(4)) -1 else r.getInt(4),
        Option(r.getString(5)).orNull,
        if (r.isNullAt(6)) -1L else r.getLong(6), r.getBoolean(7))).toSet
    assert(screen == Set(
      (1L, 2, true, true, 1280, "avc1", 4000L, true),
      (2L, 1, true, false, 320, "hvc1", 2000L, false),
      (3L, 0, false, false, -1, null, -1L, false)))
  }

  test("wavPcmFastPath: bit-identical to the AudioSystem path on every accepted input, declines the rest") {
    // Canonical WAV builder with deliberate header knobs — each knob
    // either keeps the container in the fast path's provable subset or
    // pushes it out (where it MUST decline and fall back to the JDK).
    def wavBytes(bits: Int, channels: Int, rate: Int, frames: Int,
                 fmtTag: Int = 1,
                 extraChunk: Option[(String, Int)] = None,
                 blockAlignOverride: Option[Int] = None,
                 dataLenOverride: Option[Int] = None,
                 riffLenOverride: Option[Int] = None): Array[Byte] = {
      val frameSize = (bits / 8) * channels
      val data = Array.tabulate[Byte](frames * frameSize)(i => ((i * 37 + 11) % 251).toByte)
      val extra = extraChunk.map { case (_, n) => 8 + n }.getOrElse(0)
      val riffLen = riffLenOverride.getOrElse(4 + 24 + extra + 8 + data.length)
      val bb = java.nio.ByteBuffer.allocate(12 + 24 + extra + 8 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(riffLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(fmtTag.toShort).putShort(channels.toShort)
        .putInt(rate).putInt(rate * frameSize)
        .putShort(blockAlignOverride.getOrElse(frameSize).toShort)
        .putShort(bits.toShort)
      extraChunk.foreach { case (name, n) =>
        bb.put(name.getBytes("US-ASCII")).putInt(n)
          .put(Array.fill[Byte](n)(0x5A))
      }
      bb.put("data".getBytes("US-ASCII"))
        .putInt(dataLenOverride.getOrElse(data.length)).put(data)
      bb.array()
    }
    def assertIdentity(b: Array[Byte], expectFast: Boolean): Unit = {
      assert(Media.wavPcmFastPath(b).isDefined == expectFast,
        s"fast-path acceptance expected=$expectFast")
      val ref = Media.decodePcmViaAudioSystem(b)
      val got = Media.decodePcm(b)
      assert(got.isDefined == ref.isDefined, "decodability diverged from the JDK")
      (got, ref) match {
        case (Some((gf, gx)), Some((rf, rx))) =>
          assert(gf.getEncoding == rf.getEncoding)
          assert(gf.getSampleRate == rf.getSampleRate)
          assert(gf.getSampleSizeInBits == rf.getSampleSizeInBits)
          assert(gf.getChannels == rf.getChannels)
          assert(gf.getFrameSize == rf.getFrameSize)
          assert(gf.isBigEndian == rf.isBigEndian)
          assert(java.util.Arrays.equals(gx, rx), "decoded samples diverged")
        case _ => ()
      }
    }
    // the two generators the registered audio queries decode, across
    // their parameter ranges
    for (amp <- Seq(0, 1, 12288, 30000, 32767);
         (nl, nt) <- Seq((0, 4), (2, 4), (400, 800), (800, 800)))
      assertIdentity(Media.syntheticWav(amp, nl, nt), expectFast = true)
    for (seed <- Seq(0L, 1L, 96L, -5L); gain <- Seq(1, 128, 255))
      assertIdentity(Media.syntheticWavPattern(seed, gain), expectFast = true)
    // bit depths / channel counts / rates the fast path claims
    for (bits <- Seq(8, 16, 24, 32); ch <- Seq(1, 2); frames <- Seq(0, 1, 7, 200))
      assertIdentity(wavBytes(bits, ch, 44100, frames), expectFast = true)
    assertIdentity(wavBytes(16, 6, 8000, 50), expectFast = true)
    // an even-length unknown chunk between fmt and data: both walk past
    assertIdentity(wavBytes(16, 2, 8000, 10, extraChunk = Some(("LIST", 26))),
      expectFast = true)
    // declared data length shorter than the payload and not a frame
    // multiple: both truncate to whole frames
    assertIdentity(wavBytes(16, 2, 8000, 3, dataLenOverride = Some(10)),
      expectFast = true)
    // out of the provable subset -> fast path MUST decline (the JDK
    // path then owns the answer, identity holds by construction):
    // odd-length skipped chunk (pad semantics), float PCM tag,
    // extensible tag, non-byte-aligned bits, inconsistent block align,
    // lying RIFF length, data spilling past the container
    assertIdentity(wavBytes(16, 1, 8000, 10, extraChunk = Some(("LIST", 7))),
      expectFast = false)
    assertIdentity(wavBytes(16, 1, 8000, 10, fmtTag = 3), expectFast = false)
    assertIdentity(wavBytes(16, 1, 8000, 10, fmtTag = 0xFFFE), expectFast = false)
    assertIdentity(wavBytes(16, 1, 8000, 10, blockAlignOverride = Some(3)),
      expectFast = false)
    assertIdentity(wavBytes(16, 1, 8000, 10, riffLenOverride = Some(20)),
      expectFast = false)
    assertIdentity(wavBytes(16, 1, 8000, 10,
      dataLenOverride = Some(1000)), expectFast = false)
    // µ-law (tag 7) converts through the JDK converter — never fast
    assertIdentity(wavBytes(8, 1, 8000, 10, fmtTag = 7), expectFast = false)
    // the JDK's own writers (WAV round-trip plus AIFF/AU, which are not
    // RIFF at all) and non-audio magics
    def encoded(t: javax.sound.sampled.AudioFileFormat.Type,
                bits: Int, ch: Int, be: Boolean): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, bits, ch, true, be)
      val pcm = Array.tabulate[Byte](400)(i => (i % 64).toByte)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 400 / ((bits / 8) * ch))
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, t, baos)
      baos.toByteArray
    }
    val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
    assertIdentity(encoded(wave, 16, 1, be = false), expectFast = true)
    assertIdentity(encoded(wave, 16, 2, be = false), expectFast = true)
    assertIdentity(
      encoded(javax.sound.sampled.AudioFileFormat.Type.AIFF, 16, 1, be = true),
      expectFast = false)
    assertIdentity(
      encoded(javax.sound.sampled.AudioFileFormat.Type.AU, 16, 1, be = true),
      expectFast = false)
    val mp3 = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0) ++
      Array.fill(96)(0.toByte)
    assertIdentity(mp3, expectFast = false)
    assertIdentity("OggS0000".getBytes, expectFast = false)
    assertIdentity("random junk, definitely not audio".getBytes, expectFast = false)
    assertIdentity(Array[Byte](1, 2), expectFast = false)
    assert(Media.decodePcm(Array.empty[Byte]).isEmpty)
    assert(Media.decodePcm(null).isEmpty)
  }
}
