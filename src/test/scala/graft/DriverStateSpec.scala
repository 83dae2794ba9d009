package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.incremental.WatermarkStore
import graft.monitoring.RunHistory
import graft.sources.SmallParquet

/** The driver-side paths for engine state: the watermark ledger's
  * `last`, ledger and history appends, and parquet schema lookups in
  * `Catalog.load`. Each must answer exactly what the Spark path
  * answers, and run no Spark job while the state is small.
  */
class DriverStateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = scratchDir(prefix).toString
  private def fs: FileSystem = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def leafFiles(dir: String, p: String, s: String) =
    SmallParquet.list(spark, new Path(s"$dir/pipeline_id=$p/source_id=$s"))

  private def footer(p: Path) = {
    val in = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p,
        spark.sparkContext.hadoopConfiguration))
    try in.getFooter.getFileMetaData finally in.close()
  }
  private val rowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private def dataFiles(dir: String): Seq[Path] =
    fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))

  test("WatermarkStore.last: driver derivation equals the Spark query on seeded random ledgers") {
    val rnd = new scala.util.Random(20261019L)
    val instants = (0 until 4).map(i => ts(s"2024-05-0${i + 1} 00:00:00"))
    // column c2's instants are one second apart from c1's: same-instant
    // ties stay within one column, where the returned row is decided by
    // the ordering keys alone
    def instant(c: String) = {
      val t = instants(rnd.nextInt(instants.size))
      if (c == "c2") new java.sql.Timestamp(t.getTime + 1000) else t
    }
    val values: Seq[() => Any] = Seq(
      () => Seq(9L, 10L, -1L, 0L, Long.MaxValue)(rnd.nextInt(5)),
      () => Seq(0.0, -0.0, 1.5, 9.0, 10.0, 1e300, Double.PositiveInfinity)(rnd.nextInt(7)),
      () => Seq("a", "b", "9", "10", "\uFFFF", "\uD83D\uDE00", "")(rnd.nextInt(7)),
      () => Seq(ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00.000001"),
        ts("2023-12-31 23:59:59.999"))(rnd.nextInt(3)),
      () => Seq(java.sql.Date.valueOf("2024-01-02"),
        java.sql.Date.valueOf("2023-11-30"))(rnd.nextInt(2)))
    var compared = 0
    (1 to 24).foreach { trial =>
      val dir = tmp("graft_wmprop") + "/wm"
      (1 to 2 + rnd.nextInt(10)).foreach { _ =>
        val c = if (rnd.nextBoolean()) "c1" else "c2"
        rnd.nextInt(10) match {
          case 0 => WatermarkStore.reset(spark, dir, "p", "s", Some(c), at = Some(instant(c)))
          case 1 => WatermarkStore.reset(spark, dir, "p", "s", None, at = Some(instant("c1")))
          case _ => WatermarkStore.update(spark, dir, "p", "s", c,
            values(rnd.nextInt(values.size))(), strategy = s"strat_$c", at = Some(instant(c)))
        }
      }
      val leaf = new Path(s"$dir/pipeline_id=p/source_id=s")
      // compact-overlap duplicates: the same event through a second file
      if (rnd.nextBoolean()) {
        val f = leafFiles(dir, "p", "s").head.getPath
        org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
          new Path(leaf, s"compact-dup$trial.parquet"), false,
          spark.sparkContext.hadoopConfiguration)
      }
      // legacy rows without an event_id, duplicated as whole rows
      if (rnd.nextBoolean()) {
        val c = if (rnd.nextBoolean()) "c1" else "c2"
        val legacy = Seq.fill(1 + rnd.nextInt(2))((c, (rnd.nextInt(20) - 5).toString,
          "long", s"strat_$c", "update", instant(c)))
        val stage = tmp("graft_wmlegacy") + "/l"
        (legacy ++ legacy).toDF("watermark_column", "watermark_value", "value_type",
          "strategy", "op", "update_time").coalesce(1).write.parquet(stage)
        dataFiles(stage).foreach(p => fs.rename(p, new Path(leaf, s"legacy-$trial.parquet")))
      }
      val files = leafFiles(dir, "p", "s")
      Seq(None, Some("c1"), Some("c2"), Some("absent")).foreach { scope =>
        val want = WatermarkStore.sparkLast(spark, dir, "p", "s", scope)
        val got = WatermarkStore.driverLast(spark, files, "p", "s", scope)
        assert(got.map(_.toString) == want.map(_.toString),
          s"trial $trial scope $scope: driver $got vs spark $want")
        assert(WatermarkStore.last(spark, dir, "p", "s", scope).map(_.toString) ==
          want.map(_.toString))
        compared += 1
      }
    }
    assert(compared == 96)

    // Spark orders strings by UTF-8 bytes: U+1F600 ranks above U+FFFF,
    // though Java's UTF-16 compareTo says the opposite
    val dir = tmp("graft_wmutf8") + "/wm"
    WatermarkStore.update(spark, dir, "p", "s", "c", "\uFFFF", at = Some(instants(0)))
    WatermarkStore.update(spark, dir, "p", "s", "c", "\uD83D\uDE00", at = Some(instants(0)))
    assert(WatermarkStore.last(spark, dir, "p", "s").get.value == "\uD83D\uDE00")
    assert(WatermarkStore.sparkLast(spark, dir, "p", "s", None).get.value == "\uD83D\uDE00")
  }

  test("SmallParquet.inferSchema equals spark.read.parquet's schema across physical types") {
    val base = tmp("graft_footer")
    val micros = spark.newSession()
    micros.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val int96 = spark.newSession()
    int96.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val nonNull = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StructType(Seq(
        StructField("a", IntegerType, nullable = false),
        StructField("b", ArrayType(StringType, containsNull = false)))), nullable = false),
      StructField("m", MapType(StringType, IntegerType, valueContainsNull = false))))
    val typed = spark.range(3).select(
      col("id"),
      (col("id") * 1000).cast("timestamp").as("ts"),
      (col("id") * 1000).cast("timestamp").cast("timestamp_ntz").as("ts_ntz"),
      (col("id") / 7).cast("decimal(5,2)").as("d32"),
      (col("id") / 7).cast("decimal(18,4)").as("d64"),
      (col("id") / 7).cast("decimal(30,6)").as("dfixed"),
      col("id").cast("string").cast("binary").as("bin"),
      struct(col("id").as("a"), array(col("id").cast("string")).as("b")).as("nested"),
      map(col("id").cast("string"), col("id")).as("mp"),
      array(struct(col("id").as("x"))).as("arr"))
    typed.write.parquet(s"$base/micros_default")
    int96.range(3).select((col("id") * 1000).cast("timestamp").as("ts"))
      .write.parquet(s"$base/int96")
    micros.range(3).select((col("id") * 1000).cast("timestamp").as("ts"))
      .write.parquet(s"$base/micros")
    spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Row(1, Seq("x")), Map("k" -> 1))), nonNull).write.parquet(s"$base/nonnull")
    spark.sql(s"CREATE TABLE graft_footer_cv (c CHAR(5), v VARCHAR(10), s STRING) " +
      s"USING parquet LOCATION '$base/charvarchar'")
    try spark.sql("INSERT INTO graft_footer_cv VALUES ('ab', 'cd', 'ef')").collect()
    finally spark.sql("DROP TABLE graft_footer_cv")
    // a file without Spark's row metadata: the converter decides
    locally {
      import org.apache.parquet.schema.MessageTypeParser
      val schema = MessageTypeParser.parseMessageType(
        """message m {
          |  required int96 t96;
          |  optional binary raw;
          |  optional binary txt (STRING);
          |  optional int64 ntz (TIMESTAMP(MICROS,false));
          |  optional int64 utc (TIMESTAMP(MICROS,true));
          |  required int32 dec (DECIMAL(5,2));
          |  optional group g { required int32 x; optional binary y (STRING); }
          |}""".stripMargin)
      val conf = new org.apache.hadoop.conf.Configuration()
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new Path(s"$base/plain/part-00000.parquet")).withConf(conf)
        .withType(schema).build()
      val f = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      val g = f.newGroup()
        .append("t96", org.apache.parquet.io.api.Binary.fromConstantByteArray(new Array[Byte](12)))
        .append("raw", "r").append("txt", "t").append("ntz", 1L).append("utc", 2L)
        .append("dec", 123)
      g.addGroup("g").append("x", 1).append("y", "z")
      w.write(g)
      w.close()
      assert(!footer(new Path(s"$base/plain/part-00000.parquet"))
        .getKeyValueMetaData.containsKey(rowMetadataKey))
    }
    // two files of different schemas: Spark reads the first in path order
    Seq(1L).toDF("x").write.parquet(s"$base/two/a")
    Seq((1L, "y")).toDF("x", "y").write.parquet(s"$base/two/b")
    fs.mkdirs(new Path(s"$base/twofiles"))
    dataFiles(s"$base/two/b").foreach(p => fs.rename(p, new Path(s"$base/twofiles/part-0.parquet")))
    dataFiles(s"$base/two/a").foreach(p => fs.rename(p, new Path(s"$base/twofiles/part-1.parquet")))

    val binaryAsString = spark.newSession()
    binaryAsString.conf.set("spark.sql.parquet.binaryAsString", "true")
    val noNtz = spark.newSession()
    noNtz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val noInt96 = spark.newSession()
    noInt96.conf.set("spark.sql.parquet.int96AsTimestamp", "false")
    for {
      name <- Seq("micros_default", "int96", "micros", "nonnull", "charvarchar", "plain",
        "twofiles", "twofiles/part-1.parquet", "plain/part-00000.parquet")
      s <- Seq(spark, binaryAsString, noNtz, noInt96)
    } {
      val got = SmallParquet.inferSchema(s, s"$base/$name", Map.empty)
      scala.util.Try(s.read.parquet(s"$base/$name").schema) match {
        case scala.util.Success(want) =>
          assert(got.contains(want), s"$name: footer ${got.map(_.json)} vs spark ${want.json}")
          val loaded = Catalog.load(s, Catalog.DatasetSpec(name, "parquet", s"$base/$name"))
          assert(loaded.schema == want, name)
          assert(loaded.collect().toSeq.map(_.json).sorted ==
            s.read.parquet(s"$base/$name").collect().toSeq.map(_.json).sorted, name)
        case scala.util.Failure(_) =>
          // Spark refuses this footer under this session (bare INT96
          // with int96AsTimestamp off): the driver read gives way, and
          // Catalog.load fails as Spark does
          assert(got.isEmpty, name)
          intercept[Exception](Catalog.load(s, Catalog.DatasetSpec(name, "parquet", s"$base/$name")))
      }
    }
    assert(SmallParquet.inferSchema(spark, s"$base/twofiles", Map.empty).get.fieldNames.toSeq ==
      Seq("x", "y"))
    assert(SmallParquet.inferSchema(spark, s"$base/int96", Map.empty).get("ts").dataType ==
      TimestampType)

    // where one footer cannot answer, Spark infers
    val merge = spark.newSession()
    merge.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert(SmallParquet.inferSchema(merge, s"$base/twofiles", Map.empty).isEmpty)
    assert(SmallParquet.inferSchema(spark, s"$base/twofiles", Map("mergeSchema" -> "true")).isEmpty)
    assert(SmallParquet.inferSchema(spark, s"$base/two", Map.empty).isEmpty) // subdirectories
    assert(SmallParquet.inferSchema(spark, s"$base/tw*", Map.empty).isEmpty)
    assert(SmallParquet.inferSchema(spark, s"$base/absent", Map.empty).isEmpty)
    fs.rename(new Path(s"$base/twofiles/part-1.parquet"), new Path(s"$base/twofiles/_hidden"))
    assert(SmallParquet.inferSchema(spark, s"$base/twofiles/_hidden", Map.empty).isEmpty)
    Seq((1, "a")).toDF("v", "k").write.partitionBy("k").parquet(s"$base/parted")
    assert(SmallParquet.inferSchema(spark, s"$base/parted", Map.empty).isEmpty)
    fs.create(new Path(s"$base/micros/_common_metadata")).close()
    assert(SmallParquet.inferSchema(spark, s"$base/micros", Map.empty).isEmpty)
    fs.mkdirs(new Path(s"$base/corrupt"))
    val out = fs.create(new Path(s"$base/corrupt/part-0.parquet"))
    out.write("not parquet".getBytes("UTF-8")); out.close()
    assert(SmallParquet.inferSchema(spark, s"$base/corrupt", Map.empty).isEmpty)
    // a declared schema is still validated against the footer
    intercept[IllegalArgumentException](Catalog.load(spark,
      Catalog.DatasetSpec("bad", "parquet", s"$base/int96", schemaDdl = Some("ts STRING"))))
    assert(Catalog.load(spark, Catalog.DatasetSpec("ok", "parquet", s"$base/int96",
      schemaDdl = Some("ts TIMESTAMP"))).count() == 3)
  }

  test("driver-written ledger and history files read back as Spark-written ones do") {
    Seq("INT96", "TIMESTAMP_MICROS").foreach { tsType =>
      val s = spark.newSession()
      s.conf.set("spark.sql.parquet.outputTimestampType", tsType)
      import s.implicits._
      val dir = tmp("graft_wmfmt") + "/wm"
      val at = ts("2024-06-01 12:34:56.123456")
      WatermarkStore.update(s, dir, "p", "src", "seq", 42L, strategy = "sequence", at = Some(at))
      val driverFile = leafFiles(dir, "p", "src").head.getPath
      val id = s.read.parquet(driverFile.toString).select("event_id").as[String].head()
      // the DataFrame write every append used to make
      val stage = tmp("graft_wmfmt_spark") + "/e"
      Seq(("seq", "42", "long", "sequence", "update", id))
        .toDF("watermark_column", "watermark_value", "value_type", "strategy", "op", "event_id")
        .withColumn("update_time", lit(at))
        .select("watermark_column", "watermark_value", "value_type", "strategy", "op",
          "update_time", "event_id")
        .coalesce(1).write.parquet(stage)
      val sparkFile = dataFiles(stage).head
      val (a, b) = (footer(driverFile), footer(sparkFile))
      assert(a.getSchema == b.getSchema, s"$tsType ledger: ${a.getSchema} vs ${b.getSchema}")
      assert(a.getKeyValueMetaData == b.getKeyValueMetaData, tsType)
      assert(s.read.parquet(driverFile.toString).collect().toSeq ==
        s.read.parquet(sparkFile.toString).collect().toSeq)

      // history: RunHistory.append against the partitioned DataFrame append
      val hist = tmp("graft_histfmt") + "/h"
      val old = tmp("graft_histfmt_spark") + "/h"
      val entries = Seq(RunHistory.Entry("q1", 12L, Some(3L), Some("abc")),
        RunHistory.Entry("q2", 7L, failed = true))
      RunHistory.append(s, hist, "run 1/x", entries, Some(at))
      entries.toDF().select(lit("run 1/x").as("run_id"), col("query"),
        col("durationMs").as("duration_ms"), col("rows"), col("planHash").as("plan_hash"),
        col("failed"), lit(at).as("recorded_at"))
        .coalesce(1).write.mode("append").partitionBy("run_id").parquet(old)
      val metrics = Map("recall" -> 0.5, "rate" -> 2.0)
      RunHistory.appendMetrics(s, s"$hist-m", "r", metrics, Some(at))
      metrics.toSeq.toDF("metric", "value").select(lit("r").as("run_id"), col("metric"),
        col("value"), lit(at).as("recorded_at"))
        .coalesce(1).write.mode("append").partitionBy("run_id").parquet(s"$old-m")
      Seq((hist, old, "run_id=run 1%2Fx"), (s"$hist-m", s"$old-m", "run_id=r"))
        .foreach { case (mine, theirs, part) =>
          val (fa, fb) = (dataFiles(s"$mine/$part"), dataFiles(s"$theirs/$part"))
          assert(fa.size == 1 && fb.size == 1, s"$mine: $fa vs $fb")
          val (x, y) = (footer(fa.head), footer(fb.head))
          assert(x.getSchema == y.getSchema, s"$tsType history: ${x.getSchema} vs ${y.getSchema}")
          assert(x.getKeyValueMetaData == y.getKeyValueMetaData, tsType)
          assert(fa.head.getName.matches("part-00000-[0-9a-f-]{36}\\.c000\\.snappy\\.parquet"))
          val (ra, rb) = (s.read.parquet(mine), s.read.parquet(theirs))
          assert(ra.schema == rb.schema)
          assert(ra.collect().toSeq.map(_.toString).sorted ==
            rb.collect().toSeq.map(_.toString).sorted)
        }
      assert(RunHistory.load(s, hist).filter(col("query") === "q2").select("rows")
        .head().isNullAt(0))
    }
  }

  test("ledger reads, writes and compacts, history appends and parquet Catalog.load run no Spark job") {
    val dir = tmp("graft_jobs") + "/wm"
    val (_, updateJobs) = jobsDuring {
      WatermarkStore.update(spark, dir, "p", "s", "seq", 5L, at = Some(ts("2024-01-01 00:00:00")))
      WatermarkStore.update(spark, dir, "p", "s", "seq", 6L, at = Some(ts("2024-01-02 00:00:00")))
      WatermarkStore.reset(spark, dir, "p", "other")
    }
    assert(updateJobs == 0)
    val (wm, lastJobs) = jobsDuring(WatermarkStore.last(spark, dir, "p", "s", Some("seq")))
    assert(wm.map(_.value).contains(6L) && lastJobs == 0, s"$lastJobs jobs")
    assert(jobsDuring(WatermarkStore.last(spark, dir, "p", "absent"))._2 == 0)
    val hist = tmp("graft_jobs_hist") + "/h"
    val (_, histJobs) = jobsDuring {
      RunHistory.append(spark, hist, "r1", Seq(RunHistory.Entry("job", 5L)))
      RunHistory.appendMetrics(spark, s"$hist-m", "r1", Map("m" -> 1.0))
    }
    assert(histJobs == 0)
    val data = tmp("graft_jobs_data") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(data)
    val (loaded, loadJobs) = jobsDuring(Catalog.load(spark,
      Catalog.DatasetSpec("t", "parquet", data)))
    assert(loadJobs == 0 && loaded.schema.fieldNames.toSeq == Seq("k", "v"))
    val (_, declaredJobs) = jobsDuring(Catalog.load(spark,
      Catalog.DatasetSpec("t", "parquet", data, schemaDdl = Some("k BIGINT"))))
    assert(declaredJobs == 0)
    // the parent path: Spark's inference runs a job
    assert(jobsDuring(spark.read.parquet(data))._2 > 0)

    // a large ledger folds on the driver too: 41 uncompacted events
    // beside a bulk file of 2^14 (over 1 MiB in all), then compacted
    val big = tmp("graft_jobs_big") + "/wm"
    (1 to 40).foreach(i => WatermarkStore.update(spark, big, "p", "s", "seq", i.toLong,
      at = Some(new java.sql.Timestamp(ts("2024-01-01 00:00:00").getTime + i * 1000L))))
    WatermarkStore.reset(spark, big, "p", "s", Some("seq"), at = Some(ts("2024-01-01 00:00:30")))
    val stage = tmp("graft_jobs_stage") + "/b"
    spark.range(1 << 14).select(lit("seq").as("watermark_column"),
        col("id").cast("string").as("watermark_value"), lit("long").as("value_type"),
        lit("sequence").as("strategy"), lit("update").as("op"),
        lit(ts("2023-01-01 00:00:00")).as("update_time"),
        sha2(col("id").cast("string"), 256).as("event_id"))
      .coalesce(1).write.parquet(stage)
    dataFiles(stage).foreach(p =>
      fs.rename(p, new Path(s"$big/pipeline_id=p/source_id=s/bulk.parquet")))
    assert(leafFiles(big, "p", "s").map(_.getLen).sum > (1L << 20))
    def check(layout: String): Unit = {
      val (bigWm, bigJobs) = jobsDuring(WatermarkStore.last(spark, big, "p", "s"))
      assert(bigJobs == 0, layout)
      assert(bigWm.map(_.value).contains(40L), layout)
      assert(bigWm == WatermarkStore.sparkLast(spark, big, "p", "s", None), layout)
    }
    check("42 files")
    assert(jobsDuring(WatermarkStore.compact(spark, big))._2 == 0)
    assert(leafFiles(big, "p", "s").size == 43)
    check("42 files and their combined copy")
    WatermarkStore.compact(spark, big)
    assert(leafFiles(big, "p", "s").size == 1)
    check("one compacted file")
    assert(WatermarkStore.events(spark, big, "p", "s").count() == (1 << 14) + 41)
  }

  test("VersionedTable.read and readSince build their frame with no Spark job") {
    import graft.sources.VersionedTable
    val dir = tmp("graft_vtread") + "/t"
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), dir)
    VersionedTable.commit(Seq((2L, "b"), (3L, "c")).toDF("id", "s"), dir)
    val files = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
      .sorted.map(n => s"$dir/$n").toSeq
    val (whole, wholeJobs) = jobsDuring(VersionedTable.read(spark, dir))
    val (delta, deltaJobs) = jobsDuring(VersionedTable.readSince(spark, dir, 1L))
    val (none, noneJobs) = jobsDuring(VersionedTable.readSince(spark, dir, 2L))
    assert((wholeJobs, deltaJobs, noneJobs) == ((0, 0, 0)))
    assert(whole.schema == spark.read.parquet(files: _*).schema)
    assert(delta.schema == whole.schema && none.schema == whole.schema)
    assert(whole.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(delta.as[(Long, String)].collect().toSet == Set((2L, "b"), (3L, "c")))
    assert(none.isEmpty)
  }

  test("a failed ledger append or compact leaves no staging dir; concurrent history appends keep every row") {
    val dir = tmp("graft_wmfail") + "/wm"
    WatermarkStore.update(spark, dir, "p", "s", "seq", 1L)
    // a codec the classpath cannot load fails the write after the
    // staging file is opened
    val broken = spark.newSession()
    broken.conf.set("spark.sql.parquet.compression.codec", "lzo")
    intercept[Throwable](WatermarkStore.update(broken, dir, "p", "s", "seq", 2L))
    intercept[Throwable](RunHistory.append(broken, s"$dir-h", "r", Seq(RunHistory.Entry("q", 1L))))
    val root = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    assert(!root.exists(_.startsWith(".__wm_append_")), root.mkString(","))
    assert(!fs.exists(new Path(s"$dir-h")) ||
      !fs.listStatus(new Path(s"$dir-h")).exists(_.getPath.getName.startsWith(".__hist")))
    assert(WatermarkStore.last(spark, dir, "p", "s").map(_.value).contains(1L))
    WatermarkStore.update(spark, dir, "p", "s", "seq", 3L)
    intercept[Throwable](WatermarkStore.compact(broken, dir))
    val leaf = fs.listStatus(new Path(dir, "pipeline_id=p/source_id=s")).map(_.getPath.getName)
    assert(!leaf.exists(_.startsWith(".__wm_compact_")), leaf.mkString(","))
    assert(leaf.count(_.startsWith("event-")) == 2 && !leaf.exists(_.startsWith("compact-")))
    assert(WatermarkStore.last(spark, dir, "p", "s").map(_.value).contains(3L))

    val hist = tmp("graft_histrace") + "/h"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (0 until 4).map(t => pool.submit(new Runnable {
        def run(): Unit = (0 until 5).foreach(i => RunHistory.append(spark, hist,
          if (i % 2 == 0) "shared" else s"run_$t", Seq(RunHistory.Entry(s"q_${t}_$i", i.toLong),
            RunHistory.Entry(s"q_${t}_${i}_b", i.toLong))))
      }))
      tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val got = RunHistory.load(spark, hist).select("query").as[String].collect().toSet
    val want = (for (t <- 0 until 4; i <- 0 until 5; suf <- Seq("", "_b")) yield s"q_${t}_$i$suf").toSet
    assert(got == want, s"missing ${want -- got}")
    assert(!fs.listStatus(new Path(hist)).exists(_.getPath.getName.startsWith(".")))
  }
}
