package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.StructType

/** Source/sink connectors: the Spark-native re-expression of the
  * reference's connector layer (reference: src/connectors/
  * file_connector.py:78-335, relational_connector.py,
  * cloud_connector.py).
  *
  * The reference distinguishes local/S3/Azure/GCS/HDFS by hand-rolled
  * client code; on Spark they are ALL the same `DataFrameReader` with a
  * different URI scheme (s3a://, abfss://, gs://, hdfs://) — the
  * Hadoop FileSystem layer owns transport, so `FileSource.read` covers
  * the reference's file + cloud connectors in one code path. NoSQL and
  * REST connectors need drivers absent from this container and are out
  * of data-plane scope (documented mapping: the same reader pattern
  * with their respective Spark connectors).
  */
object FileSource {

  /** Read csv/json/parquet/text/xml. Explicit `schema` skips the
    * inference scan (mandatory at scale — schema inference reads the
    * data twice) and pins column types for cross-engine parity.
    * XML (native in Spark 4) defaults `rowTag` to the writer's "ROW"
    * so a FileSink roundtrip needs no extra options.
    */
  def read(spark: SparkSession, format: String, path: String,
           schema: Option[StructType] = None,
           options: Map[String, String] = Map.empty): DataFrame =
    format.toLowerCase match {
      // ref file_connector.py:78 reads xlsx via openpyxl; here the
      // bundled native reader (graft.sources.Excel) covers interchange
      // sheets — for full-fidelity spreadsheets (date formats,
      // formulas, multi-sheet) add com.crealytics:spark-excel on a
      // cluster with egress and use format "excel" directly.
      case "excel" | "xlsx" =>
        Excel.read(spark, path, schema,
          header = options.getOrElse("header", "true").toBoolean)
      // commit-versioned parquet table (lakehouse layout): the read
      // resolves the manifest log's newest readable version; schema
      // comes from the committed files themselves
      case "versioned" =>
        VersionedTable.read(spark, path)
      // a persisted trained ANN quantizer (graft.llm.Ivf.saveIndex):
      // resolves to the centroid frame (__cid, __cvec) — attach it to
      // a corpus with Ivf.assignToCentroids / probe with Ivf.topKIndexed
      case "ann_index" =>
        graft.llm.Ivf.loadIndex(spark, path)
      case fmt =>
        val defaults = fmt match {
          case "xml" => Map("rowTag" -> "ROW")
          case _     => Map.empty[String, String]
        }
        val base: DataFrameReader = spark.read.format(fmt).options(defaults ++ options)
        val withSchema = schema.fold(
          if (fmt == "csv") base.option("header", "true").option("inferSchema", "true")
          else base)(s => base.schema(s))
        withSchema.load(path)
    }
}

object FileSink {

  /** Bytes per written file: [[compact]]'s and Job's target. */
  private[graft] val TargetFileBytes: Long = 128L << 20

  private[graft] def filesFor(bytes: Long, targetFileBytes: Long = TargetFileBytes): Int =
    math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt

  /** The save modes [[write]] accepts, by lower-cased name (Spark's
    * own `DataFrameWriter.mode` names).
    */
  private[graft] val saveModes: Map[String, org.apache.spark.sql.SaveMode] = {
    import org.apache.spark.sql.SaveMode._
    Map("overwrite" -> Overwrite, "append" -> Append, "ignore" -> Ignore,
      "error" -> ErrorIfExists, "errorifexists" -> ErrorIfExists,
      "default" -> ErrorIfExists)
  }

  /** Write with optional partition columns — ref file_connector.py:203.
    * `partitionBy` produces the hive-layout directory tree that makes
    * downstream partition pruning work; pair it with a sensible
    * target file size (coalesce upstream) at scale.
    */
  def write(df: DataFrame, format: String, path: String,
            mode: String = "overwrite", partitionBy: Seq[String] = Nil,
            options: Map[String, String] = Map.empty): Unit = {
    val saveMode = saveModes.getOrElse(mode.toLowerCase,
      throw new IllegalArgumentException(s"Unsupported save mode: $mode"))
    val fmt = format.toLowerCase
    if (fmt == "excel" || fmt == "xlsx") {
      // single-workbook write (the format's own row cap bounds it);
      // partitioned/sharded spreadsheet exports are not a thing
      require(partitionBy.isEmpty, "xlsx write does not support partitionBy")
      Excel.write(df, if (path.toLowerCase.endsWith(".xlsx")) path
        else s"$path/part-00000.xlsx")
    } else {
      val defaults =
        if (fmt == "xml") Map("rowTag" -> "ROW") // required by the XML datasource; matches FileSource's read default
        else Map.empty[String, String]
      val w = df.write.format(fmt).mode(saveMode).options(defaults ++ options)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
    }
  }

  /** Bucketed (and optionally sorted) managed-table write. Two tables
    * bucketed on the same keys with the same bucket count join WITHOUT
    * a shuffle — the canonical pre-partitioning for repeated big-big
    * joins at scale (pay the shuffle once at write time, never at
    * read time). Bucketing requires `saveAsTable` (the bucket layout
    * lives in catalog metadata).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil,
                    format: String = "parquet"): Unit = {
    val w = df.write.format(format).mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Deterministic training-shard export: every row lands in shard
    * `xxhash64(key) mod numShards`, so (a) shard membership is a pure
    * function of the data — re-running the export, changing the input
    * partitioning, or growing the cluster never reshuffles examples
    * between shards (dataloader resume stays valid); (b) shards are
    * hash-balanced, so 1000 loader workers pull near-equal bytes; and
    * (c) one exchange on the shard key is the whole cost.
    * `maxRecordsPerFile` bounds file size inside a shard directory so
    * a single shard never becomes one giant file.
    * Layout: `<path>/shard=<k>/part-*.<format>`.
    */
  def writeShards(df: DataFrame, path: String, keyCol: String,
                  numShards: Int, format: String = "parquet",
                  maxRecordsPerFile: Long = 1000000L,
                  mode: String = "overwrite"): Unit = {
    require(numShards >= 1, "numShards >= 1")
    df.withColumn("shard", pmod(xxhash64(col(keyCol)), lit(numShards.toLong)))
      .repartition(numShards, col("shard"))
      .write.format(format).mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .save(path)
  }

  /** Dynamic partition overwrite: replace ONLY the hive partitions
    * present in `df`, leaving sibling partitions untouched — the
    * idempotent-restatement write an incremental daily load needs
    * (re-running day D rewrites day D alone; plain "overwrite" would
    * truncate the whole dataset, "append" would double-count the
    * retry). Pairs with [[graft.incremental.Incremental]]'s
    * watermark/CDC readers at 100 TB: each run touches its own
    * partitions, full stop.
    */
  def replacePartitions(df: DataFrame, path: String,
                        partitionCols: Seq[String],
                        format: String = "parquet"): Unit = {
    require(partitionCols.nonEmpty, "replacePartitions needs partition columns")
    // per-writer option (takes precedence over the session conf and is
    // thread-safe): a session-wide conf flip would leak dynamic mode
    // into concurrent writes in the same SparkSession
    df.write.format(format).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).save(path)
  }

  /** Z-order clustered write (Delta/Iceberg `OPTIMIZE ZORDER BY`
    * semantics, see [[graft.functions.ZOrder]]): rows are range-
    * partitioned and sorted by the Morton interleave of the
    * clustering columns, so every output file carries TIGHT min/max
    * parquet statistics on ALL of them — a selective read on any
    * clustered column then skips most files/row groups, which is the
    * difference between scanning 100 TB and scanning the ~1/cells
    * slice a filter actually needs. One stats pass (2 scalars per
    * column to the driver) + one range exchange; the sort rides the
    * exchange's partitions.
    */
  def writeZOrdered(df: DataFrame, path: String, clusterCols: Seq[String],
                    bits: Int = 12, numFiles: Int = 0,
                    format: String = "parquet",
                    mode: String = "overwrite"): Unit = {
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    val z = graft.functions.ZOrder.scaleToGrid(df, clusterCols, bits)
    val ranged =
      if (numFiles > 0) z.repartitionByRange(numFiles, col("__zvalue"))
      else z.repartitionByRange(col("__zvalue")) // spark.sql.shuffle.partitions
    ranged.sortWithinPartitions("__zvalue")
      .drop(clusterCols.map(c => s"__z_$c") :+ "__zvalue": _*)
      .write.format(format).mode(mode).save(path)
  }

  /** Small-file compaction — the operational sweep every long-lived
    * 100 TB dataset needs (streaming sinks and incremental appends
    * accrete kilobyte files; a million tiny files makes listing and
    * scan planning the bottleneck, not IO). Reads the dataset,
    * coalesces to ceil(bytes/targetFileBytes) partitions (coalesce:
    * no shuffle — it only merges read splits), and atomically swaps
    * the rewritten copy in via [[graft.Recovery.idempotentWrite]]'s
    * hidden staging dir + rename, so readers never observe a
    * half-compacted dataset (nor, mid-swap, a staged copy as a bogus
    * partition of an enclosing hive tree). Returns
    * (filesBefore, filesAfter).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = TargetFileBytes,
              format: String = "parquet",
              options: Map[String, String] = Map.empty): (Long, Long) = {
    require(targetFileBytes > 0, "targetFileBytes > 0")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    // heal a previous crashed sweep before reading anything
    graft.Recovery.restoreIfTorn(spark, root.toString)
    val before = graft.Recovery.dataFiles(fs, root)
    // ANY nested layout (hive partitions, or plain subdirectories)
    // must be compacted per leaf directory — a whole-tree rewrite
    // would flatten the directory structure into root, breaking
    // partition pruning and any path-based addressing. (Compacting a
    // single leaf directory directly is fine: its files sit at the
    // root we were given.)
    require(!before.exists(f => f.getPath.getParent != root),
      s"$path has nested data directories; use compactPartitions (per-partition sweep)")
    val totalBytes = before.map(_.getLen).sum
    val parts = filesFor(totalBytes, targetFileBytes)
    // materialize the read plan BEFORE the swap deletes its input: the
    // write stages into a HIDDEN sibling dir (invisible to partition
    // discovery and concurrent readers), so source files are still
    // present while the rewrite streams and a mid-swap listing of the
    // enclosing tree never sees a bogus partition
    // options reach BOTH sides (text formats need e.g. header/delimiter
    // to round-trip); string-typed csv/json reads keep values verbatim
    val df = spark.read.format(format).options(options).load(path).coalesce(parts)
    graft.Recovery.idempotentWrite(df, path, format, options)
    (before.size.toLong, graft.Recovery.dataFiles(fs, root).size.toLong)
  }

  /** Per-partition small-file sweep for hive-layout datasets: every
    * leaf directory that holds data files compacts independently
    * (each through [[compact]]'s atomic swap), so the partition
    * columns stay in the directory layout and readers never observe
    * a half-compacted partition. Returns (partitionsSwept,
    * filesBefore, filesAfter).
    */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession, path: String,
                        targetFileBytes: Long = TargetFileBytes,
                        format: String = "parquet",
                        options: Map[String, String] = Map.empty): (Long, Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    // heal any leaf a previous crashed sweep left headless (its data
    // sits complete in a hidden staging/old sibling): a torn leaf has
    // no visible files, so discover it from the hidden dirs — at any
    // partition depth
    graft.Recovery.tree(fs, root).filter(_.isDirectory)
      .flatMap(st => graft.Recovery.hiddenSwapTarget(st.getPath)).distinct
      .foreach(t => graft.Recovery.restoreIfTorn(spark, t.toString))
    val leaves = graft.Recovery.dataFiles(fs, root).map(_.getPath.getParent).distinct
    require(leaves.nonEmpty, s"no data files under $path")
    val results = leaves.sortBy(_.toString)
      .map(dir => compact(spark, dir.toString, targetFileBytes, format, options))
    (leaves.size.toLong, results.map(_._1).sum, results.map(_._2).sum)
  }
}

/** JDBC source config — ref relational_connector.py:93. Builds the
  * reader with predicate-pushdown-friendly options; `partitionColumn`
  * splits the read into `numPartitions` parallel range queries (the
  * only way a JDBC scan parallelizes), and Catalyst filters compile
  * into the per-partition WHERE clauses (PushedFilters on the scan).
  * Live-tested in-JVM against embedded Derby (the one JDBC engine on
  * the Spark classpath): round-trip write → partitioned read →
  * pushdown, see PipelineSourcesSpec. Server databases plug in by URL
  * + driver jar at deploy time, same options.
  */
final case class JdbcSource(url: String, table: String,
                            user: String = "", password: String = "",
                            partitionColumn: Option[String] = None,
                            lowerBound: Long = 0L, upperBound: Long = 0L,
                            numPartitions: Int = 1,
                            fetchSize: Int = 10000,
                            extra: Map[String, String] = Map.empty) {
  def options: Map[String, String] = {
    // extra first: the typed fields are the contract and win on clash
    val base = extra ++ Map(
      "url" -> url, "dbtable" -> table,
      "user" -> user, "password" -> password,
      "fetchsize" -> fetchSize.toString)
    partitionColumn.fold(base)(pc => base ++ Map(
      "partitionColumn" -> pc,
      "lowerBound" -> lowerBound.toString,
      "upperBound" -> upperBound.toString,
      "numPartitions" -> numPartitions.toString))
  }
  def reader(spark: SparkSession): DataFrameReader =
    spark.read.format("jdbc").options(options)

  /** Driver-side metadata connection with this source's credentials —
    * the probes below are pre-flight METADATA calls (a handful of
    * rows), which is exactly the driver's job; the data path stays on
    * [[reader]]'s distributed scan.
    */
  private def withConnection[A](f: java.sql.Connection => A): A = {
    val props = new java.util.Properties()
    if (user.nonEmpty) props.setProperty("user", user)
    if (password.nonEmpty) props.setProperty("password", password)
    extra.get("driver").foreach(Class.forName)
    val c = java.sql.DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  /** The name as the engine's catalog stores it (Derby/Oracle fold
    * unquoted identifiers to upper case, Postgres to lower) — so
    * `tableExists("orders_rt")` matches what an unquoted
    * `CREATE TABLE orders_rt` actually created.
    */
  private def storedName(md: java.sql.DatabaseMetaData, name: String): String =
    if (md.storesUpperCaseIdentifiers()) name.toUpperCase(java.util.Locale.ROOT)
    else if (md.storesLowerCaseIdentifiers()) name.toLowerCase(java.util.Locale.ROOT)
    else name

  /** Pre-flight existence probe — ref database_utils.py:495
    * table_exists, re-expressed over JDBC DatabaseMetaData instead of
    * per-dialect information_schema queries (one code path for every
    * engine). `name` defaults to this source's table.
    */
  def tableExists(name: String = table): Boolean = withConnection { c =>
    val md = c.getMetaData
    val rs = md.getTables(null, null, storedName(md, name),
      Array("TABLE", "VIEW"))
    try rs.next() finally rs.close()
  }

  /** Column metadata for a table — ref database_utils.py:434
    * get_table_info (same fields: column_name, data_type, is_nullable,
    * column_default, in ordinal order). Returns an EMPTY frame when
    * the table does not exist (the reference returns None), so a
    * config-driven pipeline can pre-flight "does the target exist and
    * what are its columns" without a raw query.
    */
  def tableInfo(spark: SparkSession, name: String = table): DataFrame = {
    val rows = withConnection { c =>
      val md = c.getMetaData
      val rs = md.getColumns(null, null, storedName(md, name), null)
      val buf = Seq.newBuilder[(String, String, String, String, String, Int)]
      try while (rs.next()) buf += ((
        rs.getString("TABLE_NAME"), rs.getString("COLUMN_NAME"),
        rs.getString("TYPE_NAME"), rs.getString("IS_NULLABLE"),
        rs.getString("COLUMN_DEF"), rs.getInt("ORDINAL_POSITION")))
      finally rs.close()
      buf.result()
    }
    import spark.implicits._
    rows.toDF("table_name", "column_name", "data_type", "is_nullable",
        "column_default", "ordinal_position")
      .orderBy("ordinal_position")
  }

  /** Connectivity probe — ref database_utils.py:574 health_check:
    * (healthy, response_ms, error), never throws. Uses JDBC's own
    * `Connection.isValid` instead of a dialect-specific `SELECT 1`
    * (Derby, for one, has no FROM-less SELECT).
    */
  /** Boolean pre-flight — the reference's test_connection contract
    * (connector_factory.py:196); [[healthCheck]] carries the detail.
    */
  def validate(timeoutSec: Int = 5): Boolean = healthCheck(timeoutSec)._1

  def healthCheck(timeoutSec: Int = 5): (Boolean, Long, Option[String]) = {
    val start = System.nanoTime()
    try {
      val ok = withConnection(_.isValid(timeoutSec))
      ((ok, (System.nanoTime() - start) / 1000000L,
        if (ok) None else Some("connection reports invalid")))
    } catch {
      case scala.util.control.NonFatal(e) =>
        (false, (System.nanoTime() - start) / 1000000L,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
    }
  }
}

/** JDBC sink — ref relational_connector.py:117. The reference's three
  * write modes map onto Spark's JDBC writer:
  *  - append: INSERT into the existing table
  *  - overwrite: drop + recreate from the frame's schema
  *  - truncate_and_load: TRUNCATE (schema/grants/indexes survive),
  *    then insert — Spark's `truncate` option on overwrite
  * Writes stream per partition through batched INSERTs (`batchsize`),
  * so the parallelism and memory profile track the frame's
  * partitioning, not the driver.
  */
object JdbcSink {
  def write(df: DataFrame, url: String, table: String,
            mode: String = "append",
            options: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("jdbc")
      .option("url", url).option("dbtable", table).options(options)
    mode.toLowerCase match {
      case "append"            => w.mode("append").save()
      case "overwrite"         => w.mode("overwrite").save()
      case "truncate_and_load" => w.mode("overwrite").option("truncate", "true").save()
      case m => throw new IllegalArgumentException(
        s"unknown jdbc write mode '$m' (append|overwrite|truncate_and_load)")
    }
  }
}

/** Incremental source wrapper — watermark filter pushed into the scan
  * (shows up as PushedFilters on parquet; as WHERE-clause pushdown on
  * JDBC). Composes FileSource with graft.incremental semantics.
  */
object IncrementalSource {
  def read(spark: SparkSession, format: String, path: String,
           watermarkCol: String, watermark: Any,
           schema: Option[StructType] = None): DataFrame =
    FileSource.read(spark, format, path, schema)
      .filter(col(watermarkCol) > org.apache.spark.sql.functions.lit(watermark))
}

/** Object-store housekeeping — ref cloud_connector.py:334 list_objects
  * / :363 delete_object. The reference hand-rolls one client per
  * provider (boto3 / azure-blob / gcs); the Hadoop FileSystem layer
  * already abstracts all of them behind the URI scheme (s3a://,
  * abfss://, gs://, hdfs://, file://), so listing and deleting are one
  * provider-agnostic code path — the same layer Spark's own readers
  * ride.
  *
  * Prefix semantics match the object stores' (S3 list_objects_v2
  * name-prefix, not directory): an existing directory lists/deletes
  * everything below it; a non-existent path matches every sibling of
  * its parent whose NAME starts with the last segment — so
  * `.../events_2024` matches `events_2024_01.parquet` and the
  * `events_2024/` tree alike.
  */
object ObjectStore {

  private def fileSystem(spark: SparkSession, uri: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(uri), spark.sparkContext.hadoopConfiguration)

  private def filesUnder(fs: org.apache.hadoop.fs.FileSystem,
                         dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val it = fs.listFiles(dir, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    while (it.hasNext) buf += it.next().getPath
    buf.toSeq
  }

  /** Top-level entries (files or directory roots) the prefix matches —
    * the unit of deletion; listing expands directories to their files.
    */
  private def matchedRoots(fs: org.apache.hadoop.fs.FileSystem,
                           prefix: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(prefix)
    if (fs.exists(p)) Seq(fs.getFileStatus(p))
    else Option(p.getParent).filter(fs.exists(_)).toSeq.flatMap(parent =>
      fs.listStatus(parent).toSeq
        .filter(_.getPath.getName.startsWith(p.getName)))
  }

  /** Every object (file) whose key starts with `prefix`, as full URIs,
    * sorted. Driver-side by design — this is housekeeping metadata,
    * not data-plane I/O (the result is object KEYS, bounded by the
    * store's listing, same as the reference's client calls).
    */
  def listObjects(spark: SparkSession, prefix: String): Seq[String] = {
    val fs = fileSystem(spark, prefix)
    matchedRoots(fs, prefix).flatMap(st =>
      if (st.isDirectory) filesUnder(fs, st.getPath) else Seq(st.getPath))
      .map(_.toString).sorted
  }

  /** Delete everything the prefix matches; returns the number of
    * OBJECTS (files) removed, like the reference's per-object delete
    * loop reports.
    */
  def deleteObjects(spark: SparkSession, prefix: String): Int = {
    val fs = fileSystem(spark, prefix)
    matchedRoots(fs, prefix).map { st =>
      val n = if (st.isDirectory) filesUnder(fs, st.getPath).size else 1
      if (fs.delete(st.getPath, true)) n else 0
    }.sum
  }
}
