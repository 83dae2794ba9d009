package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Driver-side parquet for a few KB of engine state and file footers:
  * the watermark ledger, the run history and catalog schema lookups.
  * Reading such a dataset through a Spark query costs scheduler
  * round trips (jobs, stages, codegen) that dwarf the bytes moved;
  * this module does the same work on the driver, through Spark's own
  * parquet reader, writer and footer converter, so every row, type and
  * file it produces is what the Spark path would have produced.
  *
  * Every Spark-internal call of these three callers lives here:
  *  - [[inferSchema]]: a parquet directory's schema from one footer,
  *    the footer Spark's non-merging inference would pick;
  *  - [[foreach]]: the rows of a few small parquet files, streamed;
  *  - [[publish]]: rows to one parquet file with
  *    `ParquetFileFormat`'s writer (same physical schema, timestamp
  *    type, codec and Spark row metadata as a DataFrame write), staged
  *    privately and renamed into place.
  *
  * Reads and writes stream one row at a time, so the driver's memory
  * does not grow with the files. Nothing here falls back to Spark by
  * itself except [[inferSchema]], which answers None where the footer
  * read cannot reproduce Spark's inference.
  */
object SmallParquet {
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The visible children of `dir` (empty when it does not exist), by
    * Spark's listing rule ([[graft.Recovery.hidden]]).
    */
  def list(spark: SparkSession, dir: Path): Seq[FileStatus] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(dir).toSeq.filterNot(st => graft.Recovery.hidden(st.getPath.getName))
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The Spark schema of one parquet file's footer, as
    * `spark.read.parquet` reports it: the stored Spark row metadata
    * when present, else the parquet schema through the session's
    * converter settings, every field nullable (file sources read
    * nullable).
    */
  def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val session = classic(spark)
    val conf = session.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = new org.apache.parquet.hadoop.Footer(file.getPath,
      org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
          file, session.sessionState.newHadoopConf()),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS))
    nullable(ParquetFileFormat.readSchemaFromFooter(footer, converter))
      .asInstanceOf[StructType]
  }

  /** `spark.read.parquet(path).schema` without the inference job, or
    * None where one footer cannot reproduce it: reader options set,
    * schema merging on, a glob or missing path, partition
    * subdirectories, summary files, no data file, or a failed footer
    * read. Otherwise the footer is the one Spark's non-merging
    * inference reads: the path itself when it is a file, else the first
    * data file of the directory in path order.
    */
  def inferSchema(spark: SparkSession, path: String,
                  options: Map[String, String]): Option[StructType] = {
    val glob = "{}[]*?\\".exists(c => path.contains(c))
    val merge = classic(spark).sessionState.conf.isParquetSchemaMergingEnabled
    if (options.nonEmpty || merge || glob || path.isEmpty) return None
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a file path is its own only data file (Spark takes its parent as
    // the base path, so it has no partition columns)
    val entries = try {
      val st = fs.getFileStatus(root)
      if (st.isDirectory) list(spark, root) else Seq(st)
    } catch { case _: java.io.FileNotFoundException => return None }
    if (entries.exists(st => st.isDirectory || !graft.Recovery.dataFile(st.getPath.getName)))
      return None
    entries.sortBy(_.getPath.toString).headOption.flatMap { first =>
      try Some(footerSchema(spark, first))
      catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Every row of `files` decoded to `schema` by Spark's parquet reader
    * (columns matched by name, absent columns null), handed to `f` one
    * at a time in file order: the driver holds one row, not the files.
    * A file that vanishes between listing and read is skipped from the
    * point it vanished, as a scan with `ignoreMissingFiles` does.
    */
  def foreach(spark: SparkSession, files: Seq[FileStatus],
              schema: StructType)(f: Row => Unit): Unit = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    if (files.isEmpty) return
    val session = classic(spark)
    val options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false")
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      session, schema, new StructType(), schema, Nil, options,
      session.sessionState.newHadoopConfWithOptions(options))
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    files.foreach { st =>
      val file = PartitionedFile(InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(st.getPath), 0L, st.getLen,
        Array.empty[String], st.getModificationTime, st.getLen)
      // only the reader's own FileNotFoundException means "vanished";
      // whatever `f` throws propagates
      def missing[T](gone: T)(read: => T): T =
        try read catch { case _: java.io.FileNotFoundException => gone }
      val rows = missing(Iterator.empty[InternalRow])(reader(file))
      try {
        // the reader reuses its row object: convert before advancing
        while (missing(false)(rows.hasNext)) f(toRow(rows.next()).asInstanceOf[Row])
      } finally rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }

  /** The append protocol of the engine's state datasets: write the rows
    * `rows` hands to its sink into `staging` (a private dir no other
    * writer uses), move the file to `target(written file)` with ONE
    * rename, and delete the staging dir however the write ends. The
    * file appears at its target whole or not at all, and concurrent
    * appenders share nothing.
    */
  def publish(spark: SparkSession, staging: Path, schema: StructType,
              target: Path => Path)(rows: (Row => Unit) => Unit): Unit = {
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val file = write(spark, staging, schema, rows)
      val to = target(file)
      fs.mkdirs(to.getParent)
      if (!fs.rename(file, to))
        throw new java.io.IOException(s"could not publish $file as $to")
    } finally fs.delete(staging, true)
  }

  /** Write the rows `rows` hands to its sink (external values, `schema`
    * order) into `dir` as one parquet file named like a Spark task's
    * output, with the session's parquet settings; returns the file.
    */
  private def write(spark: SparkSession, dir: Path, schema: StructType,
                    rows: (Row => Unit) => Unit): Path = {
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    val session = classic(spark)
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, dir)
    val factory = new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema)
    val conf = job.getConfiguration
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)
    conf.set("mapreduce.job.id", attempt.getJobID.toString)
    conf.set("mapreduce.task.id", attempt.getTaskID.toString)
    conf.set("mapreduce.task.attempt.id", attempt.toString)
    conf.setBoolean("mapreduce.task.ismap", true)
    conf.setInt("mapreduce.task.partition", 0)
    val context = new TaskAttemptContextImpl(conf, attempt)
    val file = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}.c000${factory.getFileExtension(context)}")
    val writer = factory.newInstance(file.toString, schema, context)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
    finally writer.close()
    file
  }
}
