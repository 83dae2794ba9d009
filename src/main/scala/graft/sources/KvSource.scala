package graft.sources

import java.util


import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** In-JVM document store + DataSource V2 provider — the live-round-trip
  * proof for the NoSQL connector family (ref nosql_connector.py:17-240),
  * playing the role an embedded Derby plays for the JDBC family: the
  * real Mongo/Cassandra/DynamoDB driver jars cannot ship in a
  * zero-egress build, so [[NoSqlSource]]'s `memory` kind routes through
  * this provider and the full DSv2 contract — config → inferSchema →
  * scan planning → COLUMN PRUNING → FILTER PUSHDOWN → partitioned
  * reads — is exercised against a genuinely external-to-the-plan store
  * rather than asserted from config maps.
  *
  * Scale shape mirrors a real document-DB connector: the scan plans one
  * InputPartition per store shard (a real connector maps shards /
  * token ranges / partitions the same way), pushes the supported
  * filter subset INTO the store scan, and prunes columns before
  * anything crosses the boundary. The store itself is static-JVM state,
  * which is exactly right for `local[*]` tests and nothing else — a
  * cluster deployment would carry connection config in the reader
  * factory instead (documented on [[NoSqlSource]]).
  */
object KvStore {
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (StructType, IndexedSeq[Row])]()

  /** Rows emitted by partition readers AFTER pushed filters — lets
    * specs prove pushdown reduced the data crossing the boundary. */
  val emitted = new java.util.concurrent.atomic.AtomicLong(0)
  /** Last filter set a scan build actually pushed (spec observability). */
  @volatile var lastPushed: Seq[Filter] = Nil
  /** Last column set a scan was pruned to (spec observability). */
  @volatile var lastRequired: Seq[String] = Nil

  def put(database: String, collection: String, df: DataFrame): Unit =
    tables.put((database, collection), (df.schema, df.collect().toIndexedSeq))

  def drop(database: String, collection: String): Unit =
    tables.remove((database, collection))

  private[sources] def entry(database: String, collection: String): (StructType, IndexedSeq[Row]) =
    Option(tables.get((database, collection))).getOrElse(
      throw new IllegalArgumentException(
        s"KvStore has no collection $database.$collection — seed it with KvStore.put"))

  /** Atomic commit for the DSv2 write path (nosql_connector.py:141
    * write modes): `truncate` replaces the collection (overwrite = the
    * reference's drop + insert_many); otherwise rows APPEND — unless
    * `upsertKeys` is set, in which case incoming rows REPLACE existing
    * rows with equal key tuples (DynamoDB put_item / Cassandra
    * INSERT-by-primary-key semantics). The incoming batch must itself
    * be key-unique: two same-key rows in one distributed write have no
    * defined winner (the stores' sequential last-write-wins does not
    * exist here), so the commit REJECTS that batch instead of storing
    * a duplicate "primary key" — dedupe first (Incremental.dedupLatest).
    * One compute() call, so concurrent committers serialize per
    * collection.
    */
  private[sources] def commitWrite(database: String, collection: String,
                                   schema: StructType, rows: IndexedSeq[Row],
                                   truncate: Boolean,
                                   upsertKeys: Seq[String]): Unit =
    tables.compute((database, collection), (_, existing) => {
      val base = if (truncate || existing == null) None else Some(existing)
      base.foreach { case (es, _) =>
        // typed check: same-name/different-type rows stored under the
        // old schema would only explode at a later read, far from the
        // writer that corrupted the collection
        require(es.fields.map(f => (f.name, f.dataType))
            .sameElements(schema.fields.map(f => (f.name, f.dataType))),
          s"append to $database.$collection: schema mismatch " +
            s"(existing ${es.simpleString} vs ${schema.simpleString})")
      }
      if (upsertKeys.isEmpty)
        (base.map(_._1).getOrElse(schema), base.map(_._2).getOrElse(IndexedSeq.empty) ++ rows)
      else {
        val ki = upsertKeys.map { k =>
          val i = schema.fieldNames.indexOf(k)
          require(i >= 0, s"upsert key '$k' not in schema")
          i
        }
        val incoming = rows.map(r => ki.map(r.get))
        require(incoming.distinct.length == incoming.length,
          s"upsert into $database.$collection: incoming batch has " +
            "duplicate key tuples — no defined winner under a " +
            "distributed write; dedupe by key first (Incremental.dedupLatest)")
        val incomingSet = incoming.toSet
        val erows = base.map(_._2).getOrElse(IndexedSeq.empty)
        (base.map(_._1).getOrElse(schema),
          erows.filterNot(r => incomingSet.contains(ki.map(r.get))) ++ rows)
      }
    })
}

/** DSv2 TableProvider. Use via `spark.read.format("graft.sources.KvSource")
  * .option("database", db).option("collection", c).load()` — or through
  * `NoSqlSource(kind = "memory", ...)`. */
class KvSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KvStore.entry(options.get("database"), options.get("collection"))._1

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new KvTable(schema, opts.get("database"), opts.get("collection"),
      math.max(1, opts.getInt("shards", 4)))
  }
}

private final class KvTable(schema: StructType, db: String, coll: String,
                            shards: Int) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"kv:$db.$coll"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvScanBuilder(schema, db, coll, shards)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KvWriteBuilder(info.schema(), db, coll,
      Option(info.options.get("upsertKeys")).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
}

/** DSv2 batch write. Executors serialize their partition's rows into
  * the commit message and the driver-side commit() folds them into the
  * store in ONE atomic compute — correct for an in-JVM store (the
  * driver IS where the store lives; a real document-DB connector
  * writes batched puts from each task instead and commits markers
  * only). Task retries are safe: nothing becomes visible until
  * commit(), and a replaced task's message simply supersedes nothing —
  * only the final message set is committed.
  */
private final class KvWriteBuilder(schema: StructType, db: String,
                                   coll: String, upsertKeys: Seq[String])
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new KvBatchWrite(schema, db, coll,
      doTruncate, upsertKeys)
  }
}

private final case class KvCommitMessage(rows: IndexedSeq[Row])
    extends WriterCommitMessage

private final class KvBatchWrite(schema: StructType, db: String, coll: String,
                                 truncate: Boolean, upsertKeys: Seq[String])
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KvWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rows = messages.iterator
      .flatMap(_.asInstanceOf[KvCommitMessage].rows).toIndexedSeq
    KvStore.commitWrite(db, coll, schema, rows, truncate, upsertKeys)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class KvWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(schema)
}

private final class KvDataWriter(schema: StructType) extends DataWriter[InternalRow] {
  private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
  override def write(record: InternalRow): Unit =
    buf += toScala(record.copy()).asInstanceOf[Row]
  override def commit(): WriterCommitMessage = KvCommitMessage(buf.toIndexedSeq)
  override def abort(): Unit = buf.clear()
  override def close(): Unit = ()
}

private final class KvScanBuilder(full: StructType, db: String, coll: String,
                                  shards: Int)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  // the supported subset is evaluated EXACTLY in the reader, so it is
  // fully handled there; everything else stays with Spark as residual
  private def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: IsNotNull | _: IsNull => true
    case In(_, vs) => vs != null
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(supported)
    pushed = ok
    KvStore.lastPushed = ok.toSeq
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = {
    KvStore.lastRequired = required.fieldNames.toSeq
    new KvScan(full, required, pushed, db, coll, shards)
  }
}

private final case class KvPartition(shard: Int, of: Int) extends InputPartition

private final class KvScan(full: StructType, required: StructType,
                           filters: Array[Filter], db: String, coll: String,
                           shards: Int) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"KvScan $db.$coll pushed=[${filters.mkString(", ")}] cols=[${required.fieldNames.mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] =
    (0 until shards).map(KvPartition(_, shards): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(full, required, filters, db, coll)
}

private final class KvReaderFactory(full: StructType, required: StructType,
                                    filters: Array[Filter], db: String,
                                    coll: String) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val KvPartition(shard, of) = partition.asInstanceOf[KvPartition]
    new KvReader(full, required, filters, db, coll, shard, of)
  }
}

private final class KvReader(full: StructType, required: StructType,
                             filters: Array[Filter], db: String, coll: String,
                             shard: Int, of: Int) extends PartitionReader[InternalRow] {
  private val rows = KvStore.entry(db, coll)._2
  private val idx = full.fieldNames.zipWithIndex.toMap
  private val reqIdx = required.fieldNames.map(idx)
  private val toCatalyst =
    CatalystTypeConverters.createToCatalystConverter(required)
  private var i = shard - of // first candidate = shard after += of
  private var current: InternalRow = _

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalArgumentException(s"unorderable: $a vs $b")
  }
  private def value(r: Row, attr: String): Any = r.get(idx(attr))
  private def eval(f: Filter, r: Row): Boolean = f match {
    case EqualTo(a, v)            => val x = value(r, a); x != null && cmp(x, v) == 0
    case GreaterThan(a, v)        => val x = value(r, a); x != null && cmp(x, v) > 0
    case GreaterThanOrEqual(a, v) => val x = value(r, a); x != null && cmp(x, v) >= 0
    case LessThan(a, v)           => val x = value(r, a); x != null && cmp(x, v) < 0
    case LessThanOrEqual(a, v)    => val x = value(r, a); x != null && cmp(x, v) <= 0
    case IsNotNull(a)             => value(r, a) != null
    case IsNull(a)                => value(r, a) == null
    case In(a, vs)                => val x = value(r, a); x != null && vs.exists(v => cmp(x, v) == 0)
    case other => throw new IllegalStateException(s"unsupported pushed filter: $other")
  }

  override def next(): Boolean = {
    i += of
    while (i < rows.length && !filters.forall(eval(_, rows(i)))) i += of
    if (i < rows.length) {
      val r = rows(i)
      current = toCatalyst(Row.fromSeq(reqIdx.toSeq.map(r.get)))
        .asInstanceOf[InternalRow]
      KvStore.emitted.incrementAndGet()
      true
    } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
