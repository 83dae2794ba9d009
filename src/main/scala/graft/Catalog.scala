package graft

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Metadata-driven dataset catalog — the reference wires its
  * connectors from metadata-DB rows (source configs consumed by the
  * src/connectors modules and dispatched by the orchestrator); graft's
  * equivalent is a declarative registry parsed from the same kind of
  * config document:
  *
  * {{{
  * {"datasets": [
  *   {"name": "orders", "format": "parquet", "path": "/data/orders",
  *    "schema": "o_orderkey BIGINT, o_totalprice DOUBLE"},
  *   {"name": "rates", "format": "csv", "path": "/data/rates.csv",
  *    "options": {"header": "true"}}
  * ]}
  * }}}
  *
  * `register` loads each dataset through [[sources.FileSource]]
  * (declared schema pins types and skips the inference scan — the
  * 100 TB requirement) and exposes it as a temp view, so catalog-named
  * datasets compose with [[pipeline.PipelineJson]] pipelines and
  * `Ops.sqlTransform` SQL: config in, optimized plan out, no code.
  * A declared `schema` is also VALIDATED against the loaded frame
  * (extra columns tolerated, missing/mistyped fail fast) — the
  * reference's schema_manager gate at the same place in the flow.
  */
object Catalog {

  final case class DatasetSpec(name: String, format: String, path: String,
                               options: Map[String, String] = Map.empty,
                               schemaDdl: Option[String] = None)

  def parseJson(json: String): Seq[DatasetSpec] =
    parseNode(JsonCfg.read(json, "catalog config"))

  /** The `datasets` array of a catalog or job document. */
  private[graft] def parseNode(root: JsonNode): Seq[DatasetSpec] =
    JsonCfg.objects(root, "datasets", "catalog config").map { d =>
      val name = JsonCfg.str(d, "name", "catalog dataset")
      val ctx = s"catalog dataset '$name'"
      DatasetSpec(name, JsonCfg.str(d, "format", ctx), JsonCfg.str(d, "path", ctx),
        JsonCfg.stringMap.opt(d, "options", ctx).getOrElse(Map.empty),
        JsonCfg.str.opt(d, "schema", ctx))
    }

  def schemaOf(spec: DatasetSpec): Option[StructType] =
    spec.schemaDdl.map(StructType.fromDDL)

  /** Formats that carry their own schema (readable from metadata, no
    * data scan) — only these can be VALIDATED against a declaration;
    * for csv/json/xml the declaration IS the schema (applied, not
    * checked: there is nothing intrinsic to check against without an
    * inference scan).
    */
  private def selfDescribing(format: String): Boolean =
    Set("parquet", "orc", "avro").contains(format.toLowerCase)

  /** Load one dataset. A declared schema on a self-describing format
    * is checked against the file's intrinsic schema FIRST (footer
    * metadata only — reading with the pinned schema would just echo
    * the declaration back, and a mismatch would otherwise surface as a
    * mid-job read error at first action). The data is then read with
    * the declared schema pinned.
    *
    * On parquet the intrinsic schema comes from one footer read on the
    * driver ([[sources.SmallParquet.inferSchema]]), not from Spark's
    * inference job, and an undeclared dataset is read with it pinned:
    * the same frame, no job. Where one footer cannot reproduce Spark's
    * inference (options, schema merging, partition directories,
    * summary files) Spark infers as before.
    */
  def load(spark: SparkSession, spec: DatasetSpec): DataFrame = {
    val declared = schemaOf(spec)
    lazy val footer =
      if (spec.format.equalsIgnoreCase("parquet"))
        sources.SmallParquet.inferSchema(spark, spec.path, spec.options)
      else None
    declared.filter(_ => selfDescribing(spec.format)).foreach { s =>
      val observed = footer.getOrElse(sources.FileSource
        .read(spark, spec.format, spec.path, None, spec.options).schema)
      val v = Schemas.validate(observed, s, strict = false)
      require(v.passed,
        s"catalog dataset '${spec.name}' failed schema validation: " +
          s"missing=${v.missing.mkString(",")} mismatched=${v.typeMismatches.mkString(",")}")
    }
    sources.FileSource.read(spark, spec.format, spec.path,
      declared.orElse(footer), spec.options)
  }

  /** Connector-backed catalog entries (format "jdbc" or a NoSQL kind)
    * resolve to the same config builders the connector layer exposes:
    * `path` carries the connection URI, `options` the rest. Returns
    * None for file formats. Testable without a live system — the
    * builder IS the configuration.
    */
  def connector(spec: DatasetSpec): Option[Either[sources.JdbcSource, sources.NoSqlSource]] = {
    def noSchema(): Unit = require(spec.schemaDdl.isEmpty,
      s"catalog dataset '${spec.name}': schema declarations apply to file " +
        "formats; connector sources derive their schema from the external system")
    spec.format.toLowerCase match {
      case "jdbc" =>
        noSchema()
        val o = spec.options
        val typedKeys = Set("dbtable", "user", "password", "partitionColumn",
          "lowerBound", "upperBound", "numPartitions", "fetchsize", "fetchSize")
        // a partition column without real bounds silently collapses the
        // read to ONE partition in Spark's JDBCRelation — fail fast
        o.get("partitionColumn").foreach { _ =>
          require(o.contains("lowerBound") && o.contains("upperBound") &&
            o("lowerBound").toLong < o("upperBound").toLong,
            s"catalog jdbc dataset '${spec.name}' sets partitionColumn but no " +
              "usable lowerBound/upperBound — the parallel read would silently " +
              "collapse to one partition")
        }
        Some(Left(sources.JdbcSource(
          url = spec.path,
          table = o.getOrElse("dbtable", throw new IllegalArgumentException(
            s"catalog jdbc dataset '${spec.name}' needs options.dbtable")),
          user = o.getOrElse("user", ""),
          password = o.getOrElse("password", ""),
          partitionColumn = o.get("partitionColumn"),
          lowerBound = o.getOrElse("lowerBound", "0").toLong,
          upperBound = o.getOrElse("upperBound", "0").toLong,
          numPartitions = o.getOrElse("numPartitions", "1").toInt,
          fetchSize = o.getOrElse("fetchsize",
            o.getOrElse("fetchSize", "10000")).toInt,
          // everything else (driver, sslmode, queryTimeout, ...) passes
          // through to the reader instead of being silently discarded
          extra = o -- typedKeys)))
      case k @ ("mongodb" | "cassandra" | "dynamodb") =>
        noSchema()
        Some(Right(sources.NoSqlSource(k,
          uri = spec.path,
          database = spec.options.getOrElse("database", ""),
          collection = spec.options.getOrElse("collection", ""),
          region = spec.options.getOrElse("region", ""))))
      case _ => None
    }
  }

  /** Register every catalog dataset as a temp view named `spec.name`.
    * Connector-backed entries `.load()` through their configured
    * readers — that step needs the driver jars on the classpath (the
    * [[sources.JdbcSource]] contract); file entries load immediately.
    */
  def register(spark: SparkSession, specs: Seq[DatasetSpec]): Unit =
    specs.foreach { spec =>
      val df = connector(spec) match {
        case Some(Left(jdbc))   => jdbc.reader(spark).load()
        case Some(Right(nosql)) => nosql.reader(spark).load()
        case None               => load(spark, spec)
      }
      df.createOrReplaceTempView(spec.name)
    }

  def registerJson(spark: SparkSession, json: String): Unit =
    register(spark, parseJson(json))
}
