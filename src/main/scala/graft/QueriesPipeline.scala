package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, substring}

import graft.monitoring.Audit
import graft.operators.Ops
import graft.pipeline.Pipeline
import graft.sources.{FileSink, FileSource}

/** Pipeline-runner + connector query pack: q_pipeline (config-declared
  * step list → plan, ref transform_engine.py:49-118) and file-format
  * roundtrips through FileSink/FileSource (ref file_connector.py).
  */
object QueriesPipeline {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_pipeline" -> ((s, dir) => {
      val sources = Map(
        "lineitem" -> t(s, dir, "lineitem"),
        "orders" -> Ops.renameColumns(t(s, dir, "orders"), Map("o_orderkey" -> "l_orderkey")))
      Pipeline.run(s, sources, Pipeline.Spec("lineitem", Seq(
        Pipeline.DateRange("l_shipdate", "1995-01-01", "1995-12-31"),
        Pipeline.Join("orders", Seq("l_orderkey"), "inner", broadcastRight = true),
        Pipeline.Aggregate(Seq("o_orderpriority"), Seq(
          ("l_quantity", "sum_money", "sum_qty"),
          ("l_orderkey", "count", "n"))))))
    }),

    // JSON-config pipeline exercising the sql_expr step (the reference's
    // custom-UDF slot, ref transform_engine.py:262, expressed as a
    // declarative codegen'd expression instead of compiled code strings)
    "q_pipeline_expr" -> ((s, dir) => {
      val json =
        """{"primary": "lineitem", "steps": [
          |  {"type": "filter", "column": "l_quantity", "op": ">", "value": 30},
          |  {"type": "sql_expr", "name": "net",
          |   "expr": "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))"},
          |  {"type": "aggregate", "groupBy": ["l_returnflag"],
          |   "aggs": [{"col": "net", "fn": "sum", "as": "sum_net"},
          |            {"col": "net", "fn": "count", "as": "n"}]},
          |  {"type": "sql_expr", "name": "sum_net", "expr": "CAST(sum_net AS DOUBLE)"}
          |]}""".stripMargin
      Pipeline.run(s, Map("lineitem" -> t(s, dir, "lineitem")),
        graft.pipeline.PipelineJson.parse(json))
    }),

    // metadata-driven end-to-end: a catalog config document names the
    // datasets (schema pinned + validated on load), a SQL transform
    // runs over the registered views — config in, optimized plan out
    "q_catalog" -> ((s, dir) => {
      val json =
        s"""{"datasets": [
           |  {"name": "cat_orders", "format": "parquet",
           |   "path": "$dir/orders.parquet",
           |   "schema": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"},
           |  {"name": "cat_customer", "format": "parquet",
           |   "path": "$dir/customer.parquet"}
           |]}""".stripMargin
      Catalog.registerJson(s, json)
      Ops.sqlTransform(s,
        """SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n,
          |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM cat_orders JOIN cat_customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment, o_orderstatus""".stripMargin)
    }),

    // versioned schema migration applied to the data frame — ref
    // schema_manager.py:224 apply_migration (rename + derived column +
    // type tighten + drop, one narrow projection)
    "q_schema_migrate" -> ((s, dir) => {
      import graft.Schemas._
      applyMigration(
        t(s, dir, "orders").select(
          "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"),
        Migration("v2", "analytics-facing orders layout", Seq(
          RenameColumn("o_totalprice", "price"),
          AddColumn("priority_code", substring(col("o_orderpriority"), 1, 1)),
          CastColumn("o_custkey", org.apache.spark.sql.types.StringType),
          DropColumn("o_orderpriority"))))
    }),

    // STORED versioned schema document driving the same machinery —
    // ref schema_manager.py:171 apply_schema_from_file: two versions
    // walk the ledger in order (explicit steps, then a target-schema
    // form whose cast step is INFERRED at apply time)
    "q_schema_doc" -> ((s, dir) => {
      val doc =
        """{"migrations": [
          |  {"version": "v2", "description": "analytics layout", "steps": [
          |    {"type": "rename_column", "from": "o_totalprice", "to": "price"},
          |    {"type": "add_column", "name": "priority_code",
          |     "expr": "substring(o_orderpriority, 1, 1)"},
          |    {"type": "drop_column", "name": "o_orderpriority"}]},
          |  {"version": "v3", "target_schema":
          |   "o_orderkey BIGINT, o_custkey STRING, o_orderstatus STRING, price DOUBLE, priority_code STRING"}
          |]}""".stripMargin
      graft.SchemaDoc.apply(
        t(s, dir, "orders").select("o_orderkey", "o_custkey",
          "o_orderstatus", "o_totalprice", "o_orderpriority"),
        doc)
    }),

    // csv write → read roundtrip (schema pinned, no inference scan)
    "q_src_csv" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_csv_nation"
      FileSink.write(n, "csv", path, options = Map("header" -> "true"))
      FileSource.read(s, "csv", path, Some(n.schema), Map("header" -> "true"))
    }),

    // json write → read roundtrip
    "q_src_json" -> ((s, dir) => {
      val r = t(s, dir, "region")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_json_region"
      FileSink.write(r, "json", path)
      FileSource.read(s, "json", path, Some(r.schema))
    }),

    // xlsx write → read roundtrip through the bundled native Excel
    // part-writer/parser — closes ref file_connector.py:109's Excel
    // branch without the external spark-excel jar (zero egress)
    "q_src_excel" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_xlsx_nation"
      FileSink.write(n, "excel", path)
      FileSource.read(s, "excel", path, Some(n.schema))
    }),

    // MULTI-SHEET xlsx roundtrip — ref file_connector.py:118's
    // sheet_name branch: two tables into one workbook, read back by
    // sheet name (incl. a timestamp column through the date-serial
    // style path)
    "q_src_excel_sheets" -> ((s, dir) => {
      val o = t(s, dir, "orders").limit(200)
      val r = t(s, dir, "region")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_xlsx_multi_q"
      val file = s"$path/book.xlsx"
      new java.io.File(path).mkdirs()
      graft.sources.Excel.writeSheets(Seq("orders" -> o, "region" -> r), file)
      graft.sources.Excel.read(s, path, Some(r.schema), sheet = Some("region"))
    }),

    // xml write → read roundtrip (Spark 4 native XML datasource;
    // closes ref file_connector.py:109's XML branch)
    "q_src_xml" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_xml_supplier"
      FileSink.write(sup, "xml", path)
      FileSource.read(s, "xml", path, Some(sup.schema))
    }),

    // ---- audit-trail analytics (ref audit_logger.py) --------------
    // The audit dataset is derived deterministically from `events` so
    // both engines query the identical trail (see auditFrame).

    // filtered + paged trail, newest first (ref :183 get_audit_trail)
    "q_audit_trail" -> ((s, dir) => {
      Audit.trail(auditFrame(s, dir), Audit.TrailFilter(
        eventType = Some("data_access"),
        start = Some("2024-01-05 00:00:00"), end = Some("2024-01-20 00:00:00"),
        limit = 50, offset = 10))
    }),

    // period report: per-event-type rollup (ref :230 generate_audit_report)
    "q_audit_report" -> ((s, dir) => {
      Audit.report(auditFrame(s, dir),
        "2024-01-01 00:00:00", "2024-01-31 00:00:00")
    }),

    // data-access rollup by source × access type (ref :303)
    "q_audit_access" -> ((s, dir) => {
      Audit.dataAccessSummary(auditFrame(s, dir),
        "2024-01-01 00:00:00", "2024-01-31 00:00:00")
    }),

    // failed security events (ref :322 get_security_incidents)
    "q_audit_security" -> ((s, dir) => {
      Audit.securityIncidents(auditFrame(s, dir),
        "2024-01-01 00:00:00", "2024-01-31 00:00:00")
    }),

    // ONE-document metadata-driven job: datasets + transform +
    // quality gate parsed and executed end-to-end (the reference's
    // complete-configuration bundle, config_loader.py:22 +
    // orchestrator execute; every section through its own front-end)
    "q_job" -> ((s, dir) => {
      val json =
        s"""{
           |  "datasets": [
           |    {"name": "j_orders", "format": "parquet", "path": "$dir/orders.parquet"},
           |    {"name": "j_customer", "format": "parquet", "path": "$dir/customer.parquet"}
           |  ],
           |  "pipeline": {"primary": "j_orders", "steps": [
           |    {"type": "filter", "column": "o_totalprice", "op": ">", "value": 50000},
           |    {"type": "rename", "mapping": {"o_custkey": "c_custkey"}},
           |    {"type": "join", "right": "j_customer", "on": ["c_custkey"], "broadcast": true},
           |    {"type": "aggregate", "groupBy": ["c_mktsegment", "o_orderstatus"],
           |     "aggs": [{"col": "o_totalprice", "fn": "sum_money", "as": "total"},
           |              {"col": "o_orderkey", "fn": "count", "as": "n"}]}
           |  ]},
           |  "quality": {"rules": [
           |    {"rule_id": "seg_nn", "type": "completeness", "column": "c_mktsegment"},
           |    {"rule_id": "n_pos", "type": "range", "column": "n",
           |     "min": 1, "max": 1000000000}
           |  ], "min_score": 100.0}
           |}""".stripMargin
      graft.pipeline.Job.runJson(s, json).output
    }),

    // end-to-end LEDGER-DRIVEN incremental job — the composed
    // WatermarkStore + Job.incremental path at full query scale: a
    // planted watermark in a fresh store cuts the extract (pushed
    // range filter on the scan), the pipeline aggregates the delta,
    // and the ledger advances only after success. The store is fresh
    // per invocation BECAUSE the advance moves the watermark — a
    // reused ledger would make the second bench pass extract nothing.
    "q_job_incremental" -> ((s, dir) => {
      val store = TempDirs.register(java.nio.file.Files.createTempDirectory("graft_jinc"))
        .toString + "/wm"
      graft.incremental.WatermarkStore.update(s, store, "pi", "w_orders",
        "o_orderdate", java.sql.Timestamp.valueOf("1997-01-01 00:00:00"),
        at = Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      val json =
        s"""{
           |  "datasets": [
           |    {"name": "w_orders", "format": "parquet", "path": "$dir/orders.parquet"}
           |  ],
           |  "pipeline": {"primary": "w_orders", "steps": [
           |    {"type": "aggregate", "groupBy": ["o_orderstatus", "o_orderpriority"],
           |     "aggs": [{"col": "o_totalprice", "fn": "sum_money", "as": "total"},
           |              {"col": "o_orderkey", "fn": "count", "as": "n"}]}
           |  ]},
           |  "incremental": {"watermark_store": "$store", "pipeline_id": "pi",
           |    "source_id": "w_orders", "column": "o_orderdate"}
           |}""".stripMargin
      graft.pipeline.Job.runJson(s, json).output
    }),

    // the same one-document job in QUARANTINE mode (error_recovery.py
    // :345 in config): failing output rows route to the per-run
    // quarantine slice and the job continues with the clean side
    "q_job_quarantine_clean" -> ((s, dir) => {
      val tmp = TempDirs.register(java.nio.file.Files.createTempDirectory("graft_jq")).toString
      graft.pipeline.Job.runJson(s, jobQuarantineJson(dir, tmp)).output
    }),

    // the tagged side of the same run, read back from the quarantine
    // area (failed_rules comma-joined in rule order; quarantined_at
    // is wall-clock bookkeeping, dropped for the deterministic hash)
    "q_job_quarantine" -> ((s, dir) => {
      val tmp = TempDirs.register(java.nio.file.Files.createTempDirectory("graft_jq")).toString
      graft.pipeline.Job.runJson(s, jobQuarantineJson(dir, tmp)).close()
      s.read.parquet(s"$tmp/run_id=jq1").drop("quarantined_at")
    }),

    // metadata-driven CRAWL-DEDUP job (r19): the ingest-screen family
    // as a declared pipeline step — a stored JSON document filters the
    // batch slice, screens it against a STORED exact-dedup history
    // root, and projects the survivors, end-to-end through Job.runJson
    // (the q_job pattern). The exact family's decision is md5-set
    // membership on stored text, so the whole composed job is
    // oracle-replayable; the other five families ride the same
    // dispatch (spec-verified incl. the version-checked semantic one).
    "q_job_screen" -> ((s, dir) => {
      val tmp = TempDirs.register(java.nio.file.Files.createTempDirectory("graft_jscr")).toString
      graft.Recovery.idempotentWrite(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(pmod(col("doc_id"), lit(7)) === 0).select("text"),
        s"$tmp/hist")
      val json =
        s"""{
           |  "datasets": [
           |    {"name": "docs", "format": "parquet", "path": "$dir/documents.parquet"}
           |  ],
           |  "pipeline": {"primary": "docs", "steps": [
           |    {"type": "sql_expr", "name": "__k", "expr": "doc_id % 7"},
           |    {"type": "filter", "column": "__k", "op": "!=", "value": 0},
           |    {"type": "screen", "family": "exact", "history": "$tmp/hist",
           |     "id": "doc_id", "column": "text"},
           |    {"type": "select", "columns": ["doc_id", "lang"]}
           |  ]}
           |}""".stripMargin
      graft.pipeline.Job.runJson(s, json).output
    }),

    // metadata-driven STREAMING crawl-ingest job (r20): the screen+
    // append loop as a stored document — the last reference surface
    // that was library-only. The document's steps transform the
    // micro-batch, the `ingest` section screens it against the seeded
    // exact history and appends survivors' signatures, survivors land
    // as sink slices. The replay arrives as ONE micro-batch (guarded),
    // so the survivor set is exactly the batch screen's NOT-EXISTS
    // contract and the whole streaming loop is oracle-replayable; the
    // other five families ride the same dispatch (spec-verified incl.
    // multi-batch parity with the library's ingestScreenStream and the
    // version-checked semantic refusal).
    "q_job_ingest" -> ((s, dir) => {
      val tmp = TempDirs.register(java.nio.file.Files.createTempDirectory("graft_jing")).toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.Recovery.idempotentWrite(
        docs.filter(pmod(col("doc_id"), lit(7)) === 0).select("text"),
        s"$tmp/hist/batch_id=-1")
      // FileStreamSource needs a DIRECTORY source (its per-batch read
      // pins basePath to the stream path); the raw table is one file,
      // so stage it as the crawl-drop dir a real ingest loop watches
      docs.write.parquet(s"$tmp/in")
      val json =
        s"""{
           |  "datasets": [
           |    {"name": "docs", "format": "parquet", "path": "$tmp/in"}
           |  ],
           |  "pipeline": {"primary": "docs", "steps": [
           |    {"type": "sql_expr", "name": "__k", "expr": "doc_id % 7"},
           |    {"type": "filter", "column": "__k", "op": "!=", "value": 0},
           |    {"type": "select", "columns": ["doc_id", "lang", "text"]}
           |  ]},
           |  "ingest": {"family": "exact", "history": "$tmp/hist",
           |             "id": "doc_id", "column": "text"},
           |  "sink": {"format": "parquet", "path": "$tmp/out"}
           |}""".stripMargin
      val q = graft.pipeline.Job.runStreamJson(s, json, s"$tmp/ckpt")
      try {
        q.processAllAvailable()
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        require(dataBatches <= 1,
          s"q_job_ingest: replay split into $dataBatches micro-batches — " +
            "documents carries exact-dup texts, so cross-batch screening " +
            "would (correctly) drop rows the single-seed oracle keeps")
      } finally q.stop()
      graft.pipeline.Job.streamedOutput(s, s"$tmp/out")
        .select("doc_id", "lang")
    }),

    // two-node DAG with a real data handoff (A sinks, B reads A's
    // sink): the dependency-ordered composition proven end-to-end
    // against the same oracle as q_job
    "q_dag" -> ((s, dir) => {
      val tmp = TempDirs.register(java.nio.file.Files.createTempDirectory("graft_qdag")).toString
      val dag =
        s"""{"jobs": [
           | {"id": "a_filter", "job": {
           |   "datasets": [{"name": "a_orders", "format": "parquet",
           |                 "path": "$dir/orders.parquet"}],
           |   "pipeline": {"primary": "a_orders", "steps": [
           |     {"type": "filter", "column": "o_totalprice", "op": ">", "value": 50000}]},
           |   "sink": {"format": "parquet", "path": "$tmp/filtered", "mode": "atomic"}}},
           | {"id": "b_report", "depends_on": ["a_filter"], "job": {
           |   "datasets": [
           |     {"name": "b_orders", "format": "parquet", "path": "$tmp/filtered"},
           |     {"name": "b_customer", "format": "parquet",
           |      "path": "$dir/customer.parquet"}],
           |   "pipeline": {"primary": "b_orders", "steps": [
           |     {"type": "rename", "mapping": {"o_custkey": "c_custkey"}},
           |     {"type": "join", "right": "b_customer", "on": ["c_custkey"], "broadcast": true},
           |     {"type": "aggregate", "groupBy": ["c_mktsegment", "o_orderstatus"],
           |      "aggs": [{"col": "o_totalprice", "fn": "sum_money", "as": "total"},
           |               {"col": "o_orderkey", "fn": "count", "as": "n"}]}]}}}
           |]}""".stripMargin
      val res = graft.pipeline.Dag.runJson(s, dag)
      require(res.forall(_.status == "succeeded"),
        s"dag nodes not green: ${res.map(r => s"${r.id}=${r.status}").mkString(",")}")
      res.last.result.get.output
    }),

    // ---- synthetic data generation (ref mock_data_generator.py) ---
    // Pure spark.range + codegen'd portable-PRNG expressions (no
    // input IO, no shuffle, no driver data); hash-checked against
    // DuckDB re-deriving every value from the same arithmetic — the
    // cross-engine determinism contract the module documents.
    "q_datagen" -> ((s, _) => {
      import graft.sources.Datagen
      Datagen.table(s, 20000L, employeeFields, seed = 7L)
    }),

    // deterministic invalid-data injection (ref :49/:198/:228): the
    // same error lottery DuckDB can replay — nulls planted in a
    // non-nullable column, out-of-range values past the declared max
    "q_datagen_errors" -> ((s, _) => {
      import graft.sources.Datagen
      val base = Datagen.table(s, 20000L, employeeFields, seed = 7L)
      Datagen.outOfRange(
        Datagen.nullify(base, "name", 0.05, seed = 7L, salt = 1000L),
        "age", declaredMax = 80L, rate = 0.1, seed = 7L, salt = 1001L)
    })
  )

  private def employeeFields: Seq[graft.sources.Datagen.Field] = {
    import graft.sources.Datagen._
    Seq(
      IntCol("age", 18, 80),
      DoubleCol("salary", 30000.0, 120000.0),
      StringCol("name", "emp"),
      DateCol("hired", "2015-01-06", 3650),
      TsCol("last_login", "2024-01-01 00:00:00", 2592000L),
      BoolCol("active"),
      CatCol("dept", Seq("eng", "sales", "ops")))
  }

  /** DuckDB mirror of [[employeeFields]] over the same PRNG. */
  private def datagenSelect: String = {
    import graft.sources.Datagen
    def x(salt: Long) = Datagen.prngSql("id", 7L, salt)
    s"""SELECT id AS row_id,
       |18 + (${x(1)} % 63) AS age,
       |30000.0 + (${x(2)} * 90000.0) / 2147483648.0 AS salary,
       |'emp_' || ${x(3)} AS name,
       |DATE '2015-01-06' + CAST(${x(4)} % 3650 AS INTEGER) AS hired,
       |TIMESTAMP '2024-01-01 00:00:00' + (${x(5)} % 2592000) * INTERVAL 1 SECOND AS last_login,
       |(${x(6)} % 2) = 1 AS active,
       |CASE (${x(7)} % 3) WHEN 0 THEN 'eng' WHEN 1 THEN 'sales' ELSE 'ops' END AS dept
       |FROM range(20000) t(id)""".stripMargin
  }

  import org.apache.spark.sql.functions._

  /** The audit trail both engines derive identically from `events`:
    * row shape of the reference's AUDIT_TRAIL table
    * (audit_logger.py:20), with the JSON details synthesized from the
    * props payload (k → row_count; k mod 3 → success flag).
    */
  private def auditFrame(s: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("bigint")
    t(s, dir, "events").select(
      col("event_id").as("audit_id"),
      concat(lit("run-"), col("user_id") % 7).as("run_id"),
      when(col("event_type").isin("click", "view"), "data_access")
        .when(col("event_type") === "purchase", "config_change")
        .when(col("event_type") === "signup", "user_action")
        .otherwise("security_event").as("event_type"),
      col("event_type").as("action"),
      col("ts").as("action_timestamp"),
      concat(lit("user-"), col("user_id")).as("user_id"),
      concat(lit("{\"row_count\": "), k, lit(", \"success\": "),
        when(k % 3 === 0, "false").otherwise("true"), lit("}"))
        .as("action_details"),
      concat(lit("10.0.0."), col("user_id") % 32).as("ip_address"),
      concat(lit("sess-"), col("user_id")).as("session_id"),
      concat(lit("table-"), col("event_id") % 4).as("data_source"),
      when(col("event_id") % 2 === 0, "read").otherwise("write")
        .as("access_type"))
  }

  /** DuckDB mirror of [[auditFrame]] as a CTE body. NB: no line in
    * this string may START with "||" — it is embedded in oracle
    * strings that stripMargin AGAIN, which would eat one pipe.
    */
  private val auditCte: String =
    """WITH audit AS (
      |  SELECT event_id AS audit_id,
      |    'run-' || (user_id % 7) AS run_id,
      |    CASE WHEN event_type IN ('click','view') THEN 'data_access'
      |         WHEN event_type = 'purchase' THEN 'config_change'
      |         WHEN event_type = 'signup' THEN 'user_action'
      |         ELSE 'security_event' END AS event_type,
      |    event_type AS action,
      |    ts AS action_timestamp,
      |    'user-' || user_id AS user_id,
      |    '{"row_count": ' || CAST(json_extract_string(props, '$.k') AS BIGINT) ||
      |      ', "success": ' ||
      |      CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
      |           THEN 'false' ELSE 'true' END || '}' AS action_details,
      |    '10.0.0.' || (user_id % 32) AS ip_address,
      |    'sess-' || user_id AS session_id,
      |    'table-' || (event_id % 4) AS data_source,
      |    CASE WHEN event_id % 2 = 0 THEN 'read' ELSE 'write' END AS access_type
      |  FROM events)""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q_catalog" ->
      """SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderstatus""".stripMargin,

    "q_pipeline" ->
      """SELECT o_orderpriority,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |COUNT(l_orderkey) AS n
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <= TIMESTAMP '1995-12-31 00:00:00'
        |GROUP BY o_orderpriority""".stripMargin,

    "q_pipeline_expr" ->
      """SELECT l_returnflag,
        |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_net,
        |COUNT(*) AS n
        |FROM lineitem WHERE l_quantity > 30
        |GROUP BY l_returnflag""".stripMargin,

    "q_schema_migrate" ->
      """SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS o_custkey, o_orderstatus,
        |o_totalprice AS price, substring(o_orderpriority, 1, 1) AS priority_code
        |FROM orders""".stripMargin,

    "q_schema_doc" ->
      """SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS o_custkey, o_orderstatus,
        |o_totalprice AS price, substring(o_orderpriority, 1, 1) AS priority_code
        |FROM orders""".stripMargin,

    "q_src_csv" -> "SELECT * FROM nation",
    "q_src_excel" -> "SELECT * FROM nation",
    "q_src_excel_sheets" -> "SELECT * FROM region",
    "q_src_json" -> "SELECT * FROM region",
    "q_src_xml" -> "SELECT * FROM supplier",

    "q_audit_trail" ->
      s"""$auditCte
         |SELECT audit_id, run_id, event_type, action, action_timestamp,
         |  user_id, action_details, ip_address, session_id
         |FROM audit
         |WHERE event_type = 'data_access'
         |  AND action_timestamp >= TIMESTAMP '2024-01-05 00:00:00'
         |  AND action_timestamp <= TIMESTAMP '2024-01-20 00:00:00'
         |ORDER BY action_timestamp DESC, audit_id DESC
         |LIMIT 50 OFFSET 10""".stripMargin,

    "q_audit_report" ->
      s"""$auditCte
         |SELECT event_type, COUNT(*) AS n_events,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  MIN(action_timestamp) AS first_at,
         |  MAX(action_timestamp) AS last_at
         |FROM audit
         |WHERE action_timestamp >= TIMESTAMP '2024-01-01 00:00:00'
         |  AND action_timestamp <= TIMESTAMP '2024-01-31 00:00:00'
         |GROUP BY event_type""".stripMargin,

    "q_audit_access" ->
      s"""$auditCte
         |SELECT data_source, access_type, COUNT(*) AS access_count,
         |  CAST(SUM(CAST(json_extract_string(action_details, '$$.row_count') AS BIGINT)) AS BIGINT) AS total_rows
         |FROM audit
         |WHERE event_type = 'data_access'
         |  AND action_timestamp >= TIMESTAMP '2024-01-01 00:00:00'
         |  AND action_timestamp <= TIMESTAMP '2024-01-31 00:00:00'
         |GROUP BY data_source, access_type""".stripMargin,

    "q_audit_security" ->
      s"""$auditCte
         |SELECT audit_id, action_timestamp, user_id, action,
         |  action_details, ip_address
         |FROM audit
         |WHERE event_type = 'security_event'
         |  AND CAST(json_extract_string(action_details, '$$.success') AS BOOLEAN) = false
         |  AND action_timestamp >= TIMESTAMP '2024-01-01 00:00:00'
         |  AND action_timestamp <= TIMESTAMP '2024-01-31 00:00:00'
         |ORDER BY action_timestamp DESC, audit_id DESC""".stripMargin,

    "q_job" -> jobOutSql, // ONE definition, shared with the quarantine pair

    // the engine derives the cut from the planted ledger value; the
    // oracle states the expected extraction window directly
    "q_job_incremental" ->
      """SELECT o_orderstatus, o_orderpriority,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |COUNT(o_orderkey) AS n
        |FROM orders
        |WHERE o_orderdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY o_orderstatus, o_orderpriority""".stripMargin,

    // the DAG handoff computes exactly the q_job result, via a
    // materialized intermediate instead of one plan
    "q_dag" -> jobOutSql,

    // survivors = batch docs (doc_id % 7 <> 0) whose text is not among
    // the stored history texts (doc_id % 7 = 0); null text never
    // matches and survives — the family's NOT-EXISTS contract
    "q_job_screen" ->
      """SELECT b.doc_id, b.lang FROM documents b
        |WHERE b.doc_id % 7 <> 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents h
        |  WHERE h.doc_id % 7 = 0 AND h.text = b.text)""".stripMargin,

    // the streaming ingest loop replays the same decision: survivors =
    // transformed batch rows whose text is not among the seeded
    // history texts (single-batch replay; null text never matches)
    "q_job_ingest" ->
      """SELECT b.doc_id, b.lang FROM documents b
        |WHERE b.doc_id % 7 <> 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents h
        |  WHERE h.doc_id % 7 = 0 AND h.text = b.text)""".stripMargin,

    "q_job_quarantine_clean" ->
      s"""WITH out AS ($jobOutSql)
         |SELECT c_mktsegment, o_orderstatus, total, n
         |FROM out WHERE NOT ($jqViolN OR $jqViolTotal)""".stripMargin,

    "q_job_quarantine" ->
      s"""WITH out AS ($jobOutSql)
         |SELECT c_mktsegment, o_orderstatus, total, n,
         |  concat_ws(',',
         |    CASE WHEN $jqViolN THEN 'n_cap' END,
         |    CASE WHEN $jqViolTotal THEN 'total_cap' END) AS failed_rules
         |FROM out WHERE $jqViolN OR $jqViolTotal""".stripMargin,

    "q_datagen" -> datagenSelect,

    "q_datagen_errors" -> {
      import graft.sources.Datagen
      val nullHit = s"${Datagen.prngSql("row_id", 7L, 1000L)} < ${(0.05 * 2147483648L).toLong}"
      val oorHit = s"${Datagen.prngSql("row_id", 7L, 1001L)} < ${(0.1 * 2147483648L).toLong}"
      val oorVal = s"81 + (${Datagen.prngSql("row_id", 7L, 1001L)} % 100)"
      s"""WITH base AS ($datagenSelect)
         |SELECT row_id,
         |CASE WHEN $oorHit THEN $oorVal ELSE age END AS age,
         |salary,
         |CASE WHEN $nullHit THEN NULL ELSE name END AS name,
         |hired, last_login, active, dept
         |FROM base""".stripMargin
    }
  )

  /** One-document job in quarantine mode, shared by q_job_quarantine
    * and its clean companion: two row-level rules with overlapping
    * violations on the aggregated output (a segment with n > 900 AND
    * total > 250M fails both), run_id pinned so the slice path is
    * deterministic within the temp area.
    */
  private def jobQuarantineJson(dir: String, qdir: String): String =
    s"""{
       |  "datasets": [
       |    {"name": "j_orders", "format": "parquet", "path": "$dir/orders.parquet"},
       |    {"name": "j_customer", "format": "parquet", "path": "$dir/customer.parquet"}
       |  ],
       |  "pipeline": {"primary": "j_orders", "steps": [
       |    {"type": "filter", "column": "o_totalprice", "op": ">", "value": 50000},
       |    {"type": "rename", "mapping": {"o_custkey": "c_custkey"}},
       |    {"type": "join", "right": "j_customer", "on": ["c_custkey"], "broadcast": true},
       |    {"type": "aggregate", "groupBy": ["c_mktsegment", "o_orderstatus"],
       |     "aggs": [{"col": "o_totalprice", "fn": "sum_money", "as": "total"},
       |              {"col": "o_orderkey", "fn": "count", "as": "n"}]}
       |  ]},
       |  "quality": {"rules": [
       |    {"rule_id": "n_cap", "type": "range", "column": "n",
       |     "min": 1, "max": 900},
       |    {"rule_id": "total_cap", "type": "range", "column": "total",
       |     "min": 0, "max": 250000000}
       |  ], "quarantine_dir": "$qdir", "run_id": "jq1"}
       |}""".stripMargin

  // q_job's oracle AND the CTE both quarantine oracles split — one
  // definition so the three stay in lockstep; violation predicates
  // mirror ValueRange (null never violates)
  private val jobOutSql =
    """SELECT c_mktsegment, o_orderstatus,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |COUNT(o_orderkey) AS n
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_totalprice > 50000
      |GROUP BY c_mktsegment, o_orderstatus""".stripMargin
  private val jqViolN =
    "(n IS NOT NULL AND NOT (n BETWEEN 1 AND 900))"
  private val jqViolTotal =
    "(total IS NOT NULL AND NOT (total BETWEEN 0 AND 250000000))"
}
