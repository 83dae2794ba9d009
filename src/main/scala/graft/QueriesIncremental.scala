package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.incremental.Incremental

/** Incremental-load query pack: q_incr_* + DuckDB oracles.
  * Reference semantics: src/utils/incremental_load_manager.py:118-521.
  */
object QueriesIncremental {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Session-lifetime ledger dir for q_incr_watermark_store, removed
    * at exit by [[TempDirs]] — repeated invocations reuse it instead of
    * leaking one temp tree each.
    */
  private[graft] lazy val wmStoreDir: String = TempDirs.registerForExit(
    java.nio.file.Files.createTempDirectory("graft_q_wmstore")).toString + "/wm"

  /** Session-lifetime versioned-table root for q_incr_since_version —
    * per-sf-dir subtrees (the committed slices derive from the input
    * tables), removed at exit the same way.
    */
  private[graft] lazy val vtBase: String = TempDirs.registerForExit(
    java.nio.file.Files.createTempDirectory("graft_q_vt")).toString

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // lakehouse since-version delta — ref incremental_load_manager.py
    // :786 (_extract_delta_lake, a placeholder in the reference): three
    // slices of orders commit as versions 1..3 of a VersionedTable
    // (txn ids make bench re-invocations replay-idempotent no-ops),
    // then the extract asks for rows past version 1 — a METADATA
    // answer that opens only the two delta commits' files. The oracle
    // states the expected content cut (slices 2 and 3) directly.
    "q_incr_since_version" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val tbl = s"${QueriesIncremental.vtBase}/vt_${math.abs(dir.hashCode)}"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      (0 to 2).foreach(i => VersionedTable.commit(
        o.filter(pmod(col("o_orderkey"), lit(3)) === i), tbl,
        txnId = Some(s"slice$i")))
      VersionedTable.readSince(s, tbl, sinceVersion = 1L)
    }),

    // watermark extract — ref incremental_load_manager.py:118
    "q_incr_watermark" -> ((s, dir) => {
      Incremental.afterWatermark(t(s, dir, "orders"), "o_orderdate", "1997-01-01 00:00:00")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"))
    }),

    // DURABLE watermark ledger driving the extract — ref :103/:141
    // get_last_watermark/update_watermark: the watermark round-trips
    // through the append-only parquet WatermarkStore (update → last)
    // and the STORED value (not caller state) feeds afterWatermark's
    // pushed-down range filter; the oracle asserts the same literal
    // cut, proving write→derive→decode→filter end to end
    "q_incr_watermark_store" -> ((s, dir) => {
      import graft.incremental.WatermarkStore
      // ONE store per JVM, deleted on exit: repeated invocations (bench
      // warmup + passes) re-append the same two fixed-timestamp events;
      // each append keeps a history row now, but `last` derives the
      // same watermark (newest update_time, identical values) — no
      // per-invocation temp dirs accumulating
      val store = QueriesIncremental.wmStoreDir
      val at = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      // two updates + an older superseded value: `last` must pick the
      // newest event, exactly the reference's ORDER BY update_time DESC
      WatermarkStore.update(s, store, "pq", "orders", "o_orderdate",
        java.sql.Timestamp.valueOf("1995-06-01 00:00:00"),
        at = Some(java.sql.Timestamp.valueOf("2023-12-01 00:00:00")))
      WatermarkStore.update(s, store, "pq", "orders", "o_orderdate",
        java.sql.Timestamp.valueOf("1997-01-01 00:00:00"), at = Some(at))
      val wm = WatermarkStore.last(s, store, "pq", "orders").get
      Incremental.afterWatermark(t(s, dir, "orders"), wm.column, wm.value)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"))
    }),

    // dedup keep-latest — ref :521
    "q_incr_dedup" -> ((s, dir) => {
      Incremental.dedupLatest(t(s, dir, "lineitem"), Seq("l_orderkey"),
          Seq(col("l_shipdate"), col("l_linenumber")))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("date").as("ship_day"))
    }),

    // upsert — ref :231
    "q_incr_upsert" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val target = o.filter(col("o_orderdate") < "1997-07-01 00:00:00")
        .select("o_orderkey", "o_totalprice")
      val updates = o.filter(col("o_orderdate") >= "1997-01-01 00:00:00")
        .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("o_totalprice"))
      Incremental.upsert(target, updates, Seq("o_orderkey"))
    }),

    // backdated corrections — ref :352 handle_data_correction: update
    // existing keys only; corrections for unknown keys are dropped
    "q_incr_corrections" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val corr = o.filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      // phantom keys map to strictly negative values (-k - 1) so they
      // can never collide with a real key at any scale factor (a fixed
      // offset would at SF >= 2, and bare negation maps key 0 to itself)
      val phantom = corr.withColumn("o_orderkey", -col("o_orderkey") - 1)
      Incremental.applyCorrections(o, corr.unionByName(phantom), Seq("o_orderkey"))
    }),

    // SCD Type 2 — ref :253
    "q_incr_scd2" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val current = c.filter(col("c_custkey") <= 1000)
        .withColumn("eff_start", lit("2020-01-01").cast("date"))
        .withColumn("eff_end", lit("9999-12-31").cast("date"))
        .withColumn("is_current", lit(true))
      val incoming = c.filter(col("c_custkey") > 500)
        .withColumn("c_acctbal",
          when(pmod(col("c_custkey"), lit(2)) === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
      Incremental.scd2(current, incoming, Seq("c_custkey"), Seq("c_acctbal"), "2021-01-01")
        .select("c_custkey", "c_acctbal", "eff_start", "eff_end", "is_current")
    }),

    // detect deletes — ref :167
    "q_incr_deletes" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_acctbal")
      Incremental.detectDeletes(c, c.filter(col("c_acctbal") > 0), Seq("c_custkey"))
    }),

    // snapshot reconciliation: cur drops every 100th key (removed),
    // re-keys every 50th negatively (added), bumps every 7th price and
    // nulls every 11th status (changed, column list in declared order)
    "q_incr_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val cur = o.filter(pmod(col("o_orderkey"), lit(100)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(7)) === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderstatus",
          when(pmod(col("o_orderkey"), lit(11)) === 0, lit(null).cast("string"))
            .otherwise(col("o_orderstatus")))
        .unionByName(o.filter(pmod(col("o_orderkey"), lit(50)) === 0)
          .withColumn("o_orderkey", -col("o_orderkey") - 1))
      Incremental.snapshotDiff(o, cur, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus"))
    }),

    // late-arriving data — ref :191
    "q_incr_late" -> ((s, dir) => {
      Incremental.flagLate(t(s, dir, "events"), "ts", "2024-01-15 00:00:00")
        .select("event_id", "is_late")
    }),

    // apply CDC — ref :438
    "q_incr_cdc" -> ((s, dir) => {
      val target = t(s, dir, "customer").select("c_custkey", "c_acctbal")
      val cdc = t(s, dir, "events").select(
        (col("user_id") + 1).as("c_custkey"),
        col("value").as("c_acctbal"),
        when(col("event_type") === "error", "D")
          .when(col("event_type") === "signup", "I").otherwise("U").as("op"),
        col("ts"), col("event_id"))
      Incremental.applyCdc(target, cdc, Seq("c_custkey"), "op",
        Seq(col("ts").desc, col("event_id").desc))
    }),

    // gap detection — ref :480
    // incremental distinct-count maintenance via mergeable HLL
    // sketches: per-day slices sketched independently (what each
    // load run would persist), rolled up by union — never a rescan.
    // rows-only (sketch estimates are engine-specific); the exact
    // companion below pins the same rollup against COUNT(DISTINCT)
    "q_incr_distinct_sketch" -> ((s, dir) => {
      val daily = Incremental.distinctSketch(
        t(s, dir, "events").withColumn("day", to_date(col("ts"))),
        Seq("event_type", "day"), "user_id")
      Incremental.rollupDistinct(daily, Seq("event_type"))
    }),

    "q_incr_distinct_exact" -> ((s, dir) => {
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    "q_incr_gaps" -> ((s, dir) => {
      Incremental.gaps(t(s, dir, "lineitem"), "l_orderkey", 1.0, 1.5)
    }),

    // end-to-end STREAMING CDC, oracle-checked: seed the customer
    // target with the idempotent swap writer, replay the same
    // events-derived I/U/D feed q_incr_cdc uses through the parquet
    // file source, fold each micro-batch via applyCdcStream
    // (restore-if-torn + applyCdc + write-new-state-then-swap), then
    // read the final target back — same answer as the batch fold, so
    // the whole recovery/streaming sink machinery sits under the
    // DuckDB oracle. Temp target+checkpoint dirs are per-invocation.
    "q_stream_cdc" -> ((s, dir) => {
      // the returned frame reads targetPath lazily, so the tree cannot
      // be reclaimed here — TempDirs deletes it at the next
      // releaseAll() boundary (all but the newest registration) or at
      // JVM exit via its single shared shutdown hook; one hook per
      // invocation would grow the hook list + temp volume unboundedly
      // in a long-lived REPL/server session
      val tmp = TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft_stream_cdc"))
      val targetPath = new java.io.File(tmp.toFile, "target").getAbsolutePath
      val ckpt = new java.io.File(tmp.toFile, "ckpt").getAbsolutePath
      Recovery.idempotentWrite(
        t(s, dir, "customer").select("c_custkey", "c_acctbal"), targetPath)
      val cdc = Tables.eventsStream(s, dir).select(
        (col("user_id") + 1).as("c_custkey"),
        col("value").as("c_acctbal"),
        when(col("event_type") === "error", "D")
          .when(col("event_type") === "signup", "I").otherwise("U").as("op"),
        col("ts"), col("event_id"))
      val q = graft.streaming.Streams.applyCdcStream(cdc, Seq("c_custkey"), "op",
        Seq(col("ts").desc, col("event_id").desc), targetPath, ckpt)
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(targetPath)
    })
  )

  def oracleSql: Map[String, String] = Map(

    // versions 1..3 hold the %3 == 0,1,2 slices; "since version 1"
    // is slices 2 and 3 by content
    "q_incr_since_version" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <> 0""".stripMargin,

    "q_incr_watermark" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date FROM orders
        |WHERE o_orderdate > TIMESTAMP '1997-01-01 00:00:00'""".stripMargin,

    // the engine derives this literal FROM the ledger (newest of two
    // stored events); the oracle states the expected cut directly
    "q_incr_watermark_store" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date FROM orders
        |WHERE o_orderdate > TIMESTAMP '1997-01-01 00:00:00'""".stripMargin,

    "q_incr_dedup" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_day FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_shipdate DESC, l_linenumber DESC) AS rn FROM lineitem)
        |WHERE rn = 1""".stripMargin,

    "q_incr_upsert" ->
      """SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |UNION ALL
        |SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND o_orderkey NOT IN (SELECT o_orderkey FROM orders
        |                         WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')""".stripMargin,

    "q_incr_corrections" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1000.0
        |     ELSE o_totalprice END AS o_totalprice,
        |o_orderdate, o_orderpriority
        |FROM orders""".stripMargin,

    "q_incr_scd2" ->
      """WITH cur AS (
        |  SELECT c_custkey, c_acctbal, DATE '2020-01-01' AS eff_start
        |  FROM customer WHERE c_custkey <= 1000),
        |inc AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey > 500),
        |j AS (
        |  SELECT cur.c_custkey AS ck, cur.c_acctbal AS cb, cur.eff_start AS st,
        |         inc.c_custkey AS ik, inc.c_acctbal AS ib
        |  FROM cur FULL OUTER JOIN inc ON cur.c_custkey = inc.c_custkey)
        |SELECT ck AS c_custkey, cb AS c_acctbal, st AS eff_start,
        |       DATE '9999-12-31' AS eff_end, TRUE AS is_current
        |FROM j WHERE ik IS NULL OR (ck IS NOT NULL AND cb IS NOT DISTINCT FROM ib)
        |UNION ALL
        |SELECT ck, cb, st, DATE '2021-01-01', FALSE
        |FROM j WHERE ck IS NOT NULL AND ik IS NOT NULL AND cb IS DISTINCT FROM ib
        |UNION ALL
        |SELECT ik, ib, DATE '2021-01-01', DATE '9999-12-31', TRUE
        |FROM j WHERE ck IS NULL OR (ik IS NOT NULL AND cb IS DISTINCT FROM ib)""".stripMargin,

    "q_incr_deletes" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)""".stripMargin,

    "q_incr_diff" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |cur AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
        |              ELSE o_totalprice END AS o_totalprice,
        |         CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_orderstatus END AS o_orderstatus
        |  FROM o WHERE o_orderkey % 100 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey - 1, o_totalprice, o_orderstatus
        |  FROM o WHERE o_orderkey % 50 = 0),
        |j AS (
        |  SELECT COALESCE(a.o_orderkey, c.o_orderkey) AS o_orderkey,
        |    CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |         WHEN c.o_orderkey IS NULL THEN 'removed'
        |         ELSE 'changed' END AS status,
        |    CASE WHEN a.o_orderkey IS NOT NULL AND c.o_orderkey IS NOT NULL
        |         THEN CONCAT_WS(',',
        |           CASE WHEN a.o_totalprice IS DISTINCT FROM c.o_totalprice
        |                THEN 'o_totalprice' END,
        |           CASE WHEN a.o_orderstatus IS DISTINCT FROM c.o_orderstatus
        |                THEN 'o_orderstatus' END)
        |         ELSE '' END AS changed_cols
        |  FROM o a FULL OUTER JOIN cur c ON a.o_orderkey = c.o_orderkey)
        |SELECT o_orderkey, status, changed_cols FROM j
        |WHERE status <> 'changed' OR changed_cols <> ''""".stripMargin,

    "q_incr_late" ->
      """SELECT event_id, ts <= TIMESTAMP '2024-01-15 00:00:00' AS is_late FROM events""".stripMargin,

    "q_incr_cdc" ->
      """WITH cdc AS (
        |  SELECT user_id + 1 AS c_custkey, value AS c_acctbal,
        |    CASE WHEN event_type = 'error' THEN 'D'
        |         WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op,
        |    ROW_NUMBER() OVER (PARTITION BY user_id + 1
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |latest AS (SELECT * FROM cdc WHERE rn = 1)
        |SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        |UNION ALL
        |SELECT c_custkey, c_acctbal FROM latest WHERE UPPER(op) <> 'D'""".stripMargin,

    "q_incr_distinct_exact" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,

    "q_incr_gaps" ->
      """WITH d AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |w AS (SELECT l_orderkey AS curr_val,
        |             LAG(l_orderkey, 1) OVER (ORDER BY l_orderkey) AS prev_val FROM d)
        |SELECT prev_val, curr_val, curr_val - prev_val AS gap
        |FROM w WHERE curr_val - prev_val > 1.5""".stripMargin,

    // identical to q_incr_cdc — the point: the streaming fold
    // (file source -> foreachBatch applyCdc -> idempotent swap)
    // lands on the same final state as the one-shot batch fold
    "q_stream_cdc" ->
      """WITH cdc AS (
        |  SELECT user_id + 1 AS c_custkey, value AS c_acctbal,
        |    CASE WHEN event_type = 'error' THEN 'D'
        |         WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op,
        |    ROW_NUMBER() OVER (PARTITION BY user_id + 1
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |latest AS (SELECT * FROM cdc WHERE rn = 1)
        |SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        |UNION ALL
        |SELECT c_custkey, c_acctbal FROM latest WHERE UPPER(op) <> 'D'""".stripMargin
  )
}
