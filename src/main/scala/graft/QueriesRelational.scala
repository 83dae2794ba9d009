package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.functions.Det

/** Temporal/relational analytics query pack: as-of join, range join,
  * funnel, cohort retention, histogram, fuzzy matching — the
  * operators a warehouse user of the reference framework writes by
  * hand (pandas merge_asof / interval masks / groupby chains).
  *
  * Oracle notes: raw `events.ts` outputs go through
  * `date_trunc('microseconds', ...)` on the DuckDB side (the source
  * parquet is ns-precision there; Spark reads microseconds), and
  * nullable timestamp/id outputs use explicit sentinels because the
  * driver comparator treats NaT/None asymmetrically.
  */
object QueriesRelational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // no-match sentinel: far before the 2024 event range, and inside the
  // pandas datetime64[ns] domain (a 9999-12-31 sentinel overflows ns
  // and wraps, breaking the driver comparator)
  private val noClickTs = "1970-01-01 00:00:00"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // as-of join: attribute each error event to the latest click at or
    // before it by the same user (pandas merge_asof(direction='backward'))
    "q_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      Relational.asofJoin(err, clk, Seq("user_id"), "ts", "ts",
          payloadCols = Seq("event_id"), direction = "backward", prefix = "click_")
        .select(col("event_id"), col("user_id"), col("ts"),
          coalesce(col("click_ts"), lit(noClickTs).cast("timestamp")).as("click_ts"),
          coalesce(col("click_event_id"), lit(-1L)).as("click_event_id"))
    }),

    // nearest-direction as-of with tolerance (pandas
    // merge_asof(direction='nearest', tolerance=...)): closest click
    // within 2h either side, ties backward
    "q_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      Relational.asofJoin(err, clk, Seq("user_id"), "ts", "ts",
          payloadCols = Seq("event_id"), direction = "nearest",
          prefix = "near_", toleranceSeconds = 7200L)
        .select(col("event_id"), col("user_id"), col("ts"),
          coalesce(col("near_ts"), lit(noClickTs).cast("timestamp")).as("near_ts"),
          coalesce(col("near_event_id"), lit(-1L)).as("near_event_id"))
    }),

    // range join: every event falling in the 24h incident window after
    // an error by the same user, aggregated per incident
    "q_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"), col("user_id"), col("ts").as("t0"))
        .withColumn("t1", col("t0") + expr("INTERVAL 24 HOURS"))
      val points = ev.select(col("user_id"), col("ts"), col("value"))
      Relational.rangeJoin(points, "ts", incidents, "t0", "t1",
          keys = Seq("user_id"), bucketSeconds = 86400L, strictStart = true)
        .groupBy(col("incident_id"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), Det.sumAt(col("value"), 6).as("sum_value"))
    }),

    // ordered-step funnel over the event stream
    "q_funnel" -> ((s, dir) => {
      Relational.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"))
    }),

    // cohort retention matrix: first-seen date x day offset x users
    "q_retention" -> ((s, dir) => {
      Relational.cohortRetention(t(s, dir, "events"), "user_id", "ts")
    }),

    // first-order event-transition matrix per user stream
    "q_transitions" -> ((s, dir) => {
      Relational.transitionMatrix(t(s, dir, "events"), "user_id", "ts",
        "event_type", Seq(col("ts").asc, col("event_id").asc))
    }),

    // fixed-width histogram of order totals
    "q_histogram" -> ((s, dir) => {
      Relational.histogram(t(s, dir, "orders"), "o_totalprice",
        lo = 0.0, hi = 600000.0, nbins = 24)
    }),

    // equi-depth histogram: 8 buckets of ~equal mass on extended price,
    // edges = exact octile quantiles (bounded three-scan machinery)
    "q_histogram_eqdepth" -> ((s, dir) => {
      Relational.histogramEquiDepth(t(s, dir, "lineitem"),
        "l_extendedprice", nbins = 8)
    }),

    // fuzzy vocabulary matching: distinct part names within edit
    // distance 2 (length-banded candidates + codegen'd levenshtein)
    "q_fuzzy" -> ((s, dir) => {
      Relational.fuzzyPairs(nameVocab(s, dir), "pid", "p_name", maxDist = 2)
        .select(col("str_a").as("name_a"), col("str_b").as("name_b"), col("dist"))
    }),

    // near-dup clustering: fuzzy pairs -> connected components via
    // componentLabelsStar (a driver union-find pass on a pair graph this
    // small, star rounds past its edge limit; identical labelling to
    // min-label propagation on either path — the oracle
    // unrolls propagation to a fixed depth, equal on these
    // tiny-diameter clusters)
    "q_dedup_cluster" -> ((s, dir) => {
      graft.llm.Dedup.componentLabelsStar(fuzzyNamePairs(s, dir), "name_a", "name_b")
    }),

    // cluster collapse: one canonical name per fuzzy cluster
    "q_dedup_collapse" -> ((s, dir) => {
      graft.llm.Dedup.collapseNearDups(nameVocab(s, dir), "p_name",
          fuzzyNamePairs(s, dir), idACol = "name_a", idBCol = "name_b")
        .select(col("p_name"))
    }),

    // best-copy collapse: each fuzzy cluster keeps its HIGHEST-quality
    // member (longest name here; ties to the largest) instead of the
    // smallest id — the production keep-the-best-duplicate policy
    "q_dedup_collapse_best" -> ((s, dir) => {
      val v = nameVocab(s, dir).withColumn("quality", length(col("p_name")))
      graft.llm.Dedup.collapseNearDupsBy(v, "p_name", "quality",
          fuzzyNamePairs(s, dir), idACol = "name_a", idBCol = "name_b")
        .select(col("p_name"))
    }),

    // Morton (Z-order) interleave — the clustering key behind
    // FileSink.writeZOrdered, checked value-exact against the same
    // flat shift/mask formula in SQL (8 bits × 2 dims on customer ×
    // order-day); the write path's layout guarantees are spec-tested
    "q_zorder" -> ((s, dir) => {
      val x = (col("o_custkey") % 256).cast("long")
      val y = (datediff(to_date(col("o_orderdate")),
        lit("1992-01-01").cast("date")) % 256).cast("long")
      t(s, dir, "orders").select(
        col("o_orderkey"), x.as("zx"), y.as("zy"),
        graft.functions.ZOrder.interleave(Seq(x, y), 8).as("zvalue"))
    })
  )

  /** The deduplicated part-name vocabulary every fuzzy/cluster query
    * shares (single definition so query and pair list cannot drift).
    */
  private def nameVocab(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").groupBy(col("p_name")).agg(min(col("p_partkey")).as("pid"))

  private def fuzzyNamePairs(s: SparkSession, dir: String): DataFrame =
    Relational.fuzzyPairs(nameVocab(s, dir), "pid", "p_name", maxDist = 2)
      .select(col("str_a").as("name_a"), col("str_b").as("name_b"))

  /** Shared oracle CTE chain: distinct names -> levenshtein<=2 pairs ->
    * undirected edges -> 4 unrolled min-label propagation rounds (>=
    * the cluster diameter, so l4 is the converged labelling).
    */
  private val clusterCtes: String =
    """WITH v AS (SELECT DISTINCT p_name FROM part),
      |pairs AS (SELECT a.p_name AS na, b.p_name AS nb FROM v a JOIN v b
      |          ON a.p_name < b.p_name
      |          WHERE levenshtein(a.p_name, b.p_name) <= 2),
      |und AS (SELECT na AS u, nb AS w FROM pairs
      |        UNION ALL SELECT nb AS u, na AS w FROM pairs),
      |l0 AS (SELECT DISTINCT u AS node, u AS comp FROM und),
      |l1 AS (SELECT l.node, LEAST(l.comp, MIN(p.comp)) AS comp FROM l0 l
      |       JOIN und e ON e.u = l.node JOIN l0 p ON p.node = e.w
      |       GROUP BY l.node, l.comp),
      |l2 AS (SELECT l.node, LEAST(l.comp, MIN(p.comp)) AS comp FROM l1 l
      |       JOIN und e ON e.u = l.node JOIN l1 p ON p.node = e.w
      |       GROUP BY l.node, l.comp),
      |l3 AS (SELECT l.node, LEAST(l.comp, MIN(p.comp)) AS comp FROM l2 l
      |       JOIN und e ON e.u = l.node JOIN l2 p ON p.node = e.w
      |       GROUP BY l.node, l.comp),
      |l4 AS (SELECT l.node, LEAST(l.comp, MIN(p.comp)) AS comp FROM l3 l
      |       JOIN und e ON e.u = l.node JOIN l3 p ON p.node = e.w
      |       GROUP BY l.node, l.comp)""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q_asof" ->
      s"""WITH err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         |clk AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         |m1 AS (SELECT e.event_id, MAX(c.ts) AS click_ts
         |       FROM err e JOIN clk c ON c.user_id = e.user_id AND c.ts <= e.ts
         |       GROUP BY e.event_id),
         |m2 AS (SELECT e.event_id, m1.click_ts, MAX(c.event_id) AS click_event_id
         |       FROM err e JOIN m1 ON m1.event_id = e.event_id
         |       JOIN clk c ON c.user_id = e.user_id AND c.ts = m1.click_ts
         |       GROUP BY e.event_id, m1.click_ts)
         |SELECT e.event_id, e.user_id, date_trunc('microseconds', e.ts) AS ts,
         |  date_trunc('microseconds', COALESCE(m2.click_ts, TIMESTAMP '$noClickTs')) AS click_ts,
         |  CAST(COALESCE(m2.click_event_id, -1) AS BIGINT) AS click_event_id
         |FROM err e LEFT JOIN m2 ON m2.event_id = e.event_id""".stripMargin,

    "q_asof_nearest" ->
      s"""WITH err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         |clk AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         |mb AS (SELECT e.event_id, MAX(c.ts) AS bts FROM err e JOIN clk c
         |       ON c.user_id = e.user_id AND c.ts <= e.ts
         |          AND c.ts >= e.ts - INTERVAL 2 HOURS
         |       GROUP BY e.event_id),
         |mf AS (SELECT e.event_id, MIN(c.ts) AS fts FROM err e JOIN clk c
         |       ON c.user_id = e.user_id AND c.ts >= e.ts
         |          AND c.ts <= e.ts + INTERVAL 2 HOURS
         |       GROUP BY e.event_id),
         |pick AS (SELECT e.event_id, e.user_id, e.ts,
         |  CASE WHEN mf.fts IS NULL THEN mb.bts
         |       WHEN mb.bts IS NOT NULL
         |            AND epoch_us(e.ts) - epoch_us(mb.bts)
         |                <= epoch_us(mf.fts) - epoch_us(e.ts) THEN mb.bts
         |       ELSE mf.fts END AS nts
         |  FROM err e LEFT JOIN mb ON mb.event_id = e.event_id
         |             LEFT JOIN mf ON mf.event_id = e.event_id),
         |named AS (SELECT p.event_id, p.nts, MAX(c.event_id) AS nid
         |          FROM pick p JOIN clk c ON c.user_id = p.user_id AND c.ts = p.nts
         |          GROUP BY p.event_id, p.nts)
         |SELECT p.event_id, p.user_id, date_trunc('microseconds', p.ts) AS ts,
         |  date_trunc('microseconds', COALESCE(p.nts, TIMESTAMP '$noClickTs')) AS near_ts,
         |  CAST(COALESCE(n.nid, -1) AS BIGINT) AS near_event_id
         |FROM pick p LEFT JOIN named n ON n.event_id = p.event_id""".stripMargin,

    "q_range_join" ->
      s"""WITH err AS (SELECT event_id AS incident_id, user_id, ts AS t0
         |             FROM events WHERE event_type = 'error')
         |SELECT err.incident_id, err.user_id, COUNT(*) AS n_events,
         |${Det.sqlSumAt("e.value", 6)} AS sum_value
         |FROM err JOIN events e ON e.user_id = err.user_id
         |  AND e.ts > err.t0 AND e.ts <= err.t0 + INTERVAL 24 HOURS
         |GROUP BY err.incident_id, err.user_id""".stripMargin,

    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |       JOIN s1 ON s1.user_id = e.user_id AND e.ts >= s1.t
        |       WHERE e.event_type = 'view' GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |       JOIN s2 ON s2.user_id = e.user_id AND e.ts >= s2.t
        |       WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |       JOIN s3 ON s3.user_id = e.user_id AND e.ts >= s3.t
        |       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT CAST(1 AS INTEGER) AS step_idx, 'signup' AS step,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'view', (SELECT COUNT(*) FROM s2)
        |UNION ALL SELECT 3, 'click', (SELECT COUNT(*) FROM s3)
        |UNION ALL SELECT 4, 'purchase', (SELECT COUNT(*) FROM s4)""".stripMargin,

    "q_retention" ->
      """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
        |           FROM events GROUP BY user_id)
        |SELECT f.cohort,
        |  CAST(date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM events e JOIN f ON f.user_id = e.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q_transitions" ->
      """WITH nxt AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type, 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |pairs AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM nxt
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
        |      FROM pairs GROUP BY 1)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS p
        |FROM pairs JOIN t USING (from_type)""".stripMargin,

    "q_histogram" ->
      """WITH h AS (
        |  SELECT CAST(LEAST(GREATEST(FLOOR((o_totalprice - 0.0) / 25000.0), 0), 23) AS BIGINT) AS bin
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT bin, 0.0 + bin * 25000.0 AS bin_lo, 0.0 + (bin + 1) * 25000.0 AS bin_hi,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM h GROUP BY bin""".stripMargin,

    "q_histogram_eqdepth" -> {
      // octile edges via quantile_cont — proven bit-parity with the
      // engine's exact quantiles (q_dq_quantiles); identical when-chain
      val n = 8
      val edgeDefs = (0 to n).map(i =>
        s"CAST(quantile_cont(l_extendedprice, ${i.toDouble / n}) AS DOUBLE) AS e$i").mkString(",\n")
      val binExpr = (1 until n).map(i =>
        s"(CASE WHEN l_extendedprice >= e.e$i THEN 1 ELSE 0 END)").mkString(" + ")
      val loList = (0 until n).map(i => s"e.e$i").mkString(", ")
      val hiList = (1 to n).map(i => s"e.e$i").mkString(", ")
      s"""WITH e AS (SELECT
         |$edgeDefs
         |FROM lineitem),
         |b AS (
         |  SELECT CAST($binExpr AS BIGINT) AS bin,
         |         list_value($loList)[CAST($binExpr + 1 AS INTEGER)] AS bin_lo,
         |         list_value($hiList)[CAST($binExpr + 1 AS INTEGER)] AS bin_hi
         |  FROM lineitem, e WHERE l_extendedprice IS NOT NULL)
         |SELECT bin, bin_lo, bin_hi, CAST(COUNT(*) AS BIGINT) AS n
         |FROM b GROUP BY 1, 2, 3""".stripMargin
    },

    "q_fuzzy" ->
      """WITH v AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM v a JOIN v b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,

    "q_dedup_cluster" ->
      (clusterCtes + "\nSELECT node, comp AS component FROM l4"),

    "q_dedup_collapse" ->
      (clusterCtes +
        "\nSELECT p_name FROM v WHERE p_name NOT IN (SELECT node FROM l4 WHERE comp <> node)"),

    "q_dedup_collapse_best" ->
      (clusterCtes +
        """,
          |winners AS (SELECT comp, node,
          |  ROW_NUMBER() OVER (PARTITION BY comp
          |                     ORDER BY length(node) DESC, node DESC) AS rn
          |  FROM l4)
          |SELECT p_name FROM v
          |WHERE p_name NOT IN (SELECT node FROM winners WHERE rn > 1)""".stripMargin),

    "q_zorder" -> {
      val x = "(o_custkey % 256)"
      val y = "(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256)"
      s"""SELECT o_orderkey, CAST($x AS BIGINT) AS zx, CAST($y AS BIGINT) AS zy,
         |CAST(${graft.functions.ZOrder.interleaveSql(Seq(x, y), 8)} AS BIGINT) AS zvalue
         |FROM orders""".stripMargin
    }
  )
}
