package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Ops
import graft.pipeline.Pipeline
import graft.sources.{FileSink, FileSource, IncrementalSource, JdbcSink, JdbcSource, ObjectStore}

case class TypedOrder(o_orderkey: Long, o_totalprice: Double)

class PipelineSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("pipeline steps compose to the same plan results as direct Ops") {
    val sources = Map(
      "orders" -> table("orders"),
      "customer" -> Ops.renameColumns(table("customer"), Map("c_custkey" -> "o_custkey")))
    val spec = Pipeline.Spec("orders", Seq(
      Pipeline.Filter("o_totalprice", ">", 100000.0),
      Pipeline.Join("customer", Seq("o_custkey"), "inner", broadcastRight = true),
      Pipeline.Aggregate(Seq("c_mktsegment"), Seq(("o_orderkey", "count", "n")))))
    val got = Pipeline.run(spark, sources, spec)
    val want = Ops.groupAgg(
      Ops.join(Ops.filterBy(table("orders"), "o_totalprice", ">", 100000.0),
        sources("customer"), Seq("o_custkey"), "inner", broadcastRight = true),
      Seq("c_mktsegment"), Seq(("o_orderkey", "count", "n")))
    assert(got.orderBy("c_mktsegment").collect().toSeq ==
           want.orderBy("c_mktsegment").collect().toSeq)
  }

  test("pipeline SqlTransform sees the running frame as __pipe") {
    val out = Pipeline.run(spark, Map("region" -> table("region")),
      Pipeline.Spec("region", Seq(
        Pipeline.SqlTransform("SELECT COUNT(*) AS n FROM __pipe"))))
    assert(out.as[Long].head() == table("region").count())
  }

  test("JSON pipeline config parses and runs to the same result") {
    val json =
      """{"primary": "lineitem", "steps": [
        |  {"type": "filter", "column": "l_quantity", "op": ">", "value": 45},
        |  {"type": "join", "right": "orders", "on": ["l_orderkey"], "broadcast": true},
        |  {"type": "aggregate", "groupBy": ["o_orderpriority"],
        |   "aggs": [{"col": "l_quantity", "fn": "sum_money", "as": "qty"},
        |            {"col": "l_orderkey", "fn": "count", "as": "n"}]}
        |]}""".stripMargin
    val sources = Map(
      "lineitem" -> table("lineitem"),
      "orders" -> Ops.renameColumns(table("orders"), Map("o_orderkey" -> "l_orderkey")))
    val viaJson = Pipeline.run(spark, sources, graft.pipeline.PipelineJson.parse(json))
    val viaSpec = Pipeline.run(spark, sources, Pipeline.Spec("lineitem", Seq(
      Pipeline.Filter("l_quantity", ">", 45.0),
      Pipeline.Join("orders", Seq("l_orderkey"), "inner", broadcastRight = true),
      Pipeline.Aggregate(Seq("o_orderpriority"), Seq(
        ("l_quantity", "sum_money", "qty"), ("l_orderkey", "count", "n"))))))
    assert(viaJson.orderBy("o_orderpriority").collect().toSeq ==
           viaSpec.orderBy("o_orderpriority").collect().toSeq)
    assertThrows[IllegalArgumentException](
      graft.pipeline.PipelineJson.parse("""{"primary":"x","steps":[{"type":"nope"}]}"""))
  }

  test("JSON sql_expr step matches the native WithColumn expression") {
    val json =
      """{"primary": "lineitem", "steps": [
        |  {"type": "sql_expr", "name": "net", "expr": "l_extendedprice * (1.0 - l_discount)"},
        |  {"type": "aggregate", "groupBy": ["l_returnflag"],
        |   "aggs": [{"col": "net", "fn": "sum_money", "as": "s"}]}
        |]}""".stripMargin
    val sources = Map("lineitem" -> table("lineitem"))
    val viaJson = Pipeline.run(spark, sources, graft.pipeline.PipelineJson.parse(json))
    val viaSpec = Pipeline.run(spark, sources, Pipeline.Spec("lineitem", Seq(
      Pipeline.WithColumn("net", col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
      Pipeline.Aggregate(Seq("l_returnflag"), Seq(("net", "sum_money", "s"))))))
    assert(viaJson.orderBy("l_returnflag").collect().toSeq ==
           viaSpec.orderBy("l_returnflag").collect().toSeq)
  }

  test("DQ.profile approxDistinct variant runs in one pass without EXPAND") {
    val p = graft.quality.DQ.profile(table("orders"),
      numericCols = Seq("o_totalprice"), otherCols = Seq("o_orderstatus"),
      approxDistinct = true)
    val rows = p.collect().map(r => r.getString(0) -> r.getAs[Long]("distinct_cnt")).toMap
    assert(rows("o_orderstatus") >= 2 && rows("o_orderstatus") <= 4) // ~3 statuses
    assert(!p.queryExecution.executedPlan.toString.contains("Expand"))
    // exact mode routes distinct counts through the pair-counts
    // aggregation instead of N countDistinct aggs — also Expand-free
    // (measured 3x on the 5-column gate profile)
    val exact = graft.quality.DQ.profile(table("orders"),
      numericCols = Seq("o_totalprice"), otherCols = Seq("o_orderstatus"))
    assert(!exact.queryExecution.executedPlan.toString.contains("Expand"))
    val exactRows = exact.collect()
      .map(r => r.getString(0) -> r.getAs[Long]("distinct_cnt")).toMap
    assert(exactRows("o_orderstatus") == 3L)
  }

  test("runWithStats reports input and output row counts") {
    val (_, stats) = Pipeline.runWithStats(spark, Map("region" -> table("region")),
      Pipeline.Spec("region", Seq(Pipeline.Select(Seq("r_name")))))
    assert(stats.rowsIn("region") == stats.rowsOut)
  }

  test("RunHistory persists multi-run metrics and loads back as a catalog dataset") {
    import graft.monitoring.{Metrics, RunHistory}
    val dir = Files.createTempDirectory("graft_runhist").toString + "/history"

    // run 1: recorder-captured actions (with plan hashes)
    val rec = Metrics.attach(spark)
    try {
      table("region").count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (rec.snapshot().isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      val actions = rec.snapshot()
      assert(actions.nonEmpty && actions.exists(_.planHash.nonEmpty))
      RunHistory.append(spark, dir, "run_001", RunHistory.fromActions(actions))
    } finally spark.listenerManager.unregister(rec)

    // run 2: a pipeline audit entry
    val (_, stats) = Pipeline.runWithStats(spark, Map("region" -> table("region")),
      Pipeline.Spec("region", Seq(Pipeline.Select(Seq("r_name")))))
    RunHistory.append(spark, dir, "run_002",
      Seq(RunHistory.fromRunStats("region_select", stats, durationMs = 12L)))

    val hist = RunHistory.load(spark, dir)
    assert(hist.columns.toSet == Set("run_id", "query", "duration_ms",
      "rows", "plan_hash", "failed", "recorded_at"))
    assert(hist.select("run_id").distinct().count() == 2L)
    assert(hist.filter(col("run_id") === "run_002")
      .select("rows").as[Long].head() == table("region").count())

    // per-run read prunes to the run's partition
    val one = RunHistory.load(spark, dir).filter(col("run_id") === "run_001")
    assert(one.count() > 0 &&
      one.queryExecution.executedPlan.toString.contains("PartitionFilters"))

    // registered like any other dataset, queryable via SQL
    Catalog.register(spark, Seq(RunHistory.catalogSpec("run_history", dir)))
    assert(spark.sql(
      "SELECT count(DISTINCT run_id) FROM run_history").head().getLong(0) == 2L)
  }

  test("Trends: trends, baseline compare, regression and SLA alerts over history") {
    import graft.monitoring.{RunHistory, Trends}
    val dir = Files.createTempDirectory("graft_trends").toString + "/history"
    def e(q: String, ms: Long, plan: String = "p1", failed: Boolean = false) =
      RunHistory.Entry(q, ms, Some(10L), Some(plan), failed)
    // three steady prior runs, then a run where q_b regressed WITH a
    // plan change and q_c regressed without one
    RunHistory.append(spark, dir, "r1", Seq(e("q_a", 100), e("q_b", 200), e("q_c", 300)))
    RunHistory.append(spark, dir, "r2", Seq(e("q_a", 110), e("q_b", 210), e("q_c", 290)))
    RunHistory.append(spark, dir, "r3", Seq(e("q_a", 90), e("q_b", 190), e("q_c", 310)))
    RunHistory.append(spark, dir, "r4",
      Seq(e("q_a", 105), e("q_b", 400, plan = "p2"), e("q_c", 600),
        e("q_d", 50, failed = true)))
    val hist = RunHistory.load(spark, dir)

    val trend = Trends.queryTrends(hist)
    assert(trend.filter(col("query") === "q_a").head().getAs[Long]("n_runs") == 4L)

    val cmp = Trends.compareWithBaseline(hist, "r4", "r1")
      .collect().map(r => r.getAs[String]("query") -> r.getAs[Double]("change_ms")).toMap
    assert(cmp("q_b") == 200.0 && cmp("q_c") == 300.0 && cmp("q_a") == 5.0)
    assert(cmp.contains("q_d")) // present only in r4 — still surfaces

    val reg = Trends.regressions(hist, "r4", factor = 1.5, minPriorRuns = 3)
      .collect().map(r => r.getAs[String]("query") -> r.getAs[Boolean]("plan_changed")).toMap
    // q_b: 400 > 1.5×200 with a plan change; q_c: 600 > 1.5×300, same plan;
    // q_a is steady; q_d has no prior runs
    assert(reg == Map("q_b" -> true, "q_c" -> false))

    val alerts = Trends.slaBreaches(hist, Map("q_c" -> 500L), defaultSlaMs = 1000L)
      .collect().map(r => (r.getAs[String]("query"), r.getAs[String]("alert_type"))).toSet
    assert(alerts == Set(("q_c", "sla_breach"), ("q_d", "failure")))

    // bottlenecks: r4 total = 105+400+600+50; q_c leads
    val bn = Trends.bottlenecks(hist, "r4", topN = 2).collect()
    assert(bn.map(_.getAs[String]("query")).toSeq == Seq("q_c", "q_b"))
    assert(bn.head.getAs[Double]("pct_of_run") == 51.9)

    // dashboard: one frame with share, trailing average and alerts
    val dash = Trends.dashboard(hist, "r4", Map("q_c" -> 500L))
      .collect().map(r => r.getAs[String]("query") ->
        (r.getAs[Double]("prior_avg_ms"), r.getAs[String]("alert"))).toMap
    assert(dash("q_b") == ((200.0, "ok")) && dash("q_c") == ((300.0, "sla_breach")))
    assert(dash("q_d")._2 == "failure")
    assert(dash("q_d")._1 == null.asInstanceOf[Double]) // no prior runs
  }

  test("metricAlerts: planted decaying recall history fires decay + floor alerts") {
    import graft.monitoring.{RunHistory, Trends}
    val dir = Files.createTempDirectory("graft_recall").toString + "/metrics"
    // five rounds of ANN telemetry: recall_ivf decays steadily,
    // recall_lsh holds low (under its floor), recall_flat is healthy
    val rounds = Seq(
      "r1" -> Map("recall_ivf" -> 0.90, "recall_lsh" -> 0.40, "recall_flat" -> 1.0),
      "r2" -> Map("recall_ivf" -> 0.86, "recall_lsh" -> 0.41, "recall_flat" -> 1.0),
      "r3" -> Map("recall_ivf" -> 0.82, "recall_lsh" -> 0.40, "recall_flat" -> 1.0),
      "r4" -> Map("recall_ivf" -> 0.78, "recall_lsh" -> 0.39, "recall_flat" -> 1.0),
      "r5" -> Map("recall_ivf" -> 0.60, "recall_lsh" -> 0.40, "recall_flat" -> 1.0))
    rounds.foreach { case (rid, m) => RunHistory.appendMetrics(spark, dir, rid, m) }
    val metrics = RunHistory.loadMetrics(spark, dir)
    val alerts = Trends.metricAlerts(metrics, "r5",
        floors = Map("recall_lsh" -> 0.45, "recall_ivf" -> 0.3), dropPct = 0.10)
      .collect().map(r => (r.getAs[String]("metric"), r.getAs[String]("alert_type")))
      .toSet
    // ivf: 0.60 < 0.9×avg(0.90,0.86,0.82,0.78)=0.7560 → decaying (floor
    // 0.3 not crossed); lsh: 0.40 < 0.45 floor, decay silent (stable);
    // flat: healthy, silent
    assert(alerts == Set(("recall_ivf", "decaying"), ("recall_lsh", "below_floor")))
    // a healthy judging round fires nothing
    assert(Trends.metricAlerts(metrics, "r2",
      floors = Map("recall_lsh" -> 0.35), dropPct = 0.10).isEmpty)
    // cold start: below minPriorRuns distinct prior runs, decay is silent
    val short = metrics.filter(col("run_id").isin("r1", "r2", "r5"))
    assert(Trends.metricAlerts(short, "r5", dropPct = 0.10).isEmpty)
  }

  test("SLA kinds over RunHistory: checks, compliance window, predictive warning") {
    import graft.monitoring.{RunHistory, Trends}, Trends.SlaRule
    val dir = Files.createTempDirectory("graft_sla").toString + "/history"
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:00")
    val asOf = java.sql.Timestamp.valueOf("2024-03-30 12:00:00")
    def e(q: String, ms: Long, rows: Long, failed: Boolean = false) =
      RunHistory.Entry(q, ms, Some(rows), Some("p1"), failed)

    // 30 days of daily "etl" runs: healthy for three weeks (fast, full
    // row counts), degrading in the last week (slow, thin loads); a
    // second label "stale" whose last run is 8 days old
    (1 to 29).foreach { d =>
      val healthy = d <= 22
      RunHistory.append(spark, dir, f"run_$d%02d",
        Seq(e("etl", if (healthy) 400 else 1500, if (healthy) 5000 else 100)),
        recordedAt = Some(ts(d)))
    }
    RunHistory.append(spark, dir, "stale_1", Seq(e("stale", 100, 10)),
      recordedAt = Some(ts(22)))
    RunHistory.append(spark, dir, "stale_2",
      Seq(e("stale", 100, 10, failed = true)), recordedAt = Some(ts(23)))
    val hist = RunHistory.load(spark, dir)

    val rules = Seq(
      SlaRule("execution_time", "etl", 1000.0, "lt"),
      SlaRule("row_count", "etl", 1000.0, "gt"),
      SlaRule("data_freshness", "etl", 240.0, "lt"), // < 10 days old
      SlaRule("data_freshness", "stale", 24.0, "lt"),
      SlaRule("success_rate", "stale", 0.9, "gt"))

    // per-(run, rule) checks: every kind computes the reference's
    // actual/status/deviation columns
    val checks = Trends.slaChecks(hist, rules, asOf)
    val byKey = checks.collect().map(r => (r.getAs[String]("run_id"),
      r.getAs[String]("sla_type")) ->
      (r.getAs[String]("status"), r.getAs[Double]("actual"),
        r.getAs[Double]("deviation"))).toMap
    assert(byKey(("run_10", "execution_time")) == (("met", 400.0, 60.0)))
    assert(byKey(("run_25", "execution_time")) == (("violated", 1500.0, 50.0)))
    assert(byKey(("run_25", "row_count"))._1 == "violated")
    assert(byKey(("run_10", "row_count"))._1 == "met")
    // freshness: ONE check per label, on its latest run — run_29's
    // data is 24h old relative to asOf → met under 240h; the stale
    // label's last run is 7 days old → violated on ITS 24h rule; NO
    // freshness rows for older runs (they were fresh when they ran)
    assert(byKey(("run_29", "data_freshness")) == (("met", 24.0, 90.0)))
    assert(!byKey.contains(("run_10", "data_freshness")))
    assert(checks.filter(col("sla_type") === "data_freshness").count() == 2)
    assert(byKey(("stale_2", "data_freshness"))._1 == "violated")
    assert(byKey(("stale_2", "data_freshness"))._2 == 7 * 24.0)

    // success rate (ref unit_tests.py:409): label-level, latest run —
    // stale has 1 failure in 2 runs → 0.5, violated under > 0.9
    assert(byKey(("stale_2", "success_rate")) == (("violated", 0.5, 44.4)))
    assert(checks.filter(col("sla_type") === "success_rate").count() == 1)

    // the multi-kind breach feed is exactly the violated subset
    val breaches = Trends.slaBreaches(hist, rules, asOf)
    assert(breaches.count() ==
      checks.filter(col("status") === "violated").count())
    assert(breaches.select("sla_type").distinct().collect()
      .map(_.getString(0)).toSet ==
      Set("execution_time", "row_count", "data_freshness", "success_rate"))

    // quality-score check (ref unit_tests.py:425) off a real DQ report,
    // same row shape → unions into the same roll-up
    val report = graft.quality.DQ.check(
      spark.range(10).selectExpr("id", "CASE WHEN id < 9 THEN 'x' END AS s"),
      Seq(graft.quality.DQ.NotNull("nn_s", "s"),
        graft.quality.DQ.ValueRange("rng_id", "id", 0, 100)))
    val q = Trends.qualityScoreCheck(report, "run_29", "etl", 90.0).head()
    assert(q.getAs[String]("sla_type") == "quality_score")
    assert(q.getAs[Double]("actual") == 50.0) // 1 of 2 rules passed
    assert(q.getAs[String]("status") == "violated")
    assert(q.getAs[Double]("deviation") == 44.4)

    // overall roll-up (ref unit_tests.py:439): any violated → false
    val overall = Trends.overallCompliance(checks).head()
    assert(overall.getAs[Long]("total_checks") ==
      checks.count())
    assert(!overall.getAs[Boolean]("overall_compliant"))
    val allMet = Trends.overallCompliance(
      checks.filter(col("status") === "met")).head()
    assert(allMet.getAs[Boolean]("overall_compliant"))

    // compliance rate over trailing windows (ref :236): the 30-day
    // window mixes healthy+degraded, the 7-day window is all degraded
    val c30 = Trends.complianceRate(hist, rules, "etl", 30, asOf).head()
    val c7 = Trends.complianceRate(hist, rules, "etl", 7, asOf).head()
    // 29 runs × 2 per-run rules + 1 freshness (window-latest run);
    // last-7-days = runs 23..29 (7 runs, all degraded; day 23 lands
    // exactly on the cutoff, >= keeps it)
    assert(c30.getAs[Long]("n_checks") == 29 * 2 + 1)
    assert(c7.getAs[Long]("n_checks") == 7 * 2 + 1)
    assert(c7.getAs[Double]("compliance_pct") <
      c30.getAs[Double]("compliance_pct"))
    // degraded window: exec+rows violated on all 7 runs, the single
    // freshness check (run_29) met → 1 of 15
    assert(c7.getAs[Double]("compliance_pct") == 6.7)
    // 30d: exec 22 met + rows 22 met + freshness met = 45 of 59
    assert(c30.getAs[Double]("compliance_pct") == 76.3)

    // predictive warning fires exactly when recent < 0.9 × overall
    val warn = Trends.predictiveWarning(hist, rules, "etl", asOf)
    assert(warn.count() == 1)
    val w = warn.head()
    assert(w.getAs[String]("warning") == "Compliance rate dropping")
    assert(w.getAs[Double]("recent_pct") < w.getAs[Double]("overall_pct") * 0.9)
    // ... and stays silent on a healthy window (as-of back in week 3)
    val calm = Trends.predictiveWarning(hist, rules, "etl",
      java.sql.Timestamp.valueOf("2024-03-22 12:00:00"))
    assert(calm.count() == 0)

    // an unknown label yields zero checks and a 0.0 rate, not an error
    val none = Trends.complianceRate(hist, rules, "ghost", 30, asOf).head()
    assert(none.getAs[Long]("n_checks") == 0L &&
      none.getAs[Double]("compliance_pct") == 0.0)
  }

  test("Alerts: feeds, severity routing, rate limit, escalation as queries") {
    import graft.monitoring.Alerts
    import spark.implicits._

    // severity → channel routing table (ref _get_channels_for_severity)
    assert(Alerts.channelsFor("CRITICAL") == Seq("pagerduty", "email", "slack"))
    assert(Alerts.channelsFor("high") == Seq("email", "slack"))
    assert(Alerts.channelsFor("MEDIUM") == Seq("slack"))
    assert(Alerts.channelsFor("LOW") == Seq("dashboard"))
    assert(Alerts.channelsFor("INFO").isEmpty)

    // sla feed: only violated rows, HIGH above 50% deviation
    val checks = Seq(
      ("r1", "etl", "execution_time", 1500.0, 1000.0, "lt", "violated", 50.0),
      ("r2", "etl", "execution_time", 2200.0, 1000.0, "lt", "violated", 120.0),
      ("r3", "etl", "row_count", 5000.0, 1000.0, "gt", "met", 400.0))
      .toDF("run_id", "query", "sla_type", "actual", "threshold",
        "operator", "status", "deviation")
    val sla = Alerts.fromSlaChecks(checks).collect()
      .map(r => r.getAs[String]("run_id") ->
        (r.getAs[String]("severity"), r.getAs[Seq[String]]("channels"))).toMap
    assert(sla.keySet == Set("r1", "r2"))
    assert(sla("r1") == (("MEDIUM", Seq("slack"))))
    assert(sla("r2") == (("HIGH", Seq("email", "slack"))))

    // dq feed off a real check report: failed rules only, share-based severity
    val report = graft.quality.DQ.check(
      Seq(("a", 1), (null, 2), (null, 3)).toDF("s", "i"),
      Seq(graft.quality.DQ.NotNull("nn_s", "s"),
        graft.quality.DQ.ValueRange("rng_i", "i", 0, 10)))
    val dq = Alerts.fromDqReport(report, "run_9").collect()
    assert(dq.length == 1 && dq.head.getAs[String]("rule_id") == "nn_s")
    assert(dq.head.getAs[String]("severity") == "HIGH") // 2 of 3 rows
    assert(dq.head.getAs[String]("message").contains("violations=2/3"))

    // failure feed from history rows
    val hist = Seq(
      ("r1", "etl", 100L, false, java.sql.Timestamp.valueOf("2024-03-01 10:00:00")),
      ("r2", "etl", 100L, true, java.sql.Timestamp.valueOf("2024-03-01 11:00:00")))
      .toDF("run_id", "query", "duration_ms", "failed", "recorded_at")
    val fails = Alerts.fromRunFailures(hist).collect()
    assert(fails.length == 1 && fails.head.getAs[String]("run_id") == "r2" &&
      fails.head.getAs[String]("severity") == "HIGH")

    // rate limit: 8 same-type alerts in one 300s window → 5 pass; the
    // next window starts clean
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 10:${s / 60}%02d:${s % 60}%02d")
    val feed = ((1 to 8).map(i => ("dq_failure", "M", s"m$i", ts(10 * i))) :+
      (("dq_failure", "M", "late", ts(400))) :+
      (("sla_violation", "M", "other-type", ts(20))))
      .toDF("alert_type", "severity", "message", "at")
    val rl = Alerts.rateLimit(feed, "at", windowSec = 300, maxPerWindow = 5)
      .collect().map(r => r.getAs[String]("message") ->
        r.getAs[Boolean]("rate_limited")).toMap
    assert((1 to 5).forall(i => !rl(s"m$i")) && (6 to 8).forall(i => rl(s"m$i")))
    assert(!rl("late")) // next tumbling window: counter reset
    assert(!rl("other-type")) // limits are per alert_type

    // escalation: old unacked HIGH escalates; acked or young do not
    val alerts = Seq(
      ("sla_violation", "HIGH", "a1", "r1", ts(0)),
      ("sla_violation", "HIGH", "a2", "r2", ts(0)),
      ("dq_failure", "MEDIUM", "a3", "r3", ts(0)),
      ("sla_violation", "HIGH", "young", "r4",
        java.sql.Timestamp.valueOf("2024-03-01 11:55:00")))
      .toDF("alert_type", "severity", "message", "run_id", "at")
    val acks = Seq(("sla_violation", "r2")).toDF("alert_type", "run_id")
    val esc = Alerts.escalate(alerts, acks,
      java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), "at",
      afterMinutes = 30).collect()
    assert(esc.map(_.getAs[String]("run_id")).toSeq == Seq("r1"))
    assert(esc.head.getAs[String]("alert_type") == "sla_violation_escalation")
    assert(esc.head.getAs[String]("message").startsWith("ESCALATION: "))
    assert(esc.head.getAs[Int]("escalation_level") == 1)

    // the escalation ladder: feeding level-1 output back derives level
    // 2 from the row, without re-suffixing the type or re-prefixing
    // the message — no caller-side level bookkeeping
    val esc1 = Alerts.escalate(alerts, acks,
      java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), "at", 30)
      .select("alert_type", "severity", "message", "run_id", "at",
        "escalation_level")
    val esc2 = Alerts.escalate(esc1, acks,
      java.sql.Timestamp.valueOf("2024-03-01 13:00:00"), "at", 30).collect()
    assert(esc2.length == 1)
    assert(esc2.head.getAs[String]("alert_type") == "sla_violation_escalation")
    assert(esc2.head.getAs[Int]("escalation_level") == 2)
    assert(!esc2.head.getAs[String]("message").startsWith("ESCALATION: ESCALATION:"))
    // acknowledging the ORIGINAL alert stops the ladder even though
    // the escalated row carries the suffixed type
    val ackOriginal = Seq(("sla_violation", "r1")).toDF("alert_type", "run_id")
    assert(Alerts.escalate(esc1, ackOriginal,
      java.sql.Timestamp.valueOf("2024-03-01 13:00:00"), "at", 30).count() == 0)

    // escalation never DOWNGRADES: a CRITICAL alert keeps CRITICAL
    // and its pagerduty channel in the re-routed channels column
    val crit = Seq(("dq_failure", "CRITICAL", "c1", "r9", ts(0)))
      .toDF("alert_type", "severity", "message", "run_id", "at")
    val critEsc = Alerts.escalate(crit, acks,
      java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), "at", 30).collect()
    assert(critEsc.length == 1)
    assert(critEsc.head.getAs[String]("severity") == "CRITICAL")
    assert(critEsc.head.getSeq[String](critEsc.head.fieldIndex("channels")) ==
      Seq("pagerduty", "email", "slack"))

    // routing API and column stay one table
    assert(Alerts.channelsFor("HIGH") == Seq("email", "slack"))
  }

  test("Job: one-document config runs end-to-end; gate, sink and validation enforced") {
    import graft.pipeline.Job
    val dir = TestSession.sfDir
    val out = Files.createTempDirectory("graft_job").toString + "/out"
    def doc(minScore: Double, withSink: Boolean = false, withAnomaly: Boolean = false) =
      s"""{
         |  "datasets": [
         |    {"name": "jo", "format": "parquet", "path": "$dir/orders.parquet"}
         |  ],
         |  "pipeline": {"primary": "jo", "steps": [
         |    {"type": "filter", "column": "o_totalprice", "op": ">", "value": 1000},
         |    {"type": "select", "columns": ["o_orderkey", "o_totalprice", "o_orderstatus"]}
         |  ]},
         |  "quality": {"rules": [
         |    {"rule_id": "st_allowed", "type": "allowed_values",
         |     "column": "o_orderstatus", "values": ["zzz"]}
         |  ], "min_score": $minScore}
         |  ${if (withSink) s""","sink": {"path": "$out", "mode": "atomic"}""" else ""}
         |  ${if (withAnomaly) ""","anomaly": {"method": "zscore", "column": "o_totalprice", "threshold": 3.0}""" else ""}
         |}""".stripMargin
    // impossible rule + gate -> QualityGateException names the rule
    val gateErr = intercept[graft.quality.DQ.QualityGateException](
      Job.runJson(spark, doc(minScore = 100.0)))
    assert(gateErr.failed == Seq("st_allowed"))
    // same rules ungated (min 0): report returned, run succeeds,
    // sink written atomically, anomaly side output produced. Run under
    // a 1-byte small-frame budget: the output cache must not depend on it
    spark.conf.set("spark.graft.smallPersistBytes", "1")
    val res = try Job.runJson(spark, doc(0.0, withSink = true, withAnomaly = true))
      finally spark.conf.unset("spark.graft.smallPersistBytes")
    assert(res.output.columns.toSeq ==
      Seq("o_orderkey", "o_totalprice", "o_orderstatus"))
    assert(res.dqReport.get.filter(!col("passed")).count() == 1)
    assert(res.anomalies.isDefined)
    assert(spark.read.parquet(out).count() == res.output.count())
    // r21 cache gate: the output cache only engages when the spec
    // declares a SECOND consumer (dq/quarantine/anomaly/sink) — a bare
    // pipeline's output goes to the caller once, and caching it paid
    // materialization for zero reuse (the r20 q_job_screen regression)
    val bare =
      s"""{"datasets": [{"name": "jo", "format": "parquet", "path": "$dir/orders.parquet"}],
         | "pipeline": {"primary": "jo", "steps": [
         |   {"type": "select", "columns": ["o_orderkey", "o_totalprice"]}
         | ]}}""".stripMargin
    assert(Job.runJson(spark, bare).output.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "single-consumer job output must not be cached")
    assert(res.output.storageLevel.useMemory,
      "multi-consumer job output should stay cached whatever the small-frame budget")
    res.close()
    // config validation: unknown keys and missing sections fail fast
    assert(intercept[IllegalArgumentException](
      Job.parse("""{"datasets": [], "pipelines": {}}"""))
      .getMessage.contains("unknown top-level"))
    assert(intercept[IllegalArgumentException](
      Job.parse("""{"datasets": []}""")).getMessage.contains("pipeline"))
    // a primary that isn't a declared dataset is a config error
    val badPrimary =
      s"""{"datasets": [{"name": "jo", "format": "parquet", "path": "$dir/orders.parquet"}],
         | "pipeline": {"primary": "nope", "steps": []}}""".stripMargin
    assert(intercept[IllegalArgumentException](Job.runJson(spark, badPrimary))
      .getMessage.contains("not a declared dataset"))

    // quarantine mode: failing rows route to the per-run slice and the
    // job continues with the clean side
    val qdir = Files.createTempDirectory("graft_jobq").toString + "/quarantine"
    val quarDoc =
      s"""{
         |  "datasets": [
         |    {"name": "jo", "format": "parquet", "path": "$dir/orders.parquet"}
         |  ],
         |  "pipeline": {"primary": "jo", "steps": [
         |    {"type": "select", "columns": ["o_orderkey", "o_orderstatus"]}
         |  ]},
         |  "quality": {"rules": [
         |    {"rule_id": "only_f", "type": "allowed_values",
         |     "column": "o_orderstatus", "values": ["F"]}
         |  ], "quarantine_dir": "$qdir", "run_id": "jq1"}
         |}""".stripMargin
    val qres = Job.runJson(spark, quarDoc)
    val total = spark.read.parquet(s"$dir/orders.parquet").count()
    val quarantined = spark.read.parquet(s"$qdir/run_id=jq1")
    assert(qres.output.count() + quarantined.count() == total)
    assert(qres.output.filter(col("o_orderstatus") =!= "F").count() == 0)
    assert(quarantined.filter(col("failed_rules") =!= "only_f").count() == 0)
    // an aggregate-level rule cannot drive row routing — parse-time error
    assert(intercept[IllegalArgumentException](Job.parse(
      quarDoc.replace("""{"rule_id": "only_f", "type": "allowed_values",
     "column": "o_orderstatus", "values": ["F"]}""",
        """{"rule_id": "u", "type": "uniqueness", "columns": ["o_orderkey"]}""")))
      .getMessage.contains("row-level"))
    // quarantine_dir without an explicit run_id would silently
    // overwrite evidence across runs — parse-time error
    assert(intercept[IllegalArgumentException](Job.parse(
      quarDoc.replace(""", "run_id": "jq1"""", "")))
      .getMessage.contains("run_id"))

    // history integration: the job's actions land in RunHistory under
    // the run id, even when the quality gate throws
    val hist = Files.createTempDirectory("graft_jobhist").toString + "/history"
    Job.runWithHistory(spark, Job.parse(doc(0.0, withSink = true)), hist, "job_ok").close()
    intercept[graft.quality.DQ.QualityGateException](
      Job.runWithHistory(spark, Job.parse(doc(100.0)), hist, "job_gated"))
    val h = graft.monitoring.RunHistory.load(spark, hist)
    // the unconditional top-level entry: ok run not failed, gated failed
    assert(h.filter(col("run_id") === "job_ok" && col("query") === "job" &&
      !col("failed")).count() == 1)
    assert(h.filter(col("run_id") === "job_gated" && col("query") === "job" &&
      col("failed")).count() == 1)
    // the drained bus delivered the ok run's actions: its gate collect
    // and its sink write
    val okActions = h.filter(col("run_id") === "job_ok").select("query")
      .as[String].collect().toSeq
    assert(okActions.contains("collect") && okActions.contains("command"), okActions)
  }

  // a multi-consumer document over the sf tables: lineitem (the
  // primary) joined with orders, aggregated per order, gated, split,
  // screened and sunk
  private def multiConsumerJob(base: String, minScore: Double = 0.0,
                               quarantine: Boolean = true): String = {
    val dir = TestSession.sfDir
    s"""{
       |  "datasets": [
       |    {"name": "mc_li", "format": "parquet", "path": "$dir/lineitem.parquet"},
       |    {"name": "mc_orders", "format": "parquet", "path": "$dir/orders.parquet"}
       |  ],
       |  "pipeline": {"primary": "mc_li", "steps": [
       |    {"type": "filter", "column": "l_quantity", "op": ">=", "value": 5},
       |    {"type": "rename", "mapping": {"l_orderkey": "o_orderkey"}},
       |    {"type": "join", "right": "mc_orders", "on": ["o_orderkey"]},
       |    {"type": "aggregate", "groupBy": ["o_orderkey", "o_orderpriority"],
       |     "aggs": [{"col": "l_extendedprice", "fn": "sum_money", "as": "net"},
       |              {"col": "l_linenumber", "fn": "count", "as": "n_lines"}]}
       |  ]},
       |  "quality": {"rules": [
       |    {"rule_id": "lines_range", "type": "range", "column": "n_lines",
       |     "min": 1, "max": 3}
       |  ], "min_score": $minScore
       |  ${if (quarantine) s""", "quarantine_dir": "$base/quarantine", "run_id": "mc1"""" else ""}},
       |  "anomaly": {"method": "isolation_forest", "columns": ["net", "n_lines"],
       |              "threshold": 0.62},
       |  "sink": {"format": "parquet", "path": "$base/out", "mode": "atomic"}
       |}""".stripMargin
  }

  test("Job: a multi-consumer job scans its primary once, whatever the small-frame budget") {
    import graft.pipeline.Job
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val primary = s"${TestSession.sfDir}/lineitem.parquet"
    // executed scans of the primary: direct file scans, plus the scans
    // inside a cached relation the first time an action meets it (later
    // reads of the same cache re-derive nothing)
    final class ScanCounter extends QueryExecutionListener with AdaptiveSparkPlanHelper {
      private val seen = scala.collection.mutable.Set.empty[AnyRef]
      @volatile var scans = 0L
      private def count(plan: SparkPlan): Long = collectWithSubqueries(plan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(primary)) => 1L
        case m: InMemoryTableScanExec if seen.add(m.relation.cacheBuilder) =>
          count(m.relation.cacheBuilder.cachedPlan)
      }.sum
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        synchronized { scans += count(qe.executedPlan) }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        synchronized { scans += count(qe.executedPlan) }
    }
    def primaryScans(budget: Option[String]): Long = {
      GraftSession.releaseAll(spark)
      val base = Files.createTempDirectory("graft_mc").toString
      val counter = new ScanCounter
      budget.foreach(spark.conf.set("spark.graft.smallPersistBytes", _))
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      spark.listenerManager.register(counter)
      try {
        val res = Job.runJson(spark, multiConsumerJob(base))
        try {
          // the anomaly side output is a fifth consumer of the cache
          Recovery.idempotentWrite(res.anomalies.get, s"$base/anomalies")
          assert(spark.read.parquet(s"$base/out").count() > 0)
        } finally res.close()
        org.apache.spark.GraftBus.drain(spark.sparkContext)
        counter.scans
      } finally {
        spark.listenerManager.unregister(counter)
        spark.conf.unset("spark.graft.smallPersistBytes")
      }
    }
    assert(primaryScans(Some("1")) == 1, "1-byte budget")
    assert(primaryScans(None) == 1, "default budget")
  }

  test("Job: a small multi-consumer job writes one file per output") {
    import graft.pipeline.Job
    val base = Files.createTempDirectory("graft_files").toString
    val res = Job.runJson(spark, multiConsumerJob(base))
    try Recovery.idempotentWrite(res.anomalies.get, s"$base/anomalies") finally res.close()
    def files(dir: String) =
      new java.io.File(s"$base/$dir").listFiles().count(_.getName.startsWith("part-"))
    assert(Seq("out", "quarantine/run_id=mc1", "anomalies").map(files) == Seq(1, 1, 1))
  }

  test("Job.Result owns the output cache: close, a failed gate, Dag and Run release it") {
    import graft.pipeline.{Dag, Job}
    val sc = spark.sparkContext
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def pinned(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    GraftSession.releaseAll(spark)
    val before = pinned()
    val base = Files.createTempDirectory("graft_own").toString

    // no quarantine: the output IS the cached frame
    val res = Job.runJson(spark, multiConsumerJob(base, quarantine = false))
    assert(res.output.storageLevel.useMemory)
    assert((pinned() -- before).nonEmpty, "the gate action materializes the cache")
    res.close()
    assert(res.output.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(cacheManager.isEmpty && (pinned() -- before).isEmpty)
    // a second close is a no-op: it does not drop a cache the caller took since
    res.output.persist()
    res.close()
    assert(res.output.storageLevel.useMemory)
    // ...and a plan the caller already cached is read, not owned
    val reused = Job.runJson(spark, multiConsumerJob(s"$base/reused", quarantine = false))
    assert(reused.output.storageLevel.useMemory)
    reused.close()
    assert(res.output.storageLevel.useMemory, "close must not drop a cache it did not take")
    res.output.unpersist(blocking = true)
    assert(cacheManager.isEmpty)

    // a failed gate releases the cache before the exception escapes
    intercept[graft.quality.DQ.QualityGateException](
      Job.runJson(spark, multiConsumerJob(s"$base/gated", minScore = 101.0)))
    assert(cacheManager.isEmpty && (pinned() -- before).isEmpty)

    // Dag closes each node's result once the node is done
    val dag =
      s"""{"jobs": [
         | {"id": "a", "job": ${multiConsumerJob(s"$base/dag_a")}},
         | {"id": "b", "depends_on": ["a"], "job": ${multiConsumerJob(s"$base/dag_b")}}
         |]}""".stripMargin
    assert(Dag.runJson(spark, dag).forall(_.status == "succeeded"))
    assert(cacheManager.isEmpty && (pinned() -- before).isEmpty)

    // graft.Run closes after its row count
    val doc = Files.createTempFile("graft_own", ".json")
    Files.write(doc, multiConsumerJob(s"$base/run").getBytes("UTF-8"))
    val buf = new java.io.ByteArrayOutputStream()
    assert(Run.execute(spark, Seq("run", doc.toString),
      new java.io.PrintStream(buf, true, "UTF-8")) == 0, buf.toString("UTF-8"))
    assert(cacheManager.isEmpty && (pinned() -- before).isEmpty)
  }

  test("screen step: parse validation, family dispatch == library screens, cold start, semantic version check") {
    import graft.pipeline.{Job, PipelineJson}
    import graft.llm.{Dedup, Ivf}
    val base = Files.createTempDirectory("graft_scr").toString
    // --- parse validation -------------------------------------------
    def step(json: String) =
      PipelineJson.parse(s"""{"primary": "d", "steps": [$json]}""")
    assert(intercept[IllegalArgumentException](step(
      """{"type": "screen", "family": "sonar", "history": "h", "id": "i", "column": "c"}"""))
      .getMessage.contains("unknown"))
    assert(intercept[IllegalArgumentException](step(
      """{"type": "screen", "family": "semantic", "history": "h", "id": "i", "column": "c"}"""))
      .getMessage.contains("index"))
    assert(intercept[IllegalArgumentException](step(
      """{"type": "screen", "family": "simhash", "history": "h", "id": "i", "column": "c", "max_hamming": "three"}"""))
      .getMessage.contains("number"))
    val parsed = step(
      """{"type": "screen", "family": "minhash", "history": "h", "id": "i",
        | "column": "c", "threshold": 0.8}""".stripMargin).steps.head
    assert(parsed == Pipeline.Screen("minhash", "h", "i", "c",
      threshold = Some(0.8)))
    // --- dispatch parity: JSON step == the library screen -----------
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "alpha beta gamma delta epsilon zeta"), // dup of history
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    graft.Recovery.idempotentWrite(
      Dedup.simhashSignatures(docs.filter(col("doc_id") === 1L),
        "doc_id", "text"), s"$base/simhist")
    def runScreenJson(stepJson: String, df: org.apache.spark.sql.DataFrame) =
      Pipeline.run(spark, Map("d" -> df), step(stepJson))
    val simOut = runScreenJson(
      s"""{"type": "screen", "family": "simhash", "history": "$base/simhist",
         | "id": "doc_id", "column": "text", "max_hamming": 0}""".stripMargin,
      docs.filter(col("doc_id") > 1L))
    val simLib = Dedup.simhashAgainstHistory(docs.filter(col("doc_id") > 1L),
      spark.read.parquet(s"$base/simhist"), "doc_id", "text", maxHamming = 0)
    assert(simOut.select("doc_id").as[Long].collect().sorted.toSeq ==
      simLib.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(simOut.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 4L)) // dup text drops, fresh + null survive
    // --- signature-shape knobs thread through: a history built at
    // ngram_n=3 screens correctly only when the step declares it ------
    graft.Recovery.idempotentWrite(
      Dedup.minhashHistorySignatures(docs.filter(col("doc_id") === 1L),
        "doc_id", "text", ngramN = 3), s"$base/mhist")
    val mhOut = runScreenJson(
      s"""{"type": "screen", "family": "minhash", "history": "$base/mhist",
         | "id": "doc_id", "column": "text", "ngram_n": 3}""".stripMargin,
      docs.filter(col("doc_id") > 1L))
    assert(mhOut.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 4L)) // the exact-dup text drops at the declared shape
    // --- cold start: absent/empty history passes everything through --
    val cold = runScreenJson(
      s"""{"type": "screen", "family": "exact", "history": "$base/missing",
         | "id": "doc_id", "column": "text"}""".stripMargin, docs)
    assert(cold.count() == docs.count())
    // --- semantic family: version-checked against the persisted index
    val idxDir = s"$base/idx"
    Ivf.saveIndex(Seq((0, Array(1f, 0f)), (1, Array(0f, 1f)))
      .toDF("__cid", "__cvec"), idxDir)
    val (cents1, v1) = Ivf.loadIndexVersioned(spark, idxDir)
    graft.Recovery.idempotentWrite(
      Dedup.semanticHistorySignatures(
        Seq((100L, Array(1f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents1, indexVersion = Some(v1)),
      s"$base/semhist")
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val semJson =
      s"""{"type": "screen", "family": "semantic", "history": "$base/semhist",
         | "id": "vec_id", "column": "embedding", "threshold": 0.9,
         | "index": "$idxDir"}""".stripMargin
    assert(runScreenJson(semJson, vecs).select("vec_id").as[Long]
      .collect().toSeq == Seq(2L)) // exact dup of 100 drops
    // a retrain without reassigning the history refuses LOUDLY through
    // the declared step too (the r19 handshake, end-to-end from JSON)
    Ivf.saveIndex(Seq((0, Array(0f, 1f)), (1, Array(1f, 0f)))
      .toDF("__cid", "__cvec"), idxDir)
    assert(intercept[IllegalStateException](
      runScreenJson(semJson, vecs).collect())
      .getMessage.contains("reassignSemanticHistory"))
    Dedup.reassignSemanticHistory(spark, s"$base/semhist", idxDir, "embedding")
    assert(runScreenJson(semJson, vecs).select("vec_id").as[Long]
      .collect().toSeq == Seq(2L)) // healed: same survivors under v2
    // --- streaming jobs reject the batch screen step loudly ----------
    val streamDoc =
      s"""{"datasets": [{"name": "d", "format": "parquet", "path": "$base/any"}],
         | "pipeline": {"primary": "d", "steps": [
         |   {"type": "screen", "family": "exact", "history": "$base/h",
         |    "id": "doc_id", "column": "text"}]},
         | "sink": {"path": "$base/sink"}}""".stripMargin
    assert(intercept[IllegalArgumentException](
      Job.runStreamJson(spark, streamDoc, s"$base/ckpt"))
      .getMessage.contains("screen"))
  }

  test("Job streaming mode: multi-batch stream equals the batch job on the replayed union") {
    import graft.pipeline.Job
    val base = Files.createTempDirectory("graft_jobstream").toString
    val in = s"$base/in"
    val sfDir = TestSession.sfDir
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    // two disjoint arrival waves
    orders.filter(col("o_orderkey") % 2 === 0).coalesce(1).write.parquet(in)

    def doc(qdir: String, runId: String) =
      s"""{
         |  "datasets": [
         |    {"name": "s_orders", "format": "parquet", "path": "$in",
         |     "options": {"maxFilesPerTrigger": "1"}},
         |    {"name": "s_customer", "format": "parquet",
         |     "path": "$sfDir/customer.parquet"}
         |  ],
         |  "pipeline": {"primary": "s_orders", "steps": [
         |    {"type": "filter", "column": "o_totalprice", "op": ">", "value": 1000},
         |    {"type": "rename", "mapping": {"o_custkey": "c_custkey"}},
         |    {"type": "join", "right": "s_customer", "on": ["c_custkey"], "broadcast": true},
         |    {"type": "select", "columns": ["o_orderkey", "c_custkey",
         |      "c_mktsegment", "o_orderstatus", "o_totalprice"]},
         |    {"type": "sql_expr", "name": "price_band",
         |     "expr": "CASE WHEN o_totalprice > 100000 THEN 'hi' ELSE 'lo' END"}
         |  ]},
         |  "quality": {"rules": [
         |    {"rule_id": "st_ok", "type": "allowed_values",
         |     "column": "o_orderstatus", "values": ["O", "F"]}
         |  ], "quarantine_dir": "$qdir", "run_id": "$runId"},
         |  "sink": {"format": "parquet", "path": "$base/$runId-sink"}
         |}""".stripMargin

    // stream: wave 1, then wave 2 arrives mid-run
    val q = Job.runStreamJson(spark, doc(s"$base/squar", "sr1"), s"$base/ckpt")
    try {
      q.processAllAvailable()
      orders.filter(col("o_orderkey") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = Job.streamedOutput(spark, s"$base/sr1-sink")
    // genuinely multi-batch (maxFilesPerTrigger=1, two waves)
    assert(streamed.select("batch_id").distinct().count() >= 2)

    // the batch job over the SAME (now complete) input dir
    val batchOut = Job.runJson(spark, doc(s"$base/bquar", "br1")).output
    val s = streamed.drop("batch_id")
    assert(s.count() == batchOut.count())
    assert(s.except(batchOut).isEmpty && batchOut.except(s).isEmpty)

    // quarantined evidence matches too (rows AND tags)
    val sq = graft.streaming.Streams
      .quarantinedRows(spark, s"$base/squar/run_id=sr1").drop("batch_id")
    val bq = spark.read.parquet(s"$base/bquar/run_id=br1").drop("quarantined_at")
    assert(sq.count() == bq.count() && sq.count() > 0)
    assert(sq.except(bq).isEmpty && bq.except(sq).isEmpty)

    // the non-replayable sections are rejected loudly at start, not
    // mid-stream: per-batch aggregation, anomaly screens, missing sink
    val aggDoc = doc(s"$base/x", "x1").replace(
      """{"type": "select", "columns": ["o_orderkey", "c_custkey",
      "c_mktsegment", "o_orderstatus", "o_totalprice"]},""",
      """{"type": "aggregate", "groupBy": ["c_mktsegment"],
       "aggs": [{"col": "o_totalprice", "fn": "sum", "as": "t"}]},""")
    assert(intercept[IllegalArgumentException](
      Job.runStreamJson(spark, aggDoc, s"$base/ckpt2"))
      .getMessage.contains("row-local"))
    val anomDoc = doc(s"$base/x", "x2").replace("\"sink\":",
      "\"anomaly\": {\"method\": \"zscore\", \"column\": \"o_totalprice\", \"threshold\": 3.0}, \"sink\":")
    assert(intercept[IllegalArgumentException](
      Job.runStreamJson(spark, anomDoc, s"$base/ckpt3"))
      .getMessage.contains("anomaly"))
    // min_score gates the WHOLE output — not batching-invariant per
    // micro-batch, so it is rejected loudly with the remediation named
    val gateDoc = doc(s"$base/x", "x3").replace(
      """"run_id": "x3"}""", """"run_id": "x3", "min_score": 90.0}""")
    assert(intercept[IllegalArgumentException](
      Job.runStreamJson(spark, gateDoc, s"$base/ckpt4"))
      .getMessage.contains("min_score"))
    // an explicit non-atomic sink mode would replay with different
    // (batch_id-slice) semantics — rejected, not silently ignored
    val modeDoc = doc(s"$base/x", "x4").replace(
      s""""path": "$base/x4-sink"""",
      s""""path": "$base/x4-sink", "mode": "append"""")
    assert(intercept[IllegalArgumentException](
      Job.runStreamJson(spark, modeDoc, s"$base/ckpt5"))
      .getMessage.contains("atomic"))
    // …while an explicit "atomic" (what the runner does anyway) is fine
    Job.parse(doc(s"$base/x", "x5").replace(
      s""""path": "$base/x5-sink"""",
      s""""path": "$base/x5-sink", "mode": "atomic""""))
  }

  test("ingest section: parse validation; batch runs reject it loudly") {
    import graft.pipeline.Job
    val base = Files.createTempDirectory("graft_ingval").toString
    def doc(ingest: String) =
      s"""{"datasets": [{"name": "d", "format": "parquet", "path": "$base/in"}],
         | "pipeline": {"primary": "d", "steps": []},
         | "ingest": $ingest,
         | "sink": {"path": "$base/sink"}}""".stripMargin
    // the SAME dialect as the screen step, same loud failures
    assert(intercept[IllegalArgumentException](Job.parse(doc(
      """{"family": "sonar", "history": "h", "id": "i", "column": "c"}""")))
      .getMessage.contains("unknown"))
    assert(intercept[IllegalArgumentException](Job.parse(doc(
      """{"family": "semantic", "history": "h", "id": "i", "column": "c"}""")))
      .getMessage.contains("index"))
    assert(intercept[IllegalArgumentException](Job.parse(doc(
      """{"family": "minhash", "history": "h", "id": "i", "column": "c", "bands": "four"}""")))
      .getMessage.contains("number"))
    assert(intercept[IllegalArgumentException](Job.parse(doc("\"exact\"")))
      .getMessage.contains("object"))
    assert(intercept[IllegalArgumentException](Job.parse(doc(
      """{"family": "exact", "history": "h", "id": "i"}""")))
      .getMessage.contains("column"))
    // a well-formed ingest parses — but a BATCH run refuses it (the
    // history append needs the streaming checkpoint's replay contract)
    val good = Job.parse(doc(
      """{"family": "exact", "history": "h", "id": "i", "column": "c"}"""))
    assert(good.ingest.contains(Pipeline.Screen("exact", "h", "i", "c")))
    assert(intercept[IllegalArgumentException](Job.run(spark, good))
      .getMessage.contains("runStream"))
  }

  test("ingest section: document-driven multi-batch stream == the hand-written wrapper") {
    import graft.pipeline.Job
    val base = Files.createTempDirectory("graft_ingpar").toString
    val in = s"$base/in"
    val textSeed = "the quick brown fox jumps over the lazy dog"
    val textA = "completely fresh crawl content about spark engines"
    val textB = "another novel document with its own distinct words"
    // identical seeds for both history roots
    for (root <- Seq(s"$base/doc-hist", s"$base/lib-hist"))
      graft.Recovery.idempotentWrite(
        graft.llm.Dedup.minhashHistorySignatures(
          Seq((100L, textSeed)).toDF("doc_id", "text"), "doc_id", "text",
          ngramN = 3), s"$root/batch_id=-1")
    // wave 1 on disk before either stream starts
    Seq((1L, textSeed), (2L, textA)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    val doc =
      s"""{"datasets": [{"name": "docs", "format": "parquet", "path": "$in"}],
         | "pipeline": {"primary": "docs", "steps": []},
         | "ingest": {"family": "minhash", "history": "$base/doc-hist",
         |            "id": "doc_id", "column": "text", "ngram_n": 3},
         | "sink": {"format": "parquet", "path": "$base/doc-sink"}}""".stripMargin
    val qDoc = Job.runStreamJson(spark, doc, s"$base/doc-ckpt")
    val libStream = graft.streaming.Streams.fileStream(
      spark, "parquet", in, schema)
    // the library side names the minhash operators and their knobs
    // itself, so the document's defaults are checked against them
    val qLib = graft.streaming.Streams.ingestScreenStream(
      libStream, s"$base/lib-hist", s"$base/lib-ckpt")(
      b => graft.llm.Dedup.minhashHistorySignatures(b, "doc_id", "text", ngramN = 3))(
      (b, h) => graft.llm.Dedup.minhashAgainstHistory(b, h, "doc_id", "text", ngramN = 3)) {
      (ok, bid) => graft.Recovery.idempotentWrite(ok, s"$base/lib-sink/batch_id=$bid")
    }
    try {
      qDoc.processAllAvailable(); qLib.processAllAvailable()
      // wave 2 arrives mid-run: a dup of wave 1's survivor, a fresh
      // text, a null (never matches)
      Seq((3L, textA), (4L, textB), (5L, null.asInstanceOf[String]))
        .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
      qDoc.processAllAvailable(); qLib.processAllAvailable()
    } finally { qDoc.stop(); qLib.stop() }
    // both genuinely multi-batch
    val docOut = Job.streamedOutput(spark, s"$base/doc-sink")
    assert(docOut.select("batch_id").distinct().count() >= 2)
    // survivors match the wrapper batch-for-batch, and the expected set
    val libOut = graft.streaming.Streams.batchSlices(spark, s"$base/lib-sink")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("batch_id", "doc_id").as[(Long, Long)].collect().toSet
    assert(rows(docOut) == rows(libOut))
    assert(docOut.select("doc_id").as[Long].collect().toSet ==
      Set(2L, 4L, 5L))
    // the appended history slices match signature-for-signature
    def hist(root: String) = spark.read
      .option("basePath", root).parquet(root)
      .select("batch_id", "doc_id", "__sig", "__shash")
      .collect().map(_.toString).sorted.toSeq
    assert(hist(s"$base/doc-hist") == hist(s"$base/lib-hist"))
  }

  test("ingest section: quarantined rows never reach the history or the sink") {
    import graft.pipeline.Job
    val base = Files.createTempDirectory("graft_ingquar").toString
    val in = s"$base/in"
    // id 1 fails quality; id 2 carries the SAME text and is clean —
    // if the failing row entered the history, id 2 would be dropped
    Seq((1L, "shared text body", -5.0), (2L, "shared text body", 1.0),
        (3L, "other text", 2.0)).toDF("doc_id", "text", "score")
      .coalesce(1).write.parquet(in)
    val doc =
      s"""{"datasets": [{"name": "docs", "format": "parquet", "path": "$in"}],
         | "pipeline": {"primary": "docs", "steps": []},
         | "quality": {"rules": [
         |   {"rule_id": "pos", "type": "range", "column": "score",
         |    "min": 0, "max": 100}],
         |  "quarantine_dir": "$base/quar", "run_id": "iq1"},
         | "ingest": {"family": "exact", "history": "$base/hist",
         |            "id": "doc_id", "column": "text"},
         | "sink": {"format": "parquet", "path": "$base/sink"}}""".stripMargin
    val q = Job.runStreamJson(spark, doc, s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    // failing row 1 is quarantined, NOT in the sink, NOT in history;
    // row 2's identical text survives (within-batch after the split)
    assert(Job.streamedOutput(spark, s"$base/sink")
      .select("doc_id").as[Long].collect().toSet == Set(2L, 3L))
    assert(graft.streaming.Streams
      .quarantinedRows(spark, s"$base/quar/run_id=iq1")
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(spark.read.option("basePath", s"$base/hist")
      .parquet(s"$base/hist").select("text").as[String]
      .collect().toSet == Set("shared text body", "other text"))
  }

  test("ingest section: semantic family refuses a stale history loudly through config") {
    import graft.pipeline.Job
    import graft.llm.{Dedup, Ivf}
    val base = Files.createTempDirectory("graft_ingsem").toString
    val in = s"$base/in"
    val idxDir = s"$base/idx"
    Ivf.saveIndex(Seq((0, Array(1f, 0f)), (1, Array(0f, 1f)))
      .toDF("__cid", "__cvec"), idxDir)
    val (cents1, v1) = Ivf.loadIndexVersioned(spark, idxDir)
    graft.Recovery.idempotentWrite(
      Dedup.semanticHistorySignatures(
        Seq((100L, Array(1f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents1, indexVersion = Some(v1)),
      s"$base/hist/batch_id=-1")
    Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(in)
    def doc() =
      s"""{"datasets": [{"name": "vecs", "format": "parquet", "path": "$in"}],
         | "pipeline": {"primary": "vecs", "steps": []},
         | "ingest": {"family": "semantic", "history": "$base/hist",
         |            "id": "vec_id", "column": "embedding",
         |            "threshold": 0.9, "index": "$idxDir"},
         | "sink": {"format": "parquet", "path": "$base/sink"}}""".stripMargin
    // happy path: the dup of the seeded vector drops
    val q1 = Job.runStreamJson(spark, doc(), s"$base/ckpt1")
    try q1.processAllAvailable() finally q1.stop()
    assert(Job.streamedOutput(spark, s"$base/sink")
      .select("vec_id").as[Long].collect().toSet == Set(2L))
    // retrain WITHOUT reassigning the (seed) history: the next stream
    // start loads v2, the first micro-batch hits the v1 seed slice and
    // refuses with the repair named — through the stored document
    Ivf.saveIndex(Seq((0, Array(0f, 1f)), (1, Array(1f, 0f)))
      .toDF("__cid", "__cvec"), idxDir)
    Seq((6L, Array(1f, 0f))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(in)
    val q2 = Job.runStreamJson(spark, doc(), s"$base/ckpt2")
    val e = intercept[Throwable] {
      try q2.processAllAvailable() finally q2.stop()
    }
    // Spark wraps foreachBatch user errors (StreamingQueryException →
    // ForeachBatchUserFuncException → the screen's IllegalStateException)
    // — the repair must be named SOMEWHERE in the chain
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).toSeq
    assert(chain.exists(_.contains("reassignSemanticHistory")), chain)
  }

  test("config front-ends: a missing, null or wrong-typed field, a duplicate key and trailing content fail naming the field") {
    import graft.pipeline.{Dag, Job, PipelineJson}
    import graft.quality.{Anomaly, DQ}
    val job = """{"datasets": [{"name": "d", "format": "parquet", "path": "p"}],
                | "pipeline": {"primary": "d", "steps": []}@}""".stripMargin
    val validJob = job.replace("@", "")
    val vdf = Seq(1.0).toDF("v")
    // front-end, parse, document with @ where the field goes, the
    // required field, a valid value, a wrong-typed value
    val required: Seq[(String, String => Any, String, String, String, String)] = Seq(
      ("catalog", Catalog.parseJson,
        """{"datasets": [{"name": "x", "format": "parquet"@}]}""", "path", "\"p\"", "{}"),
      ("pipeline", PipelineJson.parse, """{"primary": "d"@}""", "steps", "[]", "{}"),
      ("filter step", PipelineJson.parse,
        """{"primary": "d", "steps": [{"type": "filter", "column": "c", "op": "="@}]}""",
        "value", "1", "[1]"),
      ("rename step", PipelineJson.parse,
        """{"primary": "d", "steps": [{"type": "rename"@}]}""",
        "mapping", """{"a": "b"}""", """["a"]"""),
      ("join step", PipelineJson.parse,
        """{"primary": "d", "steps": [{"type": "join", "right": "r"@}]}""",
        "on", """["k"]""", "\"k\""),
      ("screen step", PipelineJson.parse,
        """{"primary": "d", "steps": [{"type": "screen", "family": "exact",
          | "history": "h", "id": "i"@}]}""".stripMargin, "column", "\"c\"", "1"),
      ("dq rules", DQ.rulesFromJson,
        """{"rules": [{"rule_id": "r", "type": "range", "column": "x", "min": 0@}]}""",
        "max", "1", "\"ten\""),
      ("anomaly", (j: String) => Anomaly.fromJson(vdf, j),
        """{"method": "zscore"@}""", "column", "\"v\"", "7"),
      ("job sink", Job.parse, job.replace("@", """, "sink": {"format": "parquet"@}"""),
        "path", "\"o\"", "{}"),
      ("job anomaly", Job.parse, job.replace("@", """, "anomaly": {"method": "iqr"@}"""),
        "column", "\"v\"", "[\"v\"]"),
      ("dag", Dag.parse, """{"jobs": [{"id": "a"@}]}""", "job", validJob, "\"j\""),
      ("dag node", Dag.parse,
        s"""{"jobs": [{"id": "a", "job": ${job.replace("@", """, "sink": {@}""")}}]}""",
        "path", "\"o\"", "{}"),
      ("schema doc", SchemaDoc.parse,
        """{"version": "v1", "steps": [{"type": "drop_column"@}]}""", "name", "\"a\"", "1"))
    def fails(parse: String => Any, doc: String): String =
      intercept[IllegalArgumentException](parse(doc)).getMessage
    required.foreach { case (name, parse, doc, field, valid, wrong) =>
      def at(v: String) = doc.replace("@", s""", "$field": $v""").replace("{, ", "{")
      parse(at(valid))
      Seq("missing" -> doc.replace("@", ""), "null" -> at("null"),
        "wrong type" -> at(wrong), "duplicate" -> at(s"""$valid, "$field": $valid"""))
        .foreach { case (what, bad) =>
          val msg = fails(parse, bad)
          assert(msg.contains(field), s"$name, $what: $msg")
        }
      assert(fails(parse, at(valid) + " {}").contains("Trailing"), name)
    }
    // optional fields: absent is fine, the wrong type is not
    val optional: Seq[(String => Any, String, String)] = Seq(
      (PipelineJson.parse, """{"primary": "d", "steps": [{"type": "join", "right": "r",
        | "on": ["k"], "broadcast": "yes"}]}""".stripMargin, "broadcast"),
      (Catalog.parseJson, """{"datasets": [{"name": "x", "format": "csv",
        | "path": "p", "options": ["header"]}]}""".stripMargin, "options"),
      (Job.parse, job.replace("@", """, "quality": {"rules": [], "min_score": "90"}"""),
        "min_score"),
      (Job.parse, job.replace("@", """, "anomaly": {"method": "zscore", "column": "v",
        | "threshold": "3"}""".stripMargin), "threshold"),
      (Dag.parse, s"""{"jobs": [{"id": "a", "depends_on": "b", "job": $validJob}]}""",
        "depends_on"))
    // an enumerated field rejects a value its executor does not know
    val unknownValue: Seq[(String => Any, String, String)] = Seq(
      (Job.parse, job.replace("@", """, "sink": {"path": "o", "mode": "apend"}"""), "mode"),
      (PipelineJson.parse, """{"primary": "d", "steps": [{"type": "join", "right": "r",
        | "on": ["k"], "how": "innner"}]}""".stripMargin, "how"),
      (PipelineJson.parse, """{"primary": "d", "steps": [{"type": "aggregate",
        | "groupBy": ["k"], "aggs": [{"col": "v", "fn": "summ", "as": "s"}]}]}""".stripMargin,
        "fn"))
    (optional ++ unknownValue).foreach { case (parse, doc, field) =>
      val msg = fails(parse, doc)
      assert(msg.contains(field), msg)
    }
    // the pipeline's sources must be declared datasets, joins included
    assert(fails(Job.parse, validJob.replace("\"steps\": []",
      """"steps": [{"type": "join", "right": "ghost", "on": ["k"]}]"""))
      .contains("'ghost' is not a declared dataset"))
  }

  test("Dag: a malformed node fails the parse before any node runs") {
    import graft.pipeline.Dag
    val tmp = Files.createTempDirectory("graft_dagbad").toString
    def node(id: String, deps: String, sink: String) =
      s"""{"id": "$id", "depends_on": [$deps], "job": {
         | "datasets": [{"name": "o", "format": "parquet",
         |               "path": "${TestSession.sfDir}/orders.parquet"}],
         | "pipeline": {"primary": "o", "steps": []},
         | "sink": {"path": $sink}}}""".stripMargin
    val dag = s"""{"jobs": [${node("a_first", "", s""""$tmp/a"""")},
                 |  ${node("b_second", "\"a_first\"", "{}")}]}""".stripMargin
    val err = intercept[IllegalArgumentException](Dag.runJson(spark, dag))
    assert(err.getMessage.contains("b_second") && err.getMessage.contains("path"),
      err.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(s"$tmp/a")))
  }

  test("Dag: dependency-ordered jobs, failure skips downstream, branches isolate") {
    import graft.pipeline.Dag
    val sfDir = TestSession.sfDir
    def jobDoc(minScore: Double) =
      s"""{"datasets": [
         |   {"name": "d_orders", "format": "parquet", "path": "$sfDir/orders.parquet"}],
         | "pipeline": {"primary": "d_orders", "steps": [
         |   {"type": "select", "columns": ["o_orderkey", "o_orderstatus"]}]},
         | "quality": {"rules": [
         |   {"rule_id": "only_f", "type": "allowed_values",
         |    "column": "o_orderstatus", "values": ["F"]}],
         |  "min_score": $minScore}}""".stripMargin
    val dag =
      s"""{"jobs": [
         | {"id": "n_extract", "job": ${jobDoc(0.0)}},
         | {"id": "n_clean", "depends_on": ["n_extract"], "job": ${jobDoc(0.0)}},
         | {"id": "n_gate", "depends_on": ["n_extract"], "job": ${jobDoc(100.0)}},
         | {"id": "n_report", "depends_on": ["n_clean", "n_gate"], "job": ${jobDoc(0.0)}},
         | {"id": "n_island", "job": ${jobDoc(0.0)}}
         |]}""".stripMargin
    val hist = Files.createTempDirectory("graft_dag").toString + "/history"
    val res = Dag.runJson(spark, dag, historyDir = Some(hist), runId = "dagrun")
    val byId = res.map(r => r.id -> r).toMap
    // topological, lexicographic among ready: n_extract before its
    // dependents; n_island (no deps) interleaves deterministically
    assert(res.map(_.id) ==
      Seq("n_extract", "n_clean", "n_gate", "n_island", "n_report"))
    assert(byId("n_extract").status == "succeeded")
    assert(byId("n_clean").status == "succeeded")
    // the failing gate marks its node failed with the cause...
    assert(byId("n_gate").status == "failed")
    assert(byId("n_gate").error.get.toLowerCase.contains("quality"))
    // ...downstream skips naming the culprit; the island is untouched
    assert(byId("n_report").status == "skipped_upstream")
    assert(byId("n_report").error.get.contains("n_gate"))
    assert(byId("n_island").status == "succeeded")
    // every EXECUTED node recorded into one grouped history
    val h = graft.monitoring.RunHistory.load(spark, hist)
    val runs = h.select("run_id").distinct().collect().map(_.getString(0)).toSet
    assert(runs == Set("dagrun__n_extract", "dagrun__n_clean",
      "dagrun__n_gate", "dagrun__n_island"))
    assert(h.filter(col("run_id") === "dagrun__n_gate" &&
      col("query") === "job" && col("failed")).count() == 1)

    // declaration errors fail loudly before anything runs
    import graft.pipeline.Dag.Node
    val noop = graft.pipeline.Job.Spec(Nil, Pipeline.Spec("x", Nil), Nil,
      None, None, None, None)
    intercept[IllegalArgumentException](Dag.topoOrder(Seq(
      Node("a", noop, Seq("b")), Node("b", noop, Seq("a")))))
    intercept[IllegalArgumentException](Dag.topoOrder(Seq(
      Node("a", noop, Seq("ghost")))))
    intercept[IllegalArgumentException](Dag.topoOrder(Seq(
      Node("a", noop), Node("a", noop))))
  }

  test("Recovery retry: classification drives the policy; fallback rethrows primary") {
    import Recovery._
    import java.io.IOException
    assert(classifyError(new IOException("Connection reset by peer")) == Transient)
    assert(classifyError(new RuntimeException("HTTP 503 Service Unavailable")) == Transient)
    assert(classifyError(new RuntimeException("Authentication FAILED for user")) == Configuration)
    assert(classifyError(new RuntimeException("schema mismatch on col x")) == DataError)
    assert(classifyError(new RuntimeException("No space left on device")) == SystemError)
    assert(classifyError(new RuntimeException("???")) == Unknown)
    assert(classifyError(new RuntimeException((null: String))) == Unknown) // null message safe
    assert(shouldRetry(Transient, 5) && shouldRetry(Unknown, 5))
    assert(!shouldRetry(Configuration, 0) && !shouldRetry(DataError, 0))
    assert(shouldRetry(SystemError, 0) && !shouldRetry(SystemError, 1))
    // backoff grows exponentially and caps
    assert(backoffDelayMs(0) == 1000L && backoffDelayMs(2) == 4000L)
    assert(backoffDelayMs(10, maxMs = 60000L) == 60000L)
    assert(backoffDelayMs(7, exponential = false) == 1000L)

    // transient failures retry to success, counting the sleeps
    var sleeps = List.empty[Long]; var calls = 0
    val out = withRetry(maxRetries = 3, sleep = d => sleeps ::= d) {
      calls += 1
      if (calls < 3) throw new IOException("connection reset") else 42
    }
    assert(out == 42 && calls == 3 && sleeps.reverse == List(1000L, 2000L))
    // a config error never retries
    calls = 0
    intercept[RuntimeException](withRetry(maxRetries = 3, sleep = _ => ()) {
      calls += 1; throw new RuntimeException("permission denied")
    })
    assert(calls == 1)

    // fallback: primary error is the one rethrown when both fail
    assert(withFallback[Int](throw new IOException("timeout"))(7) == 7)
    val both = intercept[IOException](
      withFallback[Int](throw new IOException("primary boom"))(
        throw new RuntimeException("fallback boom")))
    assert(both.getMessage == "primary boom" &&
      both.getSuppressed.head.getMessage == "fallback boom")
  }

  test("Lineage upstream and impact invert the same derivation map") {
    val o = table("orders"); val c = table("customer")
    val df = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("o_totalprice")).as("total"))
    assert(Lineage.upstream(df, "total").exists(_.endsWith(".o_totalprice")))
    intercept[IllegalArgumentException](Lineage.upstream(df, "nope"))
    assert(Lineage.impact(df, "o_totalprice") == Set("total"))
    assert(Lineage.impact(df, "c_mktsegment") == Set("c_mktsegment"))
    assert(Lineage.impact(df, "o_orderkey").isEmpty)
  }

  test("csv and json roundtrips preserve data with a pinned schema") {
    val dir = Files.createTempDirectory("graft_src_spec").toString
    val n = table("nation")
    FileSink.write(n, "csv", s"$dir/n_csv", options = Map("header" -> "true"))
    FileSink.write(n, "json", s"$dir/n_json")
    val backCsv = FileSource.read(spark, "csv", s"$dir/n_csv", Some(n.schema),
      Map("header" -> "true"))
    val backJson = FileSource.read(spark, "json", s"$dir/n_json", Some(n.schema))
    assert(backCsv.orderBy("n_nationkey").collect().toSeq ==
           n.orderBy("n_nationkey").collect().toSeq)
    assert(backJson.orderBy("n_nationkey").collect().toSeq ==
           n.orderBy("n_nationkey").collect().toSeq)
  }

  test("FileSource reads glob patterns and custom delimiters (reference file_options)") {
    val dir = Files.createTempDirectory("graft_glob").toString
    table("region").limit(1).write.option("header", "true")
      .option("sep", ";").csv(s"$dir/sales_1.csv")
    table("region").limit(2).write.option("header", "true")
      .option("sep", ";").csv(s"$dir/sales_2.csv")
    table("region").write.option("header", "true").csv(s"$dir/other.csv")
    val got = FileSource.read(spark, "csv", s"$dir/sales_*.csv",
      Some(table("region").schema), Map("header" -> "true", "sep" -> ";"))
    assert(got.count() == 3) // glob matched only the two sales_* files
  }

  test("partitioned write produces hive-layout dirs that prune on read") {
    val dir = Files.createTempDirectory("graft_part_spec").toString
    FileSink.write(table("orders"), "parquet", s"$dir/by_status",
      partitionBy = Seq("o_orderstatus"))
    val sub = new java.io.File(s"$dir/by_status").listFiles()
      .filter(_.getName.startsWith("o_orderstatus=")).map(_.getName).toSet
    assert(sub.nonEmpty)
    val back = spark.read.parquet(s"$dir/by_status")
      .filter(col("o_orderstatus") === "F")
    assert(back.count() == table("orders").filter(col("o_orderstatus") === "F").count())
  }

  test("co-bucketed tables join without a shuffle") {
    Seq("b_orders", "b_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    FileSink.writeBucketed(table("orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", Seq("o_custkey"), numBuckets = 4, sortCols = Seq("o_custkey"))
    FileSink.writeBucketed(table("customer").select("c_custkey", "c_mktsegment")
        .withColumnRenamed("c_custkey", "o_custkey"),
      "b_customer", Seq("o_custkey"), numBuckets = 4, sortCols = Seq("o_custkey"))
    val j = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(j.count() == table("orders").count())
  }

  test("writeShards produces balanced, deterministic, complete shard layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val orders = table("orders").select("o_orderkey", "o_custkey", "o_totalprice")
    FileSink.writeShards(orders, dir, "o_orderkey", numShards = 8)
    val back = spark.read.parquet(dir)
    // complete: every row survives, exactly once
    assert(back.count() == orders.count())
    assert(back.select("o_orderkey").distinct().count() ==
      orders.select("o_orderkey").distinct().count())
    // hive layout: shard=k directories
    val shardDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(shardDirs.length == 8, shardDirs.mkString(","))
    // balanced: no shard more than 2x the ideal size (xxhash64 uniform)
    val sizes = back.groupBy("shard").count().as[(Long, Long)].collect().map(_._2)
    val ideal = orders.count().toDouble / 8
    assert(sizes.forall(s => s < ideal * 2 && s > ideal / 2), sizes.mkString(","))
    // deterministic: shard assignment is a pure function of the key —
    // a re-export from differently-partitioned input matches per-key
    val dir2 = java.nio.file.Files.createTempDirectory("graft-shards2").toString
    FileSink.writeShards(orders.repartition(13), dir2, "o_orderkey", numShards = 8)
    val a = back.select("o_orderkey", "shard").as[(Long, Long)].collect().toSet
    val b = spark.read.parquet(dir2).select("o_orderkey", "shard")
      .as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("xlsx roundtrip preserves numerics, strings, booleans, and nulls") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_xlsx_spec").toString
    val df = Seq(
      (1L, Option("plain"), Option(1.5), Option(true)),
      (2L, Option("<&> \"escaped\"\nline"), Option(-2.25), Option(false)),
      (3L, None, None, None)
    ).toDF("id", "s", "d", "b")
    FileSink.write(df, "excel", dir)
    val back = FileSource.read(spark, "xlsx", dir, Some(df.schema))
    // names+types roundtrip; nullability is always true after the cast
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    val got = back.orderBy("id").collect().map(_.toSeq).toSeq
    assert(got == df.orderBy("id").collect().map(_.toSeq).toSeq)
    // without a schema: all-string columns named from the header row
    val untyped = FileSource.read(spark, "excel", dir)
    assert(untyped.columns.toSeq == Seq("id", "s", "d", "b"))
    assert(untyped.schema.fields.forall(_.dataType == StringType))
    assert(untyped.count() == 3)
  }

  test("xlsx reader resolves sharedStrings cells (Excel-written workbooks)") {
    // hand-built workbook in the layout real Excel emits: values in
    // xl/sharedStrings.xml, cells typed t="s" — our writer never emits
    // this shape, so it pins reader coverage beyond self-roundtrips
    val dir = Files.createTempDirectory("graft_xlsx_sst")
    val file = new java.io.File(dir.toFile, "book.xlsx")
    val zout = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(file))
    def put(name: String, content: String): Unit = {
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(content.getBytes("UTF-8")); zout.closeEntry()
    }
    put("[Content_Types].xml", "<Types/>")
    put("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">
        |<si><t>name</t></si><si><t>qty</t></si><si><r><t>wid</t></r><r><t>get</t></r></si>
        |</sst>""".stripMargin)
    put("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>7</v></c></row>
        |<row r="3"><c r="B3"><v>9</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zout.close()
    val got = graft.sources.Excel.read(spark, dir.toString)
      .orderBy("qty").collect().map(_.toSeq).toSeq
    // multi-run <si> concatenates; missing A3 cell reads as null
    assert(got == Seq(Seq("widget", "7"), Seq(null, "9")))
  }

  test("xlsx multi-sheet roundtrip with typed date/timestamp cells") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_xlsx_multi")
    val file = new java.io.File(dir.toFile, "book.xlsx").toString
    val a = Seq(
      (1, "alpha", java.sql.Timestamp.valueOf("2024-03-01 10:15:30"),
        java.sql.Date.valueOf("2024-03-05"), true),
      (2, "beta", java.sql.Timestamp.valueOf("2023-12-31 23:59:59"),
        java.sql.Date.valueOf("1999-01-02"), false)
    ).toDF("id", "name", "ts", "d", "flag")
    val b = Seq((10L, 2.5), (20L, -0.75)).toDF("k", "v")
    graft.sources.Excel.writeSheets(Seq("events" -> a, "metrics" -> b), file)

    assert(graft.sources.Excel.sheetNames(spark, dir.toString) == Seq("events", "metrics"))

    // sheet by name + schema cast: serials come back as the SAME
    // timestamp/date (second precision — the format's resolution)
    val gotA = graft.sources.Excel.read(spark, dir.toString,
        Some(a.schema), sheet = Some("events"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(gotA == a.orderBy("id").collect().map(_.toSeq).toSeq)
    val gotB = graft.sources.Excel.read(spark, dir.toString,
        Some(b.schema), sheet = Some("metrics"))
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(gotB == b.orderBy("k").collect().map(_.toSeq).toSeq)

    // default sheet = FIRST in workbook order, not alphabetical
    assert(graft.sources.Excel.read(spark, dir.toString).columns.toSeq ==
      Seq("id", "name", "ts", "d", "flag"))
    // unknown sheet fails with the available names
    val e = intercept[Exception](
      graft.sources.Excel.read(spark, dir.toString, sheet = Some("nope")).collect())
    assert(e.getMessage.contains("events"))
  }

  test("xlsx reader decodes Excel-styled date serials and cached formula values") {
    // hand-built workbook in the layout real Excel emits: date cells
    // are plain numerics whose STYLE resolves to a date format (builtin
    // 14 and a custom yyyy-mm-dd code), formula cells carry <f> plus
    // the cached <v> — the reader must use the cache, data_only-style
    val dir = Files.createTempDirectory("graft_xlsx_dates")
    val file = new java.io.File(dir.toFile, "book.xlsx")
    val zout = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(file))
    def put(name: String, content: String): Unit = {
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(content.getBytes("UTF-8")); zout.closeEntry()
    }
    put("[Content_Types].xml", "<Types/>")
    put("xl/styles.xml",
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd"/></numFmts>
        |<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/></cellXfs>
        |</styleSheet>""".stripMargin)
    put("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>d1</t></is></c><c r="B1" t="inlineStr"><is><t>d2</t></is></c><c r="C1" t="inlineStr"><is><t>total</t></is></c></row>
        |<row r="2"><c r="A2" s="1"><v>45352</v></c><c r="B2" s="2"><v>45352.4274305556</v></c><c r="C2"><f>1+2</f><v>3</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zout.close()
    val got = graft.sources.Excel.read(spark, dir.toString).collect().map(_.toSeq).toSeq
    // 45352 = 2024-03-01; .4274305556 of a day = 10:15:30
    assert(got == Seq(Seq("2024-03-01", "2024-03-01 10:15:30", "3")))
  }

  test("xlsx date-format classifier separates date codes from numeric codes") {
    import graft.sources.Excel.isDateFormatCode
    assert(isDateFormatCode("yyyy-mm-dd"))
    assert(isDateFormatCode("[Red]yyyy\\-mm"))
    assert(isDateFormatCode("h:mm AM/PM"))
    assert(!isDateFormatCode("0.00"))
    assert(!isDateFormatCode("#,##0.00"))
    assert(!isDateFormatCode("0.00E+00"))
    assert(!isDateFormatCode("\"yds\" 0.0")) // quoted literals don't count
    assert(!isDateFormatCode("[h]")) // bracket sections don't count
  }

  test("xlsx write refuses partitionBy; format errors stay clear") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("k", "v")
    val e = intercept[IllegalArgumentException](
      FileSink.write(df, "excel", "/tmp/whatever_xlsx", partitionBy = Seq("k")))
    assert(e.getMessage.contains("partitionBy"))
    val e2 = intercept[Exception](
      FileSource.read(spark, "xlsx", "/tmp/definitely_missing_dir_xlsx"))
    assert(e2.getMessage.contains("no .xlsx files") ||
      e2.getMessage.toLowerCase.contains("not exist"))
  }

  test("JdbcSource builds partitioned-read options") {
    val j = JdbcSource("jdbc:postgresql://db/x", "public.t",
      partitionColumn = Some("id"), lowerBound = 0, upperBound = 1000, numPartitions = 8)
    assert(j.options("partitionColumn") == "id")
    assert(j.options("numPartitions") == "8")
    assert(j.reader(spark) != null) // builds without connecting
  }

  test("JDBC round-trip against embedded Derby: write modes, partitioned read, pushdown") {
    // Derby ships on the Spark classpath (/opt/spark/jars), so the JDBC
    // path gets a LIVE in-JVM database (ref relational_connector.py:44
    // actually connects; config-only specs wouldn't catch dialect or
    // mode bugs). derby.system.home keeps derby.log/db files in /tmp.
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    val url = s"jdbc:derby:memory:graftdb;create=true"
    val drv = Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val src = table("orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
    val n = src.count()

    JdbcSink.write(src, url, "ORDERS_RT", "overwrite", drv)
    JdbcSink.write(src.limit(10), url, "ORDERS_RT", "append", drv)
    val (lo, hi) = src.agg(min($"o_orderkey"), max($"o_orderkey"))
      .as[(Long, Long)].head()
    val back = JdbcSource(url, "ORDERS_RT",
      partitionColumn = Some("o_orderkey"), lowerBound = lo, upperBound = hi + 1,
      numPartitions = 4, extra = drv).reader(spark).load()
    // append after overwrite: both writes landed
    assert(back.count() == n + 10)
    // the ranged read really splits into parallel range queries
    assert(back.rdd.getNumPartitions == 4)

    // truncate_and_load keeps the table but replaces the rows. The
    // subset is pinned with orderBy: a bare LIMIT without ORDER BY may
    // pick different rows across actions once the scan splits into
    // multiple partitions, and the expected-set below re-evaluates it.
    val sub = src.orderBy($"o_orderkey").limit(25)
    JdbcSink.write(sub, url, "ORDERS_RT", "truncate_and_load", drv)
    assert(JdbcSource(url, "ORDERS_RT", extra = drv).reader(spark).load().count() == 25)

    // Catalyst filter compiles into the JDBC WHERE clause, and values
    // survive the round-trip intact
    val f = back.filter($"o_totalprice" > lit(50000.0))
    assert(f.queryExecution.executedPlan.toString.contains("PushedFilters:"))
    val expected = sub.filter($"o_totalprice" > 50000.0)
      .select($"o_orderkey", $"o_totalprice").as[(Long, Double)].collect().toSet
    val got = JdbcSource(url, "ORDERS_RT", extra = drv).reader(spark).load()
      .filter($"o_totalprice" > lit(50000.0))
      .select($"o_orderkey", $"o_totalprice").as[(Long, Double)].collect().toSet
    assert(got == expected)

    assertThrows[IllegalArgumentException](
      JdbcSink.write(src, url, "ORDERS_RT", "upsert", drv))
  }

  test("JDBC metadata probes: tableExists / tableInfo / healthCheck against live Derby") {
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    val url = s"jdbc:derby:memory:graftmeta;create=true"
    val drv = Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val src = table("orders").limit(5)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    JdbcSink.write(src, url, "META_RT", "overwrite", drv)
    val j = JdbcSource(url, "META_RT", extra = drv)

    // existence: stored-case folding means the lowercase name the
    // config carries still matches Derby's uppercased catalog entry
    assert(j.tableExists())
    assert(j.tableExists("meta_rt"))
    assert(!j.tableExists("NO_SUCH_TABLE"))

    // column metadata in ordinal order with nullability (Spark's JDBC
    // writer QUOTES column identifiers, so their case is preserved
    // even though the unquoted table name folded to upper)
    val info = j.tableInfo(spark)
    assert(info.select("column_name").as[String].collect().toSeq ==
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    assert(info.select("table_name").distinct().as[String].collect().toSeq ==
      Seq("META_RT"))
    assert(info.select("is_nullable").as[String].collect()
      .forall(v => v == "YES" || v == "NO"))
    // a missing table is an EMPTY frame (reference returns None), not an error
    assert(j.tableInfo(spark, "NO_SUCH_TABLE").isEmpty)

    // health: live URL healthy with a bounded response time; a dead
    // URL reports unhealthy with the error carried, never throws
    val (ok, ms, err) = j.healthCheck()
    assert(ok && ms >= 0 && err.isEmpty)
    assert(j.validate())
    val dead = JdbcSource("jdbc:derby:memory:definitely_absent_db", "X",
      extra = drv)
    val (bad, _, badErr) = dead.healthCheck()
    assert(!bad && badErr.nonEmpty)
    assert(!dead.validate())
  }

  test("IncrementalSource pushes the watermark filter into the scan") {
    val df = IncrementalSource.read(spark, "parquet",
      s"${TestSession.sfDir}/orders.parquet", "o_orderkey", 1000L)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("GreaterThan(o_orderkey,1000)"),
      s"watermark filter not pushed:\n$physical")
  }

  test("ObjectStore lists and deletes by object-store prefix semantics") {
    val root = Files.createTempDirectory("graft_objstore")
    def touch(rel: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, "x".getBytes)
    }
    touch("events_2024_01.parquet")
    touch("events_2024_02.parquet")
    touch("events_2024/part-0.parquet")
    touch("events_2024/sub/part-1.parquet")
    touch("other/data.parquet")
    val base = s"file:$root"

    // directory prefix → everything below it
    val dirKeys = ObjectStore.listObjects(spark, s"$base/events_2024")
    // name prefix (no such path) → sibling files AND the tree
    val nameKeys = ObjectStore.listObjects(spark, s"$base/events_2024_")
    assert(dirKeys.size == 2 && dirKeys.forall(_.contains("events_2024/")))
    assert(nameKeys.map(_.split('/').last).sorted ==
      Seq("events_2024_01.parquet", "events_2024_02.parquet"))
    assert(ObjectStore.listObjects(spark, s"$base/events_2024").nonEmpty)
    assert(ObjectStore.listObjects(spark, s"$base/nope").isEmpty)

    // delete by name prefix removes the sibling files, not the tree
    assert(ObjectStore.deleteObjects(spark, s"$base/events_2024_") == 2)
    assert(ObjectStore.listObjects(spark, s"$base/events_2024").size == 2)
    // an existing directory path deletes exactly its tree
    assert(ObjectStore.deleteObjects(spark, s"$base/events_2024") == 2)
    assert(ObjectStore.listObjects(spark, s"$base/events_2024").isEmpty)
    assert(ObjectStore.listObjects(spark, s"$base/other").size == 1)
    assert(ObjectStore.deleteObjects(spark, s"$base/nope") == 0)
  }

  test("Recovery.idempotentWrite swaps atomically and runStage skips done stages") {
    val dir = Files.createTempDirectory("graft_recovery").toString
    val p = s"$dir/stage1"
    Recovery.idempotentWrite(table("region"), p)
    assert(spark.read.parquet(p).count() == table("region").count())
    // overwrite with new state — old state fully replaced
    Recovery.idempotentWrite(table("nation"), p)
    assert(spark.read.parquet(p).count() == table("nation").count())
    // a completed stage is not recomputed
    var ran = 0
    val out = Recovery.runStage(spark, p) { ran += 1; table("region") }
    assert(ran == 0 && out.count() == table("nation").count())
  }

  test("Recovery.restoreIfTorn heals the crash window between the two renames") {
    val dir = Files.createTempDirectory("graft_torn").toString
    val p = s"$dir/state"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // simulate a crash after target -> __old but before __staging -> target
    Recovery.idempotentWrite(table("region"), p)
    fs.rename(new org.apache.hadoop.fs.Path(p), new org.apache.hadoop.fs.Path(p + "__old"))
    Recovery.restoreIfTorn(spark, p)
    assert(spark.read.parquet(p).count() == table("region").count())
    // a COMPLETE staging dir (committed _SUCCESS) wins over the retiree
    Recovery.idempotentWrite(table("nation"), p + "__staging")
    fs.rename(new org.apache.hadoop.fs.Path(p), new org.apache.hadoop.fs.Path(p + "__old"))
    Recovery.restoreIfTorn(spark, p)
    assert(spark.read.parquet(p).count() == table("nation").count())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "__old")))
    // the hidden retiree a crash inside idempotentWrite leaves heals too
    fs.rename(new org.apache.hadoop.fs.Path(p), new org.apache.hadoop.fs.Path(s"$dir/.state__old"))
    Recovery.restoreIfTorn(spark, p)
    assert(spark.read.parquet(p).count() == table("nation").count())
    assert(new java.io.File(dir).list().toSeq == Seq("state"))
    // a relative target swaps and heals beside itself
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(dir, "rel")).toString
    assert(!rel.startsWith("/"))
    Recovery.idempotentWrite(table("region"), rel)
    Recovery.idempotentWrite(table("nation"), rel)
    assert(new java.io.File(dir).list().toSeq.sorted == Seq("rel", "state"))
    fs.rename(new org.apache.hadoop.fs.Path(rel), new org.apache.hadoop.fs.Path(s"$dir/.rel__old"))
    Recovery.restoreIfTorn(spark, rel)
    assert(spark.read.parquet(s"$dir/rel").count() == table("nation").count())
    assert(new java.io.File(dir).list().toSeq.sorted == Seq("rel", "state"))
  }

  test("Recovery quarantine + reprocess round-trips failed rows through the rules") {
    import graft.quality.DQ
    val dir = Files.createTempDirectory("graft_quarantine").toString
    val orders = table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val strict = Seq(
      DQ.ValueRange("rng_price", "o_totalprice", 0, 100000),
      DQ.AllowedValues("allow_status", "o_orderstatus", Seq("O", "F")))
    val (clean, bad) = DQ.split(orders, strict)
    val nBad = bad.count()
    assert(nBad > 0 && clean.count() + nBad == orders.count())

    // quarantine two runs; a rerun of the same run id replaces, not appends
    Recovery.quarantine(bad, dir, "run_001")
    Recovery.quarantine(bad.limit(3), dir, "run_002")
    Recovery.quarantine(bad, dir, "run_001")
    assert(spark.read.parquet(s"$dir/run_id=run_001").count() == nBad)

    // reprocess one run under the SAME rules: nothing passes yet
    val (fixedNone, stillBad) = Recovery.reprocess(spark, dir, strict, Some("run_001"))
    assert(fixedNone.count() == 0 && stillBad.count() == nBad)
    // the bookkeeping columns are stripped before re-evaluation
    assert(fixedNone.columns.toSeq == orders.columns.toSeq)

    // after the upstream fix (here: the price cap was raised), the
    // formerly-bad rows split into recovered vs genuinely bad
    val relaxed = Seq(
      DQ.ValueRange("rng_price", "o_totalprice", 0, 1e9),
      DQ.AllowedValues("allow_status", "o_orderstatus", Seq("O", "F")))
    val (recovered, remaining) = Recovery.reprocess(spark, dir, relaxed, Some("run_001"))
    val expectRecovered = bad.filter(col("o_totalprice").between(0, 1e9) &&
      col("o_orderstatus").isin("O", "F")).count()
    assert(recovered.count() == expectRecovered)
    assert(recovered.count() + remaining.count() == nBad)

    // whole-area reprocess reads every run's slice, healing torn ones:
    // a committed-but-unpromoted staging slice is promoted; a lingering
    // __old beside a live slice contributes nothing (no duplicates)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Recovery.quarantine(bad.limit(2), dir, "run_003")
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/run_id=run_003"),
      new org.apache.hadoop.fs.Path(s"$dir/run_id=run_003__staging"))
    Recovery.quarantine(bad.limit(1), dir, "zz_stale")
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/run_id=zz_stale"),
      new org.apache.hadoop.fs.Path(s"$dir/run_id=run_001__old"))
    // an INCOMPLETE staging dir (crash mid-write, no _SUCCESS, no
    // target) heals to nothing and is skipped, not a read failure
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/run_id=run_junk__staging"))
    val (_, allBad) = Recovery.reprocess(spark, dir, strict)
    assert(allBad.count() ==
      nBad + math.min(3, nBad) + math.min(2, nBad))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/run_id=run_003")))
  }

  test("Recovery: a swap crashed between retire and promote stays invisible to plain reads and heals exactly once") {
    import graft.quality.DQ
    import graft.streaming.Streams
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[PromoteCrashFs].getName)
    val tmp = Files.createTempDirectory("graft_crashfs").toString
    // run the real idempotentWrite with its promote rename failing
    def crashed(target: String)(write: => Unit): Unit = {
      PromoteCrashFs.armed = Some(new org.apache.hadoop.fs.Path(target).toUri.getPath)
      try intercept[java.io.IOException](write)
      finally PromoteCrashFs.armed = None
    }
    val ids = spark.range(0, 100).toDF("id")

    // a quarantine area: run r2's retry crashes mid-swap
    val quar = s"crashfs://$tmp/quarantine"
    val rules = Seq(DQ.ValueRange("small", "id", 0, 9))
    Recovery.quarantine(ids.filter(col("id").between(10, 12)), quar, "r1")
    Recovery.quarantine(ids.filter(col("id").between(20, 21)), quar, "r2:retry")
    crashed(s"$quar/run_id=r2:retry") {
      Recovery.quarantine(ids.filter(col("id").between(30, 33)), quar, "r2:retry")
    }
    val plainQ = spark.read.parquet(quar)
    assert(plainQ.select("run_id").distinct().as[String].collect().toSeq == Seq("r1"))
    assert(plainQ.count() == plainQ.select("id").distinct().count())
    val (_, stillBad) = Recovery.reprocess(spark, quar, rules)
    assert(stillBad.select("id").as[Long].collect().sorted.toSeq ==
      Seq(10L, 11L, 12L, 30L, 31L, 32L, 33L))

    // a batch_id slice root: batch 1's replay crashes mid-swap
    val slices = s"crashfs://$tmp/slices"
    Recovery.idempotentWrite(ids.filter(col("id") < 2), s"$slices/batch_id=0")
    Recovery.idempotentWrite(ids.filter(col("id").between(40, 42)), s"$slices/batch_id=1")
    crashed(s"$slices/batch_id=1") {
      Recovery.idempotentWrite(ids.filter(col("id").between(50, 54)), s"$slices/batch_id=1")
    }
    val plainS = spark.read.parquet(slices)
    assert(plainS.select(col("batch_id").cast("string")).distinct().as[String]
      .collect().toSeq == Seq("0"))
    assert(plainS.count() == plainS.select("id").distinct().count())
    val healed = Streams.batchSlices(spark, slices)
    assert(healed.select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 50L, 51L, 52L, 53L, 54L))
    assert(healed.filter(col("batch_id") === 1).count() == 5)
  }

  test("Recovery: a promote lost to a concurrent heal counts as done, for a write, a heal and the index descriptor") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[PromoteCrashFs].getName)
    val tmp = Files.createTempDirectory("graft_healrace").toString
    val fs = new org.apache.hadoop.fs.Path("crashfs:///")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // run `body` with `action` hooked just before the next rename into `target`
    def racing[T](target: String)(action: => Unit)(body: => T): T = {
      PromoteCrashFs.before =
        Some(new org.apache.hadoop.fs.Path(target).toUri.getPath -> (() => action))
      try {
        val out = body
        assert(PromoteCrashFs.before.isEmpty, s"no rename into $target ran")
        out
      } finally PromoteCrashFs.before = None
    }
    val ids = spark.range(0, 100).toDF("id")

    // a heal inside idempotentWrite's retire -> promote window promotes
    // the writer's committed staging; the writer's own promote then finds
    // it gone, and the write still returns
    val t = s"crashfs://$tmp/t"
    Recovery.idempotentWrite(ids.filter(col("id") < 3), t)
    racing(t)(Recovery.restoreIfTorn(spark, t)) {
      Recovery.idempotentWrite(ids.filter(col("id").between(10, 16)), t)
    }
    assert(spark.read.parquet(t).select("id").as[Long].collect().sorted.toSeq ==
      (10L to 16L))

    // two heals of one torn target (the retiree only): both return
    val u = s"crashfs://$tmp/u"
    Recovery.idempotentWrite(ids.filter(col("id") < 3), u)
    assert(fs.rename(new org.apache.hadoop.fs.Path(u),
      new org.apache.hadoop.fs.Path(s"crashfs://$tmp/.u__old")))
    racing(u)(Recovery.restoreIfTorn(spark, u))(Recovery.restoreIfTorn(spark, u))
    assert(spark.read.parquet(u).select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L))
    assert(new java.io.File(tmp).list().toSeq.sorted == Seq("t", "u"))

    // the same window inside Ivf.saveIndex: a loadIndex heals the
    // descriptor mid-publish, the save returns, the new payload is live
    import graft.llm.Ivf
    val e = table("embeddings")
    def centsOf(k: Int) = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("__cid"), col("embedding").as("__cvec"))
    val idx = s"crashfs://$tmp/idx"
    Ivf.saveIndex(centsOf(3), idx)
    racing(s"$idx/ivf_index.json")(Ivf.loadIndex(spark, idx)) {
      Ivf.saveIndex(centsOf(5), idx)
    }
    assert(Ivf.liveIndexVersion(spark, idx) == 2L)
    assert(Ivf.loadIndex(spark, idx).count() == 5L)
  }

  test("loadSignatureHistory: a lone uncommitted first slice is no history; a plain root is one") {
    import graft.streaming.Streams
    val base = Files.createTempDirectory("graft_sighist").toString
    // a stream that crashed while staging batch 0: data files, no _SUCCESS
    val root = s"$base/sliced"
    val staged = s"$root/.batch_id=0__staging"
    spark.range(0, 4).toDF("id").write.parquet(staged)
    assert(new java.io.File(s"$staged/_SUCCESS").delete())
    assert(Streams.loadSignatureHistory(spark, root).isEmpty)
    assert(Streams.loadSignatureHistory(spark, s"$base/absent").isEmpty)
    // an un-sliced history dir reads as itself
    val plain = s"$base/plain"
    spark.range(0, 3).toDF("id").write.parquet(plain)
    assert(Streams.loadSignatureHistory(spark, plain).get
      .select("id").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("typed Dataset ops compose with the untyped library surface") {
    val ds = table("orders").select("o_orderkey", "o_totalprice").as[TypedOrder]
    val big = ds.filter(_.o_totalprice > 100000.0).map(_.o_orderkey)
    assert(big.count() ==
      table("orders").filter(col("o_totalprice") > 100000.0).count())
  }

  test("Schemas.validate reports missing, extra and mismatched columns") {
    val df = Seq((1, "a")).toDF("id", "name")
    val expected = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("ts", TimestampType)))
    val v = Schemas.validate(df, expected, strict = true)
    assert(v.missing == Seq("ts"))
    assert(v.typeMismatches.map(_.column) == Seq("id")) // int vs long
    assert(!v.passed)
    val ok = Schemas.validate(df, StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType))))
    assert(ok.passed)
  }

  test("Schemas.diff tracks evolution") {
    val v1 = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val v2 = StructType(Seq(StructField("a", LongType), StructField("c", StringType)))
    val d = Schemas.diff(v1, v2)
    assert(d.added.map(_.name) == Seq("c"))
    assert(d.removed.map(_.name) == Seq("b"))
    assert(d.changed.map(_.column) == Seq("a"))
    assert(!Schemas.compatible(v1, v2))
    assert(Schemas.compatible(v1, StructType(v1.fields :+ StructField("d", DateType))))
  }

  test("Schemas migration applies versioned steps and rolls back mechanically") {
    import Schemas._
    val df = Seq((1L, "A", 10.5), (2L, "B", 20.0)).toDF("id", "status", "amount")
    val m = Migration("v2", "rename amount, code column, tighten id", Seq(
      RenameColumn("amount", "amount_usd"),
      AddColumn("status_code", substring(col("status"), 1, 1)),
      CastColumn("id", StringType),
      DropColumn("status")))
    val ledger = new MigrationLedger
    val migrated = applyMigration(df, m, ledger)
    assert(migrated.columns.toSeq == Seq("id", "amount_usd", "status_code"))
    assert(migrated.schema("id").dataType == StringType)
    assert(migrated.orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", 10.5, "A"), Seq("2", 20.0, "B")))
    assert(ledger.isApplied("v2") && ledger.history == Seq(("v2", m.description)))
    // idempotence: re-applying a recorded version is a no-op
    assert(applyMigration(migrated, m, ledger) eq migrated)
    // rollback: schema (names, types, ORDER) returns to pre-migration;
    // the dropped column's data is gone, so it comes back as typed nulls
    val back = rollbackMigration(migrated, "v2", ledger)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, null, 10.5), Seq(2L, null, 20.0)))
    assert(!ledger.isApplied("v2"))
    assertThrows[IllegalArgumentException](
      rollbackMigration(migrated, "v2", ledger))
    // guard rails: colliding/missing names fail loudly
    assertThrows[IllegalArgumentException](
      applyMigration(df, Migration("v3", "", Seq(AddColumn("id", lit(1))))))
    assertThrows[IllegalArgumentException](
      applyMigration(df, Migration("v4", "", Seq(DropColumn("nope")))))
  }

  test("inferMigration derives steps that land exactly on the target schema") {
    import Schemas._
    val from = StructType(Seq(StructField("id", IntegerType),
      StructField("amt", DoubleType), StructField("old_note", StringType),
      StructField("status", StringType)))
    val to = StructType(Seq(StructField("id", LongType),
      StructField("amt", DoubleType), StructField("note", StringType),
      StructField("region", StringType)))
    val m = inferMigration(from, to, "v9",
      renames = Map("old_note" -> "note"))
    val df = Seq((1, 2.5, "n1", "OPEN")).toDF("id", "amt", "old_note", "status")
    val out = applyMigration(df, m)
    // exact target schema (names + types), regardless of column order
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSet ==
      to.fields.map(f => (f.name, f.dataType)).toSet)
    // rename preserved the data; added column is a typed null
    val r = out.head()
    assert(r.getAs[String]("note") == "n1" && r.isNullAt(r.fieldIndex("region")))
    assert(r.getAs[Long]("id") == 1L)
    // the inferred migration plays through the normal ledger machinery
    val ledger = new MigrationLedger
    val mig2 = applyMigration(df, m, ledger)
    val back = rollbackMigration(mig2, "v9", ledger)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSet ==
      from.fields.map(f => (f.name, f.dataType)).toSet)
    // guard rails: unknown rename endpoints, type-changing rename
    assertThrows[IllegalArgumentException](
      inferMigration(from, to, "x", renames = Map("nope" -> "note")))
    assertThrows[IllegalArgumentException](
      inferMigration(from, to, "x", renames = Map("old_note" -> "nope")))
    assertThrows[IllegalArgumentException](
      inferMigration(from, to, "x", renames = Map("status" -> "id")))
  }

  test("SchemaDoc: versioned JSON documents walk the ledger, checksum-skip, roll back") {
    val df = Seq((1L, "A-urgent", 10.5), (2L, "B-low", 20.0))
      .toDF("id", "priority", "amount")
    // two versions in one stored document: explicit steps, then a
    // target-schema form whose steps are INFERRED at apply time
    val doc =
      """{"migrations": [
        |  {"version": "v2", "description": "analytics layout", "steps": [
        |    {"type": "rename_column", "from": "amount", "to": "amount_usd"},
        |    {"type": "add_column", "name": "prio_code",
        |     "expr": "substring(priority, 1, 1)"},
        |    {"type": "drop_column", "name": "priority"}]},
        |  {"version": "v3",
        |   "target_schema": "id STRING, amount_usd DOUBLE, prio_code STRING"}
        |]}""".stripMargin
    val ledger = new SchemaDoc.Ledger
    val out = SchemaDoc.apply(df, doc, ledger)
    // both versions landed, in order: v2 reshapes, v3 tightens id
    assert(out.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSet ==
      Set(("id", "string"), ("amount_usd", "double"), ("prio_code", "string")))
    assert(out.orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", 10.5, "A"), Seq("2", 20.0, "B")))
    assert(ledger.history.map(_._1) == Seq("v2", "v3"))

    // re-applying the SAME document is the reference's already-applied
    // skip: no steps run, result is the input unchanged
    assert(SchemaDoc.apply(out, doc, ledger) eq out)
    // …but the same version with a DIFFERENT body fails loudly
    val drifted = doc.replace("\"prio_code\",", "\"prio_code2\",")
    assert(intercept[IllegalArgumentException](
      SchemaDoc.apply(out, drifted, ledger))
      .getMessage.contains("DIFFERENT"))

    // rollback parity: v3 then v2 return the original reader contract
    // (names, types, order; dropped column as typed nulls)
    val back = SchemaDoc.rollback(SchemaDoc.rollback(out, "v3", ledger),
      "v2", ledger)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, null, 10.5), Seq(2L, null, 20.0)))
    assert(ledger.history.isEmpty)
    // a rolled-back version re-applies (reprocessing flow)
    assert(SchemaDoc.apply(back, doc, ledger)
      .columns.toSeq == Seq("id", "amount_usd", "prio_code"))

    // the file entry point — ref :171 apply_schema_from_file
    val f = java.nio.file.Files.createTempFile("graft_schemadoc", ".json")
    java.nio.file.Files.write(f, doc.getBytes("UTF-8"))
    assert(SchemaDoc.applyFile(df, f.toString).columns.toSeq ==
      Seq("id", "amount_usd", "prio_code"))

    // dialect guard rails: unknown step type, both/neither forms,
    // duplicate versions, junk steps — all parse-time errors
    assert(intercept[IllegalArgumentException](SchemaDoc.parse(
      """{"version": "x", "steps": [{"type": "explode_column", "name": "a"}]}"""))
      .getMessage.contains("unknown step type"))
    assert(intercept[IllegalArgumentException](SchemaDoc.parse(
      """{"version": "x", "steps": [{"type": "drop_column", "name": "a"}],
        | "target_schema": "a INT"}""".stripMargin))
      .getMessage.contains("exactly one"))
    assert(intercept[IllegalArgumentException](SchemaDoc.parse(
      """{"migrations": [{"version": "x", "steps": [{"type": "drop_column", "name": "a"}]},
        |                {"version": "x", "target_schema": "a INT"}]}""".stripMargin))
      .getMessage.contains("duplicate"))
    // add_column without expr needs the declared type (typed null)
    val nullAdd = SchemaDoc.apply(df,
      """{"version": "n1", "steps": [
        |  {"type": "add_column", "name": "note", "data_type": "string"}]}""".stripMargin)
    assert(nullAdd.schema("note").dataType.simpleString == "string")
    assert(nullAdd.filter(col("note").isNotNull).count() == 0)
  }

  test("Lineage.fromPlan lists sources and referenced columns of a multi-join plan") {
    val df = SparkEntry.queries("q_join_multi")(spark, TestSession.sfDir)
    val info = Lineage.fromPlan(df)
    assert(info.sources.size == 5)
    assert(info.sources.forall(_.contains("parquet")))
    val liCols = info.sourceColumns.find(_._1.contains("lineitem")).get._2
    assert(liCols.contains("l_extendedprice") && liCols.contains("l_orderkey"))
    assert(info.outputColumns == Seq("n_name", "revenue"))
  }

  test("Lineage.columnLineage traces each output column to its source columns") {
    val df = SparkEntry.queries("q_join_multi")(spark, TestSession.sfDir)
    val cl = Lineage.columnLineage(df)
    assert(cl.keySet == Set("n_name", "revenue"))
    // revenue = sum(l_extendedprice * (1 - l_discount)) — both lineitem cols, nothing else
    val rev = cl("revenue")
    assert(rev.exists(s => s.contains("lineitem") && s.endsWith(".l_extendedprice")))
    assert(rev.exists(s => s.contains("lineitem") && s.endsWith(".l_discount")))
    assert(!rev.exists(_.contains("orders")))
    val nm = cl("n_name")
    assert(nm.exists(s => s.contains("nation") && s.endsWith(".n_name")) && nm.size == 1)
    // a literal column has empty provenance; union merges positionally;
    // explode traces through the generator to its input column
    val lit1 = table("region").select(lit(1).as("one"), col("r_name"))
    assert(Lineage.columnLineage(lit1)("one").isEmpty)
    val un = table("region").select(col("r_name").as("x"))
      .unionByName(table("nation").select(col("n_name").as("x")))
    val unx = Lineage.columnLineage(un)("x")
    assert(unx.exists(_.endsWith(".r_name")) && unx.exists(_.endsWith(".n_name")))
    val ex = table("documents")
      .select(explode(split(col("text"), " ")).as("tok"))
    assert(Lineage.columnLineage(ex)("tok").exists(_.endsWith(".text")))
  }

  test("Lineage graph export: edge list matches hand-derived edges; governance docs") {
    // join-agg pipeline: revenue from two lineitem columns, n_name
    // passed through from nation — the hand-derivable ground truth
    val df = SparkEntry.queries("q_join_multi")(spark, TestSession.sfDir)
    val e = Lineage.edges(df, target = "rev_by_nation")
    assert(e.columns.toSeq ==
      Seq("source", "source_column", "target", "target_column"))
    val rows = e.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.forall(_._3 == "rev_by_nation"))
    val byTarget = rows.groupBy(_._4).view
      .mapValues(_.map(x => (x._1.split("[/]").last, x._2)).toSet).toMap
    assert(byTarget("revenue") ==
      Set(("lineitem.parquet", "l_extendedprice"),
        ("lineitem.parquet", "l_discount")))
    assert(byTarget("n_name") == Set(("nation.parquet", "n_name")))

    // the edge list IS a dataset: write + register + query it
    val dir = Files.createTempDirectory("graft_lineage").toString + "/edges"
    e.write.parquet(dir)
    Catalog.register(spark, Seq(Catalog.DatasetSpec(
      name = "lineage_edges", format = "parquet", path = dir,
      schemaDdl = None, options = Map.empty)))
    assert(spark.table("lineage_edges")
      .filter(col("target_column") === "revenue").count() == 2)

    // governance docs: all three dialects parse and carry the same graph
    def parsed(fmt: String) = {
      val doc = Lineage.graphDoc(df, "pipe_1", format = fmt,
        target = "rev_by_nation")
      com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .readTree(doc)
    }
    val cat = parsed("json")
    assert(cat.get("format").asText() == "data_catalog_v1")
    assert(cat.get("pipeline_id").asText() == "pipe_1")
    assert(cat.get("edges").size() == rows.length)
    // nodes: 2 sources + 1 target
    assert(cat.get("nodes").size() == 3)
    val al = parsed("alation")
    assert(al.get("dataflow").get("nodes").size() == 3)
    val co = parsed("collibra")
    assert(co.get("assets").size() == 3 &&
      co.get("relations").size() == rows.length)
    intercept[IllegalArgumentException](Lineage.graphDoc(df, "p", "dot"))
    // determinism: same plan, same document
    assert(Lineage.graphDoc(df, "pipe_1") == Lineage.graphDoc(df, "pipe_1"))
  }

  test("Catalog: json registry loads, validates schemas, feeds pipelines") {
    val sfDir = TestSession.sfDir
    val json =
      s"""{"datasets": [
         |  {"name": "cat_nation", "format": "parquet",
         |   "path": "$sfDir/nation.parquet",
         |   "schema": "n_nationkey INT, n_name STRING, n_regionkey INT"},
         |  {"name": "cat_region", "format": "parquet", "path": "$sfDir/region.parquet"}
         |]}""".stripMargin
    Catalog.registerJson(spark, json)
    val out = spark.sql(
      "SELECT r_name, COUNT(*) AS n FROM cat_nation JOIN cat_region " +
        "ON n_regionkey = r_regionkey GROUP BY r_name")
    assert(out.count() == table("region").count())
    // catalog-named views compose with the JSON pipeline front-end
    val piped = graft.pipeline.Pipeline.run(spark,
      Map("cat_nation" -> Catalog.load(spark,
        Catalog.parseJson(json).head)),
      graft.pipeline.PipelineJson.parse(
        """{"primary": "cat_nation", "steps": [
          |  {"type": "aggregate", "groupBy": ["n_regionkey"],
          |   "aggs": [{"col": "n_nationkey", "fn": "count", "as": "n"}]}]}""".stripMargin))
    assert(piped.count() == table("region").count())
    // a wrong declared type fails fast at load, naming the column
    val bad = Catalog.DatasetSpec("bad_nation", "parquet", s"$sfDir/nation.parquet",
      schemaDdl = Some("n_nationkey STRING, n_name STRING"))
    val err = intercept[IllegalArgumentException](Catalog.load(spark, bad))
    assert(err.getMessage.contains("n_nationkey"))
    // malformed configs fail naming what is wrong, not with a bare NPE
    val noDatasets = intercept[IllegalArgumentException](
      Catalog.parseJson("""{"dataset": []}"""))
    assert(noDatasets.getMessage.contains("datasets"))
    val noPath = intercept[IllegalArgumentException](
      Catalog.parseJson("""{"datasets": [{"name": "x", "format": "parquet"}]}"""))
    assert(noPath.getMessage.contains("path"))
    // connector-backed entries resolve to the connector config builders
    val jdbc = Catalog.parseJson(
      """{"datasets": [{"name": "pg_orders", "format": "jdbc",
        |  "path": "jdbc:postgresql://db:5432/shop",
        |  "options": {"dbtable": "orders", "user": "etl",
        |              "partitionColumn": "o_orderkey",
        |              "lowerBound": "1", "upperBound": "100000",
        |              "numPartitions": "16",
        |              "driver": "org.postgresql.Driver",
        |              "sslmode": "require"}}]}""".stripMargin).head
    Catalog.connector(jdbc) match {
      case Some(Left(j)) =>
        assert(j.url == "jdbc:postgresql://db:5432/shop" && j.table == "orders")
        assert(j.partitionColumn.contains("o_orderkey") && j.numPartitions == 16)
        assert(j.options("upperBound") == "100000")
        // unrecognized options pass through, they are not discarded
        assert(j.options("driver") == "org.postgresql.Driver")
        assert(j.options("sslmode") == "require")
      case other => fail(s"expected a JdbcSource, got $other")
    }
    // camelCase fetchSize is accepted alongside the jdbc-native lowercase
    val camel = Catalog.DatasetSpec("c", "jdbc", "jdbc:h2:mem:x",
      options = Map("dbtable" -> "t", "fetchSize" -> "777"))
    assert(Catalog.connector(camel).exists(_.left.exists(_.fetchSize == 777)))
    // partitionColumn without usable bounds would silently read on ONE
    // partition — must fail fast instead
    val noBounds = Catalog.DatasetSpec("nb", "jdbc", "jdbc:h2:mem:x",
      options = Map("dbtable" -> "t", "partitionColumn" -> "id"))
    val nbErr = intercept[IllegalArgumentException](Catalog.connector(noBounds))
    assert(nbErr.getMessage.contains("lowerBound"))
    // a schema declaration on a connector entry is a config error, not
    // silently ignored
    val schemaOnJdbc = Catalog.DatasetSpec("s", "jdbc", "jdbc:h2:mem:x",
      options = Map("dbtable" -> "t"), schemaDdl = Some("id BIGINT"))
    val sErr = intercept[IllegalArgumentException](Catalog.connector(schemaOnJdbc))
    assert(sErr.getMessage.contains("schema"))
    val mongo = Catalog.DatasetSpec("m", "mongodb", "mongodb://db:27017",
      options = Map("database" -> "shop", "collection" -> "events"))
    Catalog.connector(mongo) match {
      case Some(Right(n)) =>
        assert(n.format == "mongodb" && n.options("collection") == "events")
      case other => fail(s"expected a NoSqlSource, got $other")
    }
    assert(Catalog.connector(bad).isEmpty) // file formats stay file-loaded
  }

  test("ZOrder: interleave bit layout, clustered write tightens per-file ranges, compact") {
    import graft.functions.ZOrder
    import spark.implicits._
    // bit layout: col 0 owns the most-significant bit of each group
    val pts = Seq((1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L))
      .toDF("x", "y")
      .select(ZOrder.interleave(Seq(col("x"), col("y")), 2).as("z"))
      .as[Long].collect().toSeq
    assert(pts == Seq(2L, 1L, 3L, 13L))
    // 1-d interleave is the identity on the masked bits
    val ident = Seq(5L, 9L).toDF("x")
      .select(ZOrder.interleave(Seq(col("x")), 4).as("z")).as[Long].collect()
    assert(ident.toSeq == Seq(5L, 9L))

    // clustered write: every file's min/max window on EVERY clustering
    // column must be materially tighter than the global range
    val orders = table("orders")
    val dir = Files.createTempDirectory("graft_zorder").toString + "/orders_z"
    FileSink.writeZOrdered(orders, dir, Seq("o_custkey", "o_totalprice"),
      bits = 10, numFiles = 8)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.getPath).sorted
    assert(files.length > 3, s"expected several files, got ${files.length}")
    val back = spark.read.parquet(dir)
    assert(back.count() == orders.count())
    assert(back.columns.toSet == orders.columns.toSet) // helper cols dropped
    def ranges(c: String): (Seq[Double], Double) = {
      val per = files.toSeq.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col(c).cast("double")), max(col(c).cast("double"))).collect()(0)
        r.getDouble(1) - r.getDouble(0)
      }
      val g = orders.agg(min(col(c).cast("double")), max(col(c).cast("double")))
        .collect()(0)
      (per, g.getDouble(1) - g.getDouble(0))
    }
    for (c <- Seq("o_custkey", "o_totalprice")) {
      val (per, global) = ranges(c)
      val avg = per.sum / per.length
      assert(avg < 0.75 * global,
        s"$c: avg per-file range $avg not tighter than global $global")
    }

    // compaction: many small files -> one, content preserved, atomic
    val cdir = Files.createTempDirectory("graft_compact").toString + "/orders_many"
    orders.repartition(16).write.parquet(cdir)
    val (nBefore, nAfter) =
      FileSink.compact(spark, cdir, targetFileBytes = 10L * 1024 * 1024 * 1024)
    assert(nBefore == 16 && nAfter == 1)
    assert(spark.read.parquet(cdir).count() == orders.count())

    // a hive tree refuses whole-tree compact but sweeps per partition
    val pdir = Files.createTempDirectory("graft_compact_p").toString + "/days"
    orders.withColumn("day", (col("o_orderkey") % 2).cast("string"))
      .repartition(4).write.partitionBy("day").parquet(pdir)
    intercept[IllegalArgumentException](FileSink.compact(spark, pdir))
    // ... and so does ANY nested layout, hive-named or not: a
    // whole-tree rewrite would flatten root/sub/* into root
    val ndir = Files.createTempDirectory("graft_compact_n").toString + "/root"
    orders.limit(10).repartition(2).write.parquet(ndir + "/sub")
    intercept[IllegalArgumentException](FileSink.compact(spark, ndir))
    val (parts, pb, pa) = FileSink.compactPartitions(spark, pdir,
      targetFileBytes = 10L * 1024 * 1024 * 1024)
    assert(parts == 2 && pb == 8 && pa == 2)
    val back2 = spark.read.parquet(pdir)
    assert(back2.count() == orders.count())
    assert(back2.select("day").distinct().count() == 2) // layout intact

    // text formats round-trip through compaction with their options
    // (string-typed read keeps values verbatim; header preserved)
    val csvDir = Files.createTempDirectory("graft_compact_csv").toString + "/t"
    val opts = Map("header" -> "true", "sep" -> ";")
    Seq((1, "a;x", 1.50), (2, "b", 2.0)).toDF("id", "s", "amt")
      .repartition(2).write.options(opts).csv(csvDir)
    val (cb, ca) = FileSink.compact(spark, csvDir,
      targetFileBytes = 1L << 30, format = "csv", options = opts)
    assert(cb == 2 && ca == 1)
    val csvBack = spark.read.options(opts).csv(csvDir)
    assert(csvBack.columns.toSeq == Seq("id", "s", "amt"))
    assert(csvBack.count() == 2)
    // the quoted separator-bearing value survives verbatim (the Double
    // was rendered "1.5" by the ORIGINAL csv write; compaction's
    // string-typed round-trip then keeps that text unchanged)
    assert(csvBack.filter(col("s") === "a;x" && col("amt") === "1.5").count() == 1)

    // crash-window heal: simulate a sweep that died between the two
    // renames (partition retired to its hidden .day=1__old, target
    // gone). A plain read would silently miss the partition — the
    // hidden dir is invisible by design — but the next sweep must
    // restore it before compacting
    val d1 = new java.io.File(pdir, "day=1")
    assert(d1.renameTo(new java.io.File(pdir, ".day=1__old")))
    assert(spark.read.parquet(pdir).select("day").distinct().count() == 1)
    val (parts2, _, _) = FileSink.compactPartitions(spark, pdir,
      targetFileBytes = 10L * 1024 * 1024 * 1024)
    assert(parts2 == 2) // the torn partition is back in the sweep
    assert(spark.read.parquet(pdir).count() == orders.count())
  }

  test("Datagen: partitioning-invariant values, bounded ranges, error rates, sizing") {
    import graft.sources.Datagen, Datagen._
    val fields = Seq(IntCol("age", 18, 80), DoubleCol("p", 0.0, 1.0),
      CatCol("c", Seq("a", "b")))
    // same seed, different partitionings -> identical data (the
    // cluster-resize reproducibility contract)
    val d2 = Datagen.table(spark, 5000, fields, seed = 9, partitions = 2)
    val d17 = Datagen.table(spark, 5000, fields, seed = 9, partitions = 17)
    assert(d2.exceptAll(d17).isEmpty && d17.exceptAll(d2).isEmpty)
    // declared bounds hold
    val r = d2.agg(min(col("age")), max(col("age")), min(col("p")),
      max(col("p"))).collect()(0)
    assert(r.getLong(0) >= 18 && r.getLong(1) <= 80)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(3) < 1.0)
    // a different seed changes the stream
    assert(!Datagen.table(spark, 5000, fields, seed = 10, partitions = 2)
      .exceptAll(d2).isEmpty)
    // error lottery lands near the declared rate and only there
    val dirty = Datagen.outOfRange(Datagen.nullify(d2, "c", 0.2, seed = 9),
      "age", declaredMax = 80, rate = 0.1, seed = 9)
    val nNull = dirty.filter(col("c").isNull).count()
    assert(math.abs(nNull / 5000.0 - 0.2) < 0.03, s"null rate ${nNull / 5000.0}")
    val nOor = dirty.filter(col("age") > 80).count()
    assert(math.abs(nOor / 5000.0 - 0.1) < 0.03, s"oor rate ${nOor / 5000.0}")
    assert(dirty.filter(col("age") < 18).count() == 0)
    // sizing: 3 numeric-ish fields + id -> width 8+8+8+16 = 40
    assert(Datagen.rowsForBytes(fields, 4000L) == 100L)

    // edge cases: one tagged row per case, typed boundary values
    val edges = Datagen.edgeCases(spark, fields :+ StringCol("s"))
    assert(edges.count() == 7)
    val byCase = edges.collect().map(r => r.getAs[String]("case") -> r).toMap
    assert(byCase("minimum_value").getAs[Long]("age") == 18)
    assert(byCase("maximum_value").getAs[Long]("age") == 80)
    assert(byCase("maximum_value").getAs[String]("s") == "x" * 1000)
    assert(byCase("zero").getAs[Double]("p") == 0.0)
    assert(byCase("empty_string").getAs[String]("s") == "")
    assert(byCase("empty_string").isNullAt(byCase("empty_string").fieldIndex("age")))
    assert(byCase("null_value").isNullAt(byCase("null_value").fieldIndex("c")))
    assert(byCase("unicode_characters").getAs[String]("s").nonEmpty)
  }

  test("replacePartitions rewrites only the partitions present in the batch") {
    val dir = Files.createTempDirectory("graft_dynpart").toString + "/days"
    import spark.implicits._
    Seq(("2024-01-01", 1L, "orig"), ("2024-01-02", 2L, "orig"))
      .toDF("day", "k", "v").write.partitionBy("day").parquet(dir)
    // restate day 2 only — one row, new content
    FileSink.replacePartitions(
      Seq(("2024-01-02", 9L, "fixed")).toDF("day", "k", "v"),
      dir, Seq("day"))
    val back = spark.read.parquet(dir).select("day", "k", "v")
      .as[(String, Long, String)].collect().toSet
    assert(back == Set(("2024-01-01", 1L, "orig"), ("2024-01-02", 9L, "fixed")))
    // the session conf did not leak
    assert(!spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .contains("dynamic"))
  }

  test("Audit: trail paging, config history, retention split, day-partitioned store") {
    import graft.monitoring.Audit
    import spark.implicits._
    val audit = Seq(
      // (audit_id, run_id, event_type, action, ts, user, details, ip, sess)
      (1L, "r1", "config_change", "update", "2024-01-01 10:00:00",
        "user-1", """{"table_name": "dq_rules", "record_id": "7", "success": true}""",
        "10.0.0.1", "s1"),
      (2L, "r1", "config_change", "update", "2024-01-02 10:00:00",
        "user-2", """{"table_name": "dq_rules", "record_id": "7", "success": true}""",
        "10.0.0.2", "s2"),
      (3L, "r1", "config_change", "update", "2024-01-03 10:00:00",
        "user-1", """{"table_name": "pipelines", "record_id": "7", "success": true}""",
        "10.0.0.1", "s1"),
      (4L, "r2", "security_event", "login", "2024-01-04 10:00:00",
        "user-3", """{"success": false}""", "10.0.0.3", "s3"),
      (5L, "r2", "data_access", "read", "2024-01-05 10:00:00",
        "user-1", """{"row_count": 10, "success": true}""", "10.0.0.1", "s1"),
      (6L, "r2", "data_access", "read", "2024-01-05 10:00:00", // ts tie with 5
        "user-2", """{"row_count": 20, "success": true}""", "10.0.0.2", "s2"))
      .toDF("audit_id", "run_id", "event_type", "action", "ts", "user_id",
        "action_details", "ip_address", "session_id")
      .withColumn("action_timestamp", to_timestamp(col("ts"))).drop("ts")
      .withColumn("data_source", lit("t")).withColumn("access_type", lit("read"))

    // paging: offset skips newest; the ts tie (5,6) breaks by audit_id desc
    val page = Audit.trail(audit, Audit.TrailFilter(limit = 2, offset = 1))
    assert(page.select("audit_id").as[Long].collect().toSeq == Seq(5L, 4L))
    // filters compose (user + period)
    val ua = Audit.userActivity(audit, "user-1", "2024-01-02 00:00:00",
      "2024-01-31 00:00:00")
    assert(ua.select("audit_id").as[Long].collect().toSeq == Seq(5L, 3L))
    // config history matches BOTH json fields, newest first
    val hist = Audit.configChangeHistory(audit, "dq_rules", "7")
    assert(hist.select("audit_id").as[Long].collect().toSeq == Seq(2L, 1L))
    // incidents: success=false only (true and absent both excluded)
    val inc = Audit.securityIncidents(audit, "2024-01-01 00:00:00",
      "2024-01-31 00:00:00")
    assert(inc.select("audit_id").as[Long].collect().toSeq == Seq(4L))
    // retention split is a partition of the input
    val (kept, archived) = Audit.archiveSplit(audit, "2024-01-04 00:00:00")
    assert(archived.select("audit_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(kept.count() + archived.count() == audit.count())

    // append/load round-trip: day partitions exist and prune
    val dir = Files.createTempDirectory("graft_audit").toString + "/audit"
    Audit.append(audit, dir)
    val back = Audit.load(spark, dir)
    assert(back.count() == 6)
    assert(new java.io.File(dir).listFiles().exists(_.getName == "action_date=2024-01-05"))
    val pruned = back.filter(to_date(col("action_timestamp")) === "2024-01-05")
    assert(pruned.count() == 2)
  }
}
