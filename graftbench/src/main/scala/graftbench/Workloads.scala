package graftbench

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Recovery
import graft.incremental.{Incremental, WatermarkStore}
import graft.llm.{Dedup, Text}
import graft.monitoring.RunHistory
import graft.pipeline.Job
import graft.quality.{Anomaly, DQ}

/** One benchmark workload: inputs registered at set-up, untimed
  * preparation, the timed iteration, and untimed output checks. */
trait Workload {
  /** Input datasets (name -> parquet path) registered during set-up. */
  def inputs: Seq[(String, String)]
  /** Path fragment identifying the primary input's scans, if counted. */
  def primary: Option[String] = None
  def prepare(): Unit = ()
  /** Untimed, before each iteration: restore the state it starts from. */
  def reset(): Unit = ()
  /** One iteration; everything that must run for a user's batch. */
  def run(l: Layers): Unit
  /** Untimed, after an iteration: order-insensitive digest of its
    * output and the counts that must repeat exactly. */
  def check(): Map[String, Any]
  /** Data outputs whose part files are counted and sized. Outputs that
    * carry wall-clock values (quarantine stamps, ledger and history
    * events) are left out: their compressed size is not repeatable. */
  def outputs: Seq[String]
  /** Untimed, once per run: artifacts the oracle needs. */
  def finish(): Map[String, Any] = Map.empty
}

object Workloads {
  val names = Seq("nightly_etl", "corpus_curation")

  def apply(name: String, spark: SparkSession, data: String, work: String,
            seed: Long): Workload = name match {
    case "nightly_etl" => new NightlyEtl(spark, data, s"$work/nightly_etl", seed)
    case "corpus_curation" => new CorpusCuration(spark, data, s"$work/corpus_curation", seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Row count and an order-insensitive content hash of each frame, in
    * one job. Doubles are rounded to 6 places so the hash sees values,
    * not last-bit noise. */
  def digests(dfs: DataFrame*): Seq[(Long, String)] = {
    val rows = dfs.zipWithIndex.map { case (df, i) =>
      val cols = df.schema.fields.toIndexedSeq.map { f =>
        if (f.dataType.typeName == "double") round(col(f.name), 6) else col(f.name)
      }
      df.agg(lit(i).as("i"), count(lit(1)).as("n"),
        coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))).as("h"))
    }.reduce(_ unionByName _).collect()
    rows.sortBy(_.getInt(0)).map(r => (r.getLong(1), r.getDecimal(2).toBigInteger.toString))
      .toSeq
  }

  /** (part files, their bytes) under `dir`. */
  def partFiles(dir: String): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    val files = walk(new java.io.File(dir))
    (files.size.toLong, files.map(_.length).sum)
  }
}

/** The nightly batch. First the night's CDC batch merges into the
  * `orders` target: ledger read, watermark cut, CDC apply, atomic
  * rewrite of the target, ledger advance and a run-history row. Then a
  * `Job.runJson` document runs over the line items and the merged
  * orders: load, transform, DQ gate and quarantine, isolation-forest
  * screen, atomic parquet sink. Every iteration starts from the same
  * target and ledger, so each applies the same seeded batch and writes
  * the same output. */
final class NightlyEtl(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  private val target = s"$work/orders"
  private val initialLedger = s"$work/ledger_initial"
  private val ledger = s"$work/ledger"
  private val history = s"$work/history"
  private val sink = s"$work/out"
  private val quarantine = s"$work/quarantine"
  private val anomalies = s"$work/anomalies"
  // the seeded per-run inputs: landed CDC batches 0 and 1, and the
  // target with batch 0 already applied
  private val cdc = s"$work/inputs/cdc"
  private val initialTarget = s"$work/inputs/orders_initial"
  private val tables = Seq("lineitem", "orders", "customer", "nation")
  val inputs = tables.map(n => n -> s"$data/$n.parquet")
  override val primary = Some("lineitem.parquet")
  def outputs: Seq[String] = Seq(target, sink, anomalies)

  /** The seed picks the order-line quantity cut (6..10 of 1..50), so
    * different seeds run the same plan over slightly different rows. */
  val minQuantity: Int = 6 + (seed % 5).toInt
  private val newestFirst = Seq(col("event_ts").desc, col("seq").desc)

  override def prepare(): Unit = {
    // the ledger records batch 0 as applied on an earlier night
    val applied = spark.read.parquet(cdc).filter(col("batch") === 0)
      .agg(max(col("seq"))).head().getLong(0)
    WatermarkStore.update(spark, initialLedger, "nightly", "orders_cdc", "seq",
      applied, strategy = "sequence",
      at = Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
  }

  override def reset(): Unit = Seq(initialTarget -> target, initialLedger -> ledger)
    .foreach { case (from, to) =>
      val dst = new java.io.File(to)
      FileUtils.deleteDirectory(dst)
      FileUtils.copyDirectory(new java.io.File(from), dst)
    }

  val rules: String =
    """[{"rule_id": "seg_nn", "type": "completeness", "column": "c_mktsegment"},
      | {"rule_id": "nation_nn", "type": "not_null", "column": "n_name"},
      | {"rule_id": "nation_fmt", "type": "regex", "column": "n_name",
      |  "pattern": "^NATION_[0-9]+$"},
      | {"rule_id": "prio_ok", "type": "allowed_values", "column": "o_orderpriority",
      |  "values": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]},
      | {"rule_id": "net_range", "type": "range", "column": "order_net",
      |  "min": 0, "max": 250000, "threshold": 20},
      | {"rule_id": "lines_range", "type": "range", "column": "n_lines",
      |  "min": 1, "max": 3, "threshold": 40},
      | {"rule_id": "rank_range", "type": "range", "column": "cust_rank",
      |  "min": 1, "max": 1000},
      | {"rule_id": "running_ge", "type": "consistency",
      |  "condition": "cust_running >= order_net"}]""".stripMargin

  def json: String = {
    def ds(n: String, path: String) =
      s"""{"name": "$n", "format": "parquet", "path": "$path"}"""
    val datasets = inputs.map { case (n, p) => ds(n, if (n == "orders") target else p) }
    s"""{
       |  "datasets": [${datasets.mkString(", ")}],
       |  "pipeline": {"primary": "lineitem", "steps": [
       |    {"type": "filter", "column": "l_quantity", "op": ">=", "value": $minQuantity},
       |    {"type": "rename", "mapping": {"l_orderkey": "o_orderkey"}},
       |    {"type": "join", "right": "orders", "on": ["o_orderkey"]},
       |    {"type": "rename", "mapping": {"o_custkey": "c_custkey"}},
       |    {"type": "join", "right": "customer", "on": ["c_custkey"], "broadcast": true},
       |    {"type": "rename", "mapping": {"c_nationkey": "n_nationkey"}},
       |    {"type": "join", "right": "nation", "on": ["n_nationkey"], "broadcast": true},
       |    {"type": "convert", "typeMapping": {"l_linenumber": "long"}},
       |    {"type": "sql_expr", "name": "net",
       |     "expr": "round(CAST(l_extendedprice AS DECIMAL(12, 2)) * (1 - CAST(l_discount AS DECIMAL(4, 2))) * (1 + CAST(l_tax AS DECIMAL(4, 2))), 2)"},
       |    {"type": "aggregate",
       |     "groupBy": ["o_orderkey", "c_custkey", "c_mktsegment", "n_name",
       |                 "o_orderdate", "o_orderpriority"],
       |     "aggs": [{"col": "net", "fn": "sum_money", "as": "order_net"},
       |              {"col": "l_linenumber", "fn": "count", "as": "n_lines"}]},
       |    {"type": "sqltransform", "sql": "SELECT *, rank() OVER (PARTITION BY c_custkey ORDER BY order_net DESC, o_orderkey) AS cust_rank, sum(order_net) OVER (PARTITION BY c_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cust_running FROM __pipe"}
       |  ]},
       |  "quality": {"rules": $rules, "min_score": 75.0,
       |              "quarantine_dir": "$quarantine", "run_id": "nightly"},
       |  "anomaly": {"method": "isolation_forest", "columns": ["order_net", "n_lines"],
       |              "threshold": 0.62},
       |  "sink": {"format": "parquet", "path": "$sink", "mode": "atomic"}
       |}""".stripMargin
  }

  def run(l: Layers): Unit = {
    merge(l)
    l match {
      case Untraced =>
        val res = Job.runJson(spark, json)
        Recovery.idempotentWrite(res.anomalies.get, anomalies)
      case _ => job(l)
    }
  }

  private def merge(l: Layers): Unit = {
    val started = System.nanoTime()
    val wm = l.span("incremental.ledger.last") {
      WatermarkStore.last(spark, ledger, "nightly", "orders_cdc", Some("seq"))
    }
    val landed = spark.read.parquet(cdc)
    val (delta, merged) = l.span("incremental.merge") {
      val d = l.boundary(wm.fold(landed)(w => Incremental.afterWatermark(landed, "seq", w.value)))
      (d, l.boundary(Incremental.applyCdc(spark.read.parquet(target), d,
        Seq("o_orderkey"), "op", newestFirst)))
    }
    l.span("sources.write.target") { Recovery.idempotentWrite(merged, target) }
    l.span("incremental.ledger.advance") {
      WatermarkStore.advanceFrom(spark, ledger, "nightly", "orders_cdc", "seq", delta,
        strategy = "sequence")
    }
    l.span("monitoring.history") {
      RunHistory.append(spark, history, "nightly", Seq(RunHistory.Entry("orders_cdc_merge",
        (System.nanoTime() - started) / 1000000L)))
    }
    l.note("incremental.changed_keys", delta.select("o_orderkey").distinct().count().toDouble)
  }

  /** Job.run's sequence, called layer by layer. */
  private def job(l: Layers): Unit = {
    val spec = Job.parse(json)
    val loaded = l.span("sources.load") {
      spec.datasets.map(d => d.name -> graft.Catalog.load(spark, d)).toMap
    }
    val out = l.span("pipeline.run") {
      l.boundary(graft.GraftSession.persistIfSmall(
        graft.pipeline.Pipeline.run(spark, loaded, spec.pipeline)))
    }
    l.span("quality.dq") {
      DQ.gateFromResults(DQ.check(out, spec.dqRules).collect(), spec.minScore.get)
    }
    val (clean, bad) = l.span("quality.split") {
      val (c, b) = DQ.split(out, spec.dqRules)
      (l.boundary(c), l.boundary(b))
    }
    l.span("sources.write.quarantine") {
      Recovery.quarantine(bad, spec.quarantine.get._1, spec.quarantine.get._2)
    }
    l.note("quality.rows_quarantined", bad.count().toDouble)
    val anom = l.span("quality.anomaly") {
      l.boundary(Anomaly.fromJson(clean, spec.anomalyJson.get))
    }
    l.span("sources.write.sink") { Recovery.idempotentWrite(clean, sink) }
    l.span("sources.write.anomalies") { Recovery.idempotentWrite(anom, anomalies) }
  }

  def check(): Map[String, Any] = {
    val Seq((rows, hash), (qRows, qHash), (aRows, _), (tRows, tHash)) = Workloads.digests(
      spark.read.parquet(sink),
      spark.read.parquet(s"$quarantine/run_id=nightly").drop("quarantined_at"),
      spark.read.parquet(anomalies), spark.read.parquet(target))
    Map("output_rows" -> rows, "quarantined_rows" -> qRows, "anomaly_rows" -> aRows,
      "target_rows" -> tRows, "hash" -> s"$hash/$qHash/$tHash")
  }

  override def finish(): Map[String, Any] =
    Map("sink" -> sink, "quarantine" -> s"$quarantine/run_id=nightly",
      "anomalies" -> anomalies, "min_quantity" -> minQuantity,
      "target" -> target, "cdc" -> cdc, "batches" -> 2)
}

/** Text curation: normalise, quality and Gopher gates, language id,
  * PII redaction, exact dedup, minhash-LSH near-dup pairs, connected
  * components collapse, parquet sink. */
final class CorpusCuration(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  private val sink = s"$work/out"
  private val pairsOut = s"$work/pairs"
  val inputs = Seq("documents" -> s"$data/documents.parquet")
  def outputs: Seq[String] = Seq(sink)
  val threshold = 0.7
  /** The seed picks the quality cut (0.40..0.44), so different seeds run
    * the same plan over slightly different documents. */
  val minQuality: Double = 0.40 + (seed % 5) * 0.01

  private def cleaned: DataFrame = {
    val t = col("text")
    spark.read.parquet(inputs.head._2)
      .select(col("doc_id"), col("source"), Text.normalize(t).as("text"))
      .filter(Text.qualityScore(t) >= minQuality && Text.gopherPasses(t, minTokens = 20))
      .withColumn("lang", Text.langId(t))
      .withColumn("text", Text.redactPii(t))
  }

  def run(l: Layers): Unit = l match {
    case Untraced =>
      val exact = Dedup.exact(cleaned, "doc_id", "text")
      val pairs = Dedup.minhashLsh(exact, "doc_id", "text", threshold = threshold)
      Recovery.idempotentWrite(Dedup.collapseNearDups(exact, "doc_id", pairs), sink)
    case _ =>
      val docs = l.span("llm.text") { l.boundary(cleaned) }
      val (exact, cand) = l.span("llm.dedup") {
        val e = l.boundary(Dedup.exact(docs, "doc_id", "text"))
        // every LSH candidate with its Jaccard; the threshold applies after
        (e, l.boundary(Dedup.minhashLsh(e, "doc_id", "text", threshold = 0.0)))
      }
      val pairs = cand.filter(col("jacc") >= threshold)
      val nCand = cand.count()
      l.note("llm.candidate_pairs", nCand.toDouble)
      l.note("llm.pair_precision", if (nCand == 0) 0.0 else pairs.count().toDouble / nCand)
      val out = l.span("llm.cc") { l.boundary(Dedup.collapseNearDups(exact, "doc_id", pairs)) }
      l.span("sources.write.sink") { Recovery.idempotentWrite(out, sink) }
  }

  def check(): Map[String, Any] = {
    val Seq((rows, hash)) = Workloads.digests(spark.read.parquet(sink))
    Map("output_rows" -> rows, "hash" -> hash)
  }

  override def finish(): Map[String, Any] = {
    val exact = Dedup.exact(cleaned, "doc_id", "text")
    Recovery.idempotentWrite(
      Dedup.minhashLsh(exact, "doc_id", "text", threshold = threshold), pairsOut)
    Map("sink" -> sink, "pairs" -> pairsOut, "min_quality" -> minQuality,
      "threshold" -> threshold)
  }
}
