package graft
import java.nio.file.{Files, Paths}

/** Benchmark harness: times every registered query at the configured
  * scale factor. One untimed warmup pass (JVM/codegen warmup would
  * otherwise land on whichever query runs first), then THREE timed
  * passes in sorted name order with every cached frame / checkpoint /
  * broadcast released before each measurement; the published figure is
  * the per-query min over SUCCESSFUL passes (so `total` is a
  * sum-of-mins, not the wall time of any pass). Three timed passes
  * since r16 — two let a single stalled run inflate ~25 queries of the
  * committed r15 artifact at once.
  *
  * Diagnosability (r8 lesson: a 44.7 s driver-host outlier on one query
  * was unexplainable post-hoc because only the min survived): the full
  * artifact now carries, per query, BOTH per-pass wall times, the
  * per-pass JVM GC-time delta (distinguishes "the plan got slow" from
  * "the host was collecting"), per-pass executed-task counts
  * (distinguishes "Spark re-executed work" — a caching/plan defect —
  * from "the host stalled with the same work"), and a normalized
  * physical-plan fingerprint (exprIds/plan-ids stripped) so a plan
  * change between rounds is attributable in review rather than
  * guessed at.
  *
  * `errors` only lists queries that failed in EVERY pass — a query
  * with any successful pass is timed from its good passes and listed
  * under `transient_errors` instead, so `errors` keys and timed
  * successes stay disjoint for consumers.
  *
  * `anchors` tags the queries that are registered as ORACLE PARITY
  * ANCHORS ([[SparkEntry.anchorQueries]]): deliberately un-scalable
  * formulations kept oracle-comparable beside their production
  * replacements. Read their timings as correctness collateral, not as
  * the engine's recommended-path cost.
  *
  * The full per-query JSON line is written to bench_out.json
  * (committed); stdout gets a compact line sized to the driver's
  * 2000-char output tail (total + errors + slowest queries) so it
  * parses instead of being truncated mid-JSON.
  */
object Bench {
  /** Strip run-varying tokens (expression ids `#123`, codegen stage ids,
    * plan ids, cached-RDD numbers, JVM lambda/object identities) from a
    * physical-plan string so the fingerprint is stable across JVMs for
    * an unchanged plan shape. Feed it [[fingerprintPlan]]'s string (the
    * PRE-AQE `sparkPlan`), not `executedPlan`: after an action runs,
    * `executedPlan` is the AQE FINAL plan, whose runtime choices
    * (shuffle-read coalesce counts, runtime join demotions, reused
    * exchanges) legitimately vary run to run — r19's committed artifact
    * and a same-HEAD re-run disagreed on q_media_audio_dedup's hash for
    * exactly that reason, with zero plan-affecting edits in between.
    * The static plan is the thing cross-round drift detection wants. */
  private[graft] def planFingerprint(plan: String): String = {
    val normalized = plan
      .replaceAll("#\\d+[A-Z]*", "#")       // exprIds: l_quantity#123L
      .replaceAll("\\*\\(\\d+\\)", "*(n)")  // whole-stage codegen stage ids
      .replaceAll("\\[plan_id=\\d+\\]", "") // AdaptiveSparkPlan plan ids
      .replaceAll("\\[id=#\\]", "")
      .replaceAll("(?i)(rdd|broadcast|subquery|cte)\\s*#?\\d+", "$1#")
      // JVM-assigned identities: `Foo$$Lambda$123/0x0000...` (anonymous
      // function classes shift with ANY recompile of the defining file)
      // and `@1a2b3c4d` object hashes — neither is plan shape
      .replaceAll("\\$\\$Lambda(\\$\\d+)?/0x[0-9a-fA-F]+", "\\$\\$Lambda")
      .replaceAll("@[0-9a-fA-F]{6,}", "@_")
      .replaceAll("file:[^,\\s\\]]+", "file:_") // temp paths differ per run
      .replaceAll("\\d{4}-\\d{2}-\\d{2}[T ][\\d:.]+", "_ts_")
    java.security.MessageDigest.getInstance("MD5")
      .digest(normalized.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** The normalized fingerprint of a frame's STATIC physical plan
    * (`queryExecution.sparkPlan` — Catalyst's pick before AQE re-plans
    * at runtime). Stable across executions of the same query in the
    * same session AND across same-HEAD JVMs; safe to call before or
    * after an action (sparkPlan never mutates, unlike executedPlan). */
  private[graft] def fingerprintPlan(df: org.apache.spark.sql.DataFrame): String =
    planFingerprint(df.queryExecution.sparkPlan.toString)

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ONLY=q_a,q_b narrows the run for local perf iteration;
    // the driver never sets it, so official numbers always cover all.
    // Unknown names fail loudly rather than silently timing nothing.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { ns =>
      val unknown = ns -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(",")}")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // Warmup: run the flagship agg once untimed to absorb JVM/codegen init.
    try SparkEntry.queries("q_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }

    // Host-calibration probe (r19): a FIXED-WORK, data-independent,
    // CPU-bound query — a codegen'd xxhash64 chain over a fixed range at
    // fixed parallelism — timed before each pass and once after the
    // last. The suite's committed numbers have a documented ±15%
    // same-HEAD host spread; the probe array turns "was that pass slow
    // or was the host?" into one division (probe ratio ≈ host factor)
    // instead of a per-query adjudication. Work is constant across
    // rounds by construction: same rows, same chain depth, same slice
    // count — never data- or SF-dependent.
    def probeSec(): Double = {
      import org.apache.spark.sql.functions.{col, pmod, sum, xxhash64}
      val t0 = System.nanoTime()
      val chained = (1 to 6).foldLeft(col("id"))((c, _) => xxhash64(c))
      // pmod bounds the addend so the ANSI sum can never overflow Long
      spark.range(0L, 100000000L, 1L, cpus.toInt)
        .select(sum(pmod(chained, org.apache.spark.sql.functions.lit(1000000L))))
        .head()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup of the probe's own codegen — excluded from the probe
    // array (it measures class-load, not the host), but its cost is
    // still wall-clock this run paid, so it counts toward the
    // surfaced probe_overhead_sec total (ADVICE r19: the calibration
    // cost itself must be visible in the artifact)
    val probeWarmSec = probeSec()

    // Executed-task counter: a slow pass with ~equal task counts is a
    // host stall; a slow pass with a task-count multiple is Spark
    // re-executing work (a caching/plan defect — exactly how the
    // q_anom_ocsvm same-plan cache eviction would have been attributed
    // from the artifact alone). Listener posts are async, so counts are
    // approximate at the boundary (ms-scale lag, fine for 2x detection).
    val taskCounter = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskCounter.incrementAndGet(); ()
      }
    })

    // per query: (seconds, gcDeltaSec, errorMessage). Per-query isolation
    // (releaseAll before the clock starts) keeps accumulated
    // caches/broadcasts from GC-thrashing later queries (r7: 3.66x
    // apparent regression, gone in isolation); min-of-2 then absorbs the
    // remaining host noise (identical back-to-back suites still varied
    // >2x on single queries — one-shot timings punish whoever runs last).
    // A transient failure aborts fast, and that abort duration must not
    // masquerade as the query's time.
    final case class Sample(sec: Double, gcSec: Double, tasks: Long, err: Option[String])
    val planHashes = scala.collection.mutable.LinkedHashMap[String, String]()
    def timedPass(recordPlans: Boolean): Map[String, Sample] = names.map { name =>
      GraftSession.releaseAll(spark)
      // Label every job with its query (guide §1.5): event-log /
      // listener tooling can then attribute stages to queries instead
      // of reconstructing the mapping from timestamps. Thread-local,
      // free when no listener is attached.
      spark.sparkContext.setJobDescription(name)
      val gc0 = gcMillis()
      val tasks0 = taskCounter.get()
      val t0 = System.nanoTime()
      var df: org.apache.spark.sql.DataFrame = null
      val err =
        try { df = SparkEntry.queries(name)(spark, sfDir); df.count(); None }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcMillis() - gc0) / 1e3
      val tasks = taskCounter.get() - tasks0
      // fingerprint AFTER the clock stops (planning the frame itself is
      // cheap; it must not pollute the measurement). sparkPlan, not
      // executedPlan: the post-action executedPlan is AQE's FINAL plan
      // and embeds run-varying runtime choices (see planFingerprint)
      if (recordPlans && err.isEmpty && df != null) {
        try planHashes(name) = fingerprintPlan(df)
        catch { case _: Throwable => () }
      }
      name -> Sample(sec, gcSec, tasks, err)
    }.toMap
    // Three timed passes (r16; was two): the r15 round published a
    // committed total 11% above the builder's own runs of the SAME HEAD
    // because ~25 untouched queries each caught a +0.3-0.9 s host
    // stall in both passes of one run. A third pass costs ~50% more
    // bench wall but makes the sum-of-mins a defensible representative
    // figure, and the per-pass arrays below let a reviewer attribute
    // any residual spread (gc/task counts distinguish host noise from
    // re-executed work).
    val nPasses = 3
    val probes = scala.collection.mutable.ListBuffer[Double]()
    val ps: Seq[Map[String, Sample]] =
      (1 to nPasses).map { i =>
        probes += probeSec()
        timedPass(recordPlans = i == 1)
      }
    probes += probeSec() // one after the last pass: drift across the window

    // errors = failed in ALL passes (timed value is then the min abort
    // time, flagged here); transient = failed in some but not all (timed
    // value comes from the successful passes alone).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val transientErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    names.foreach { n =>
      val errs = ps.flatMap(_(n).err)
      if (errs.size == nPasses) errors(n) = errs.head
      else if (errs.nonEmpty) transientErrors(n) = errs.head
    }
    val results = names.map { n =>
      val good = ps.map(_(n)).collect { case Sample(t, _, _, None) => t }
      n -> (if (good.nonEmpty) good.min else ps.map(_(n).sec).min)
    }
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val passes = names.map { n =>
      "\"" + n + "\":[" + ps.map(p => f"${p(n).sec}%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val gcs = names.map { n =>
      "\"" + n + "\":[" + ps.map(p => f"${p(n).gcSec}%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val taskCounts = names.map { n =>
      "\"" + n + "\":[" + ps.map(_(n).tasks).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val plans = planHashes.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }.mkString("{", ",", "}")
    val transientJson = transientErrors.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val anchorsJson = SparkEntry.anchorQueries.toSeq.sorted
      .filter(names.contains).map("\"" + _ + "\"").mkString("[", ",", "]")
    val probeJson = probes.map(p => f"$p%.3f").mkString("[", ",", "]")
    // cpus is part of the measurement's identity: a local[8] run reads
    // ~1.7x slower than local[32] on the same HEAD (measured r19), and
    // the probe divides work across exactly `cpus` slices — comparisons
    // are only like-for-like at equal cpus, so the artifact records it
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,""" +
        s""""queries":$qs,"passes":$passes,""" +
        s""""gc_sec":$gcs,"tasks":$taskCounts,"plan_hash":$plans,"anchors":$anchorsJson,""" +
        s""""probe_sec":$probeJson,""" +
        f""""probe_overhead_sec":${probeWarmSec + probes.sum}%.3f,""" +
        s""""errors":$errJson,"transient_errors":$transientJson,"sf":"$sfDir"}"""
    // a SPARK_GRAFT_ONLY-narrowed run must never clobber the official
    // full-suite artifact the driver (and docs) ingest
    val outFile = if (only.isDefined) "bench_only_out.json" else "bench_out.json"
    Files.writeString(Paths.get(outFile), fullLine)
    // The driver keeps only the tail of this process's output (~2000
    // chars), so once the suite passed ~70 queries the full per-query
    // line no longer fit and its head was truncated mid-JSON (every
    // BENCH_r1-r7.json parsed:null). Print a line that is guaranteed to
    // survive the tail window intact: total + errors + the slowest
    // queries that fit a fixed character budget, plus a pointer to the
    // committed full artifact.
    val budget = 1500
    // errors must obey the same budget: a mass failure would otherwise
    // emit one ~200-char message per query and overflow the tail again,
    // in exactly the runs where the errors matter. Show the first few
    // (truncated) and count the rest; the full map is in the artifact.
    val errShown = errors.take(3)
      .map { case (k, v) => "\"" + k + "\":\"" + esc(v.take(80)) + "\"" }
      .mkString("{", ",", "}")
    val base =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","cpus":$cpus,""" +
        s""""n_queries":${results.size},""" +
        s""""n_errors":${errors.size},"errors":$errShown,"anchors":$anchorsJson,""" +
        s""""probe_sec":$probeJson,"sf":"$sfDir","full":"$outFile","queries":{}}"""
    val picked = scala.collection.mutable.ListBuffer[String]()
    var used = base.length
    results.sortBy(-_._2).foreach { case (k, v) =>
      val entry = "\"" + k + "\":" + f"$v%.3f"
      if (used + entry.length + 1 <= budget) { picked += entry; used += entry.length + 1 }
    }
    val line = base.replace("\"queries\":{}}", "\"queries\":{" + picked.mkString(",") + "}}")
    println(line)
    spark.stop()
  }
}
