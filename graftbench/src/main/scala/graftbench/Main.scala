package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one closed loop. Prints `READY`
  * once the session is up and the inputs are registered, then (unless
  * `--setup-only`) a cold first iteration, warm iterations until
  * `--seconds` have passed, and one `RESULT` line of JSON.
  *
  * With `--trace 1` warm iterations alternate between the untraced
  * plan and a traced one that runs the same layer calls with their
  * outputs forced at each boundary; the traced ones report per-layer
  * metrics and their spans go to `<work>/trace-<workload>-<seed>.json`.
  */
object Main {
  // the first warm iteration still runs 10-25% slow (JIT), so three
  // warm ones let the median drop it; traced ones only feed per-layer
  // self times
  val MinWarm = 3
  val MinTraced = 2

  /** One iteration. `codegen` is (compilations, compile ms) of the
    * timed part alone, before any untimed checking query. */
  final case class Iter(i: Int, wallS: Double, ok: Boolean, error: String,
                        totals: Totals, codegen: (Long, Double), heapBytes: Long,
                        check: Map[String, Any], files: Long, bytes: Long,
                        tracer: Option[Tracer])

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o.getOrElse("trace", "0") == "1"
    val cores = o("cores").toInt
    val (data, work) = (o("data"), o("work"))

    phase(s"main entered ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms after JVM start")
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    phase("session built")
    val wl = Workloads(name, spark, data, work, seed)
    wl.inputs.foreach { case (n, p) => spark.read.parquet(p).createOrReplaceTempView(n) }
    phase("inputs registered")
    val maxMemory = Runtime.getRuntime.maxMemory()
    // GraftSession.isSmall's budget; run.py drops every SPARK_GRAFT_*
    // variable and sets no spark.graft.* conf, so no override applies
    val budget = maxMemory / 1024
    emit("READY", Map("session_start_s" -> sessionS, "max_memory_bytes" -> maxMemory,
      "persist_if_small_budget_bytes" -> budget, "cores" -> cores))
    // a set-up-only JVM has done its job; skip the orderly shutdown
    if (o.getOrElse("setup-only", "0") == "1") Runtime.getRuntime.halt(0)

    val probe = Probe.install(spark, wl.primary)
    wl.prepare()
    val inputRows = o("input-rows").toLong
    phase("prepared")

    def iterate(i: Int, l: Layers): Iter = {
      wl.reset()
      probe.open()
      val cg0 = codegen()
      val start = System.nanoTime()
      val err = try { wl.run(l); null } catch { case NonFatal(e) => e.toString }
      val wall = (System.nanoTime() - start) / 1e9
      val cg1 = codegen()
      val totals = probe.open()
      // untimed from here: live heap, output digest, release
      System.gc()
      val heap = Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
      val chk = if (err == null) wl.check() else Map.empty[String, Any]
      val (files, bytes) = wl.outputs.map(Workloads.partFiles)
        .foldLeft((0L, 0L)) { case ((f, b), (f1, b1)) => (f + f1, b + b1) }
      graft.GraftSession.releaseAll(spark)
      probe.open()
      probe.resetCaches()
      l match {
        case t: Tracer => t.rootWork.add(totals)
        case _ =>
      }
      phase(f"iteration $i%d: $wall%.3f s")
      Iter(i, wall, err == null, err, totals, (cg1._1 - cg0._1, cg1._2 - cg0._2), heap,
        chk, files, bytes, Some(l).collect { case t: Tracer => t })
    }

    val cold = iterate(0, Untraced)
    val warm = mutable.ArrayBuffer.empty[Iter]
    val traced = mutable.ArrayBuffer.empty[Iter]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 1
    while (System.nanoTime() < deadline || warm.size < MinWarm ||
        (trace && traced.size < MinTraced)) {
      if (trace && i % 2 == 0) traced += iterate(i, new Tracer(spark, probe))
      else warm += iterate(i, Untraced)
      i += 1
    }

    val all = (cold +: warm.toSeq) ++ traced
    val ref = cold.check.get("hash")
    val failed = all.count(it => !it.ok || it.check.get("hash") != ref)
    val runS = median(warm.map(_.wallS).toSeq)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "max_memory_bytes" -> maxMemory, "persist_if_small_budget_bytes" -> budget,
      "session_start_s" -> sessionS,
      "first_run_s" -> cold.wallS, "run_s" -> runS,
      "warm_s" -> warm.map(_.wallS).toSeq,
      "input_rows" -> inputRows, "rows_per_s" -> inputRows / runS,
      "peak_heap_mb" -> warm.map(_.heapBytes).max / 1048576.0,
      "attempted" -> all.size, "failed" -> failed,
      "errors" -> all.flatMap(it => Option(it.error)).distinct,
      "counts" -> all.sortBy(_.i).map(counts),
      "oracle" -> (try wl.finish() catch {
        case NonFatal(e) => Map("error" -> e.toString)
      }))
    if (trace) {
      result("per_layer") = layers(cores, sessionS, cold, warm.toSeq, traced.toSeq)
      writeTrace(s"$work/trace-$name-$seed.json", traced.toSeq)
    }
    emit("RESULT", result.toMap)
    spark.stop()
    phase("stopped")
  }

  private val started = System.nanoTime()
  private def phase(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - started) / 1e9}%6.1fs] $msg")

  private def counts(it: Iter): Map[String, Any] = Map(
    "i" -> it.i, "traced" -> it.tracer.isDefined, "ok" -> it.ok,
    "spark_jobs" -> it.totals.jobs, "spark_tasks" -> it.totals.tasks,
    "bytes_written" -> it.bytes, "files_written" -> it.files) ++ it.check ++
    it.tracer.fold(Map.empty[String, Any])(_.notes.toMap)

  /** (compilations, total compile ms) from Spark's CodegenMetrics. The
    * histogram keeps the first 1028 samples exactly; past that the sum
    * is estimated from the mean. */
  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    val n = h.getCount
    (n, if (n <= s.size) s.getValues.sum.toDouble else s.getMean * n)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def layers(cores: Int, sessionS: Double, cold: Iter, warm: Seq[Iter],
                     traced: Seq[Iter]): Map[String, Double] = {
    val tr = traced.flatMap(_.tracer)
    def selfS(p: String => Boolean): Double =
      median(tr.map(_.spans.filter(s => p(s.name)).map(_.wallS).sum))
    def spanTotals(p: String => Boolean): Totals =
      tr.last.spans.filter(s => p(s.name)).foldLeft(new Totals)((a, s) => a.add(s.totals))
    def note(k: String): Double = tr.last.notes.getOrElse(k, 0.0)
    val real = warm.last.totals
    val targetWrites = spanTotals(_ == "sources.write.target").outputRecords.toDouble
    val ccHeads = spanTotals(_ == "llm.cc").actions("head")
    Map(
      "session.start_s" -> sessionS,
      "codegen.compile_s" -> cold.codegen._2 / 1e3,
      "codegen.classes" -> cold.codegen._1.toDouble,
      "sources.scan_bytes" -> real.inputBytes.toDouble,
      "sources.write_s" -> selfS(_.startsWith("sources.write")),
      "sources.bytes_written" -> real.outputBytes.toDouble,
      "sources.files_written" -> warm.last.files.toDouble,
      "pipeline.run_s" -> selfS(_ == "pipeline.run"),
      "pipeline.shuffle_bytes" -> spanTotals(_ == "pipeline.run").shuffleWriteBytes.toDouble,
      "pipeline.spill_bytes" -> spanTotals(_ == "pipeline.run").spillBytes.toDouble,
      "job.derivations" -> real.primaryScans.toDouble,
      "quality.dq_s" -> selfS(_ == "quality.dq"),
      "quality.split_s" -> selfS(_ == "quality.split"),
      "quality.anomaly_s" -> selfS(_ == "quality.anomaly"),
      "quality.rows_quarantined" -> note("quality.rows_quarantined"),
      "incremental.ledger_s" -> selfS(_.startsWith("incremental.ledger")),
      "incremental.merge_s" -> selfS(_ == "incremental.merge"),
      "incremental.write_amp" -> {
        val changed = note("incremental.changed_keys")
        if (changed > 0) targetWrites / changed else 0.0
      },
      "llm.text_s" -> selfS(_ == "llm.text"),
      "llm.dedup_s" -> selfS(_ == "llm.dedup"),
      "llm.cc_s" -> selfS(_ == "llm.cc"),
      // one fingerprint aggregation per star round plus the initial one
      "llm.cc_rounds" -> math.max(0, ccHeads - 1).toDouble,
      "llm.candidate_pairs" -> note("llm.candidate_pairs"),
      "llm.pair_precision" -> note("llm.pair_precision"),
      "monitoring.history_s" -> selfS(_ == "monitoring.history"),
      "spark.jobs" -> real.jobs.toDouble,
      "spark.tasks" -> real.tasks.toDouble,
      "spark.failed_tasks" -> real.failedTasks.toDouble,
      "spark.task_cpu_s" -> real.cpuNs / 1e9,
      "spark.gc_s" -> real.gcMs / 1e3,
      "spark.idle_core_s" -> median(warm.map(it => cores * it.wallS - it.totals.runMs / 1e3)),
      "trace.overhead_s" -> (median(traced.map(_.wallS)) - median(warm.map(_.wallS))),
      "trace.unattributed_share" -> median(traced.map(it =>
        1.0 - it.tracer.get.spans.map(_.wallS).sum / it.wallS)))
  }

  private def writeTrace(path: String, traced: Seq[Iter]): Unit = {
    val doc = traced.map { it =>
      val t = it.tracer.get
      Map("iteration" -> it.i, "wall_s" -> it.wallS,
        "root_self" -> totalsMap(t.rootWork),
        "spans" -> t.spans.toSeq.map(s => Map(
          "name" -> s.name, "parent" -> s.parent.getOrElse(""),
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "wall_s" -> s.wallS,
          "spark" -> totalsMap(s.totals))),
        "notes" -> t.notes.toMap)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json.render(doc))
  }

  private def totalsMap(t: Totals): Map[String, Any] = Map(
    "jobs" -> t.jobs, "tasks" -> t.tasks, "failed_tasks" -> t.failedTasks,
    "task_run_s" -> t.runMs / 1e3, "task_cpu_s" -> t.cpuNs / 1e9, "gc_s" -> t.gcMs / 1e3,
    "input_bytes" -> t.inputBytes, "shuffle_read_bytes" -> t.shuffleReadBytes,
    "shuffle_write_bytes" -> t.shuffleWriteBytes, "spill_bytes" -> t.spillBytes,
    "output_bytes" -> t.outputBytes, "output_records" -> t.outputRecords,
    "actions" -> t.actions.toMap, "primary_scans" -> t.primaryScans)

  private def emit(tag: String, m: Map[String, Any]): Unit = {
    println(s"$tag ${Json.render(m)}")
    System.out.flush()
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
