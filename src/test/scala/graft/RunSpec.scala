package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The graft.Run CLI contract (verbs, exit codes, history recording) —
  * driven through Run.execute so the whole code path short of
  * SparkSession construction and sys.exit runs in-process.
  */
class RunSpec extends SparkSpec {

  private def cli(args: String*): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val code = Run.execute(spark, args, new PrintStream(buf, true, "UTF-8"))
    (code, buf.toString("UTF-8"))
  }

  private def writeDoc(body: String): String = {
    val f = scratchDir("graft_run").resolve("doc.json")
    Files.write(f, body.getBytes("UTF-8"))
    f.toString
  }

  private val dir = TestSession.sfDir

  private def jobDoc(minScore: Double, sink: Option[String] = None): String =
    s"""{
       |  "datasets": [
       |    {"name": "ro", "format": "parquet", "path": "$dir/orders.parquet"}
       |  ],
       |  "pipeline": {"primary": "ro", "steps": [
       |    {"type": "filter", "column": "o_totalprice", "op": ">", "value": 1000},
       |    {"type": "select", "columns": ["o_orderkey", "o_orderstatus"]}
       |  ]},
       |  "quality": {"rules": [
       |    {"rule_id": "st_allowed", "type": "allowed_values",
       |     "column": "o_orderstatus", "values": ["zzz"]}
       |  ], "min_score": $minScore}
       |  ${sink.fold("")(p => s""","sink": {"path": "$p", "mode": "atomic"}""")}
       |}""".stripMargin

  test("run: job document succeeds (exit 0), gate failure exits 1, history recorded") {
    val histDir = scratchDir("graft_run_hist").toString + "/hist"
    val sink = scratchDir("graft_run_sink").toString + "/out"
    val okDoc = writeDoc(jobDoc(0.0, Some(sink)))
    val (okCode, okOut) = cli("run", okDoc, "--history", histDir, "--run-id", "r_ok")
    assert(okCode == 0, okOut)
    assert(okOut.contains("job succeeded"))
    assert(spark.read.parquet(sink).count() > 0)

    // impossible allowed-values rule + min_score 100 -> gate throws -> 1
    val badDoc = writeDoc(jobDoc(100.0))
    val (badCode, badOut) = cli("run", badDoc, "--history", histDir, "--run-id", "r_gate")
    assert(badCode == 1, badOut)
    assert(badOut.contains("run failed"))

    // both runs recorded; the gate run is marked failed
    val hist = graft.monitoring.RunHistory.load(spark, histDir)
      .filter(col("query") === "job")
    assert(hist.filter(col("run_id") === "r_ok" && !col("failed")).count() == 1)
    assert(hist.filter(col("run_id") === "r_gate" && col("failed")).count() == 1)

    // status verb sees them, newest first; --run-id scopes
    val (stCode, stOut) = cli("status", "--history", histDir)
    assert(stCode == 0)
    assert(stOut.contains("r_ok") && stOut.contains("r_gate") &&
      stOut.contains("FAILED") && stOut.contains("2 run(s)"))
    val (scopeCode, scopeOut) = cli("status", "--history", histDir, "--run-id", "r_ok")
    assert(scopeCode == 0 && scopeOut.contains("1 run(s)") && !scopeOut.contains("r_gate"))
  }

  test("run: dag document runs nodes in order; a failed node fails the run") {
    val okDag = writeDoc(
      s"""{"jobs": [
         |  {"id": "b_second", "depends_on": ["a_first"],
         |   "job": ${jobDoc(0.0)}},
         |  {"id": "a_first", "job": ${jobDoc(0.0)}}
         |]}""".stripMargin)
    val (okCode, okOut) = cli("run", okDag)
    assert(okCode == 0, okOut)
    assert(okOut.contains("dag succeeded: 2 node(s)"))
    assert(okOut.indexOf("node a_first") < okOut.indexOf("node b_second"))

    val failDag = writeDoc(
      s"""{"jobs": [
         |  {"id": "gate", "job": ${jobDoc(100.0)}},
         |  {"id": "after", "depends_on": ["gate"], "job": ${jobDoc(0.0)}}
         |]}""".stripMargin)
    val (failCode, failOut) = cli("run", failDag)
    assert(failCode == 1, failOut)
    assert(failOut.contains("gate=failed") && failOut.contains("after=skipped_upstream"))
  }

  test("run: a malformed job document or DAG node exits 2 and runs nothing") {
    val sink = scratchDir("graft_run_bad").toString
    val badJob = jobDoc(0.0, Some(s"$sink/job"))
      .replace("\"min_score\": 0.0", "\"min_score\": \"0\"")
    val (jobCode, jobOut) = cli("run", writeDoc(badJob))
    assert(jobCode == 2 && jobOut.contains("invalid document") &&
      jobOut.contains("min_score"), jobOut)
    assert(!Files.exists(java.nio.file.Paths.get(s"$sink/job")))
    // the second node's filter has no "value": the first never runs
    val badDag = writeDoc(
      s"""{"jobs": [
         |  {"id": "a_first", "job": ${jobDoc(0.0, Some(s"$sink/a"))}},
         |  {"id": "b_second", "depends_on": ["a_first"],
         |   "job": ${jobDoc(0.0).replace(", \"value\": 1000", "")}}
         |]}""".stripMargin)
    val (dagCode, dagOut) = cli("run", badDag)
    assert(dagCode == 2 && dagOut.contains("b_second") && dagOut.contains("value"),
      dagOut)
    assert(!Files.exists(java.nio.file.Paths.get(s"$sink/a")))
  }

  test("an unknown sink mode, join type or aggregate exits 2 on validate and run, before any write") {
    val tmp = scratchDir("graft_run_enum").toString
    val quarantine = s"$tmp/quarantine"
    val doc = jobDoc(0.0, Some(s"$tmp/out")).replace("\"min_score\": 0.0",
      s""""min_score": 0.0, "quarantine_dir": "$quarantine", "run_id": "r1"""")
    val select = """{"type": "select", "columns": ["o_orderkey", "o_orderstatus"]}"""
    Seq(
      "mode" -> doc.replace("\"atomic\"", "\"apend\""),
      "how" -> doc.replace(select, """{"type": "join", "right": "ro",
        | "on": ["o_orderkey"], "how": "innner"}, """.stripMargin + select),
      "fn" -> doc.replace(select, select + """, {"type": "aggregate",
        | "groupBy": ["o_orderstatus"],
        | "aggs": [{"col": "o_orderkey", "fn": "summ", "as": "n"}]}""".stripMargin))
      .foreach { case (field, bad) =>
        val path = writeDoc(bad)
        Seq("validate", "run").foreach { verb =>
          val (code, out) = cli(verb, path)
          assert(code == 2 && out.contains("invalid document") && out.contains(field),
            s"$verb, $field: $out")
        }
      }
    assert(!Files.exists(java.nio.file.Paths.get(quarantine)))
    assert(!Files.exists(java.nio.file.Paths.get(s"$tmp/out")))
  }

  test("validate: parses without running; bad documents exit 2") {
    val (okCode, okOut) = cli("validate", writeDoc(jobDoc(0.0)))
    assert(okCode == 0 && okOut.contains("valid job: 1 dataset(s), 2 step(s)"))
    val (dagCode, dagOut) = cli("validate", writeDoc(
      s"""{"jobs": [{"id": "only", "job": ${jobDoc(0.0)}}]}"""))
    assert(dagCode == 0 && dagOut.contains("valid dag: 1 node(s)"))
    // unknown top-level key -> config error, exit 2, nothing ran
    val (badCode, badOut) = cli("validate",
      writeDoc("""{"datasets": [], "pipelines": {}}"""))
    assert(badCode == 2 && badOut.contains("invalid document"))
    // a quarantine run id must name one slice: no path separator and
    // no swap-sibling suffix a whole-area read would fold away
    def quarantined(runId: String) = writeDoc(jobDoc(0.0).replace("\"min_score\": 0.0",
      s""""min_score": 0.0, "quarantine_dir": "/nonexistent/q", "run_id": "$runId""""))
    Seq("a/b", "x__old", "x__staging").foreach { id =>
      val (code, out) = cli("validate", quarantined(id))
      assert(code == 2 && out.contains("invalid document") && out.contains("run_id"),
        s"$id: $out")
    }
    assert(cli("validate", quarantined("nightly"))._1 == 0)
    // an incremental strategy the section does not run is a typo, not
    // a free-form ledger tag
    def incremental(strategy: String) = writeDoc(jobDoc(0.0).replace("\"quality\":",
      s""""incremental": {"watermark_store": "/nonexistent/wm", "pipeline_id": "p",
         | "source_id": "ro", "column": "o_orderdate", "strategy": "$strategy"},
         | "quality":""".stripMargin))
    val (typoCode, typoOut) = cli("validate", incremental("timestmap"))
    assert(typoCode == 2 && typoOut.contains("invalid document") &&
      typoOut.contains("strategy"), typoOut)
    assert(cli("validate", incremental("sequence"))._1 == 0)
    // an empty rule list checks nothing: beside quarantine_dir the run
    // would die in the quarantine split, beside min_score it skips the gate
    def noRules(rest: String) = writeDoc(jobDoc(90.0).replaceFirst(
      "(?s)\"rules\": \\[.*\\], \"min_score\": 90.0", s""""rules": [], $rest"""))
    Seq(""""quarantine_dir": "/nonexistent/q", "run_id": "nightly"""", """"min_score": 90.0""")
      .foreach { rest =>
        val (code, out) = cli("validate", noRules(rest))
        assert(code == 2 && out.contains("invalid document") && out.contains("rules"), out)
      }
    // a dag with a cycle fails validation too
    val (cycCode, cycOut) = cli("validate", writeDoc(
      s"""{"jobs": [
         |  {"id": "x", "depends_on": ["y"], "job": ${jobDoc(0.0)}},
         |  {"id": "y", "depends_on": ["x"], "job": ${jobDoc(0.0)}}
         |]}""".stripMargin))
    assert(cycCode == 2 && cycOut.contains("invalid document"))
  }

  test("maintain-index verb: bootstrap then keep, numeric-flag and arity errors exit 2") {
    import spark.implicits._
    val corpusDir = scratchDir("graft_run_midx").toString
    val corpus = s"$corpusDir/embeddings"
    val idxDir = s"$corpusDir/idx"
    (0 until 200).map { i =>
      val v = Array.fill(8)(0f); v(i % 4) = 1f; v(4 + i % 3) = 0.05f
      (i.toLong, v)
    }.toDF("vec_id", "embedding").write.parquet(corpus)
    // first turn bootstraps and publishes the artifact
    val (c1, o1) = cli("maintain-index", corpus, "vec_id", "embedding", idxDir)
    assert(c1 == 0 && o1.contains("maintain-index: bootstrapped"), o1)
    assert(graft.llm.Ivf.indexVersions(spark, idxDir) == Seq(1L))
    // second turn on the same corpus keeps it (kept IS exit 0)
    val (c2, o2) = cli("maintain-index", corpus, "vec_id", "embedding", idxDir,
      "--min-mean", "0.9", "--max-dead-frac", "1.1", "--max-below-frac", "1.1")
    assert(c2 == 0 && o2.contains("maintain-index: kept"), o2)
    // flag value must be numeric; wrong arity is a usage error
    val (c3, o3) = cli("maintain-index", corpus, "vec_id", "embedding", idxDir,
      "--min-mean", "high")
    assert(c3 == 2 && o3.contains("numeric"), o3)
    val (c4, _) = cli("maintain-index", corpus, "vec_id")
    assert(c4 == 2)
    // execution failure (no such corpus) exits 1
    val (c5, o5) = cli("maintain-index", s"$corpusDir/nope", "vec_id",
      "embedding", idxDir)
    assert(c5 == 1 && o5.contains("maintain-index failed"), o5)
    // --history-roots (r19): a bootstrap-from-scratch re-assigns and
    // version-stamps every declared semantic-history root before the
    // verb returns — the cron-schedulable face of the version handshake
    val idxDir2 = s"$corpusDir/idx2"
    val histRoot = s"$corpusDir/hist"
    graft.Recovery.idempotentWrite(
      spark.read.parquet(corpus).limit(5)
        .withColumn("__cid", org.apache.spark.sql.functions.lit(99)),
      s"$histRoot/batch_id=-1")
    val (c6, o6) = cli("maintain-index", corpus, "vec_id", "embedding",
      idxDir2, "--history-roots", s"$histRoot,$corpusDir/absent_root")
    assert(c6 == 0 && o6.contains("maintain-index: bootstrapped"), o6)
    val stamped = spark.read.option("basePath", histRoot).parquet(histRoot)
    assert(stamped.columns.contains("__iv"))
    assert(stamped.select("__iv").distinct().as[Long].collect().toSeq ==
      Seq(graft.llm.Ivf.liveIndexVersion(spark, idxDir2)))
    // the old placeholder cells were re-assigned under the new index
    assert(stamped.filter(org.apache.spark.sql.functions.col("__cid") === 99)
      .count() == 0L)
  }

  test("usage and argument errors exit 2 without touching Spark") {
    assert(cli()._1 == 2)
    assert(cli("frobnicate")._1 == 2)
    assert(cli("run")._1 == 2)
    assert(cli("run", "/no/such/file.json")._1 == 2)
    val (flagCode, flagOut) = cli("run", writeDoc(jobDoc(0.0)), "--histroy", "/tmp/x")
    assert(flagCode == 2 && flagOut.contains("unknown flag: --histroy"))
    assert(cli("status")._1 == 2)
    assert(cli("status", "--history", "/no/such/dir")._1 == 2)
  }
}
