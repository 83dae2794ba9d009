package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.{Dag, Job}

/** Every cache the engine pins belongs to the innermost pin scope open
  * on its thread: a job run's scope (owned by its Result), a stream
  * micro-batch's scope, else the session. Each leak spec asserts that
  * the persistent RDDs and the CacheManager end as they started.
  */
class PinScopeSpec extends SparkSpec {
  import spark.implicits._

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `body` from a released session and assert it leaves no
    * persistent RDD and no cache entry behind. */
  private def leaksNothing(what: String)(body: => Unit): Unit = {
    GraftSession.releaseAll(spark)
    val before = persistentRdds
    body
    assert((persistentRdds -- before).isEmpty, s"$what left persistent RDDs")
    assert(cacheManager.isEmpty, s"$what left cache entries")
  }

  private val families = Seq(
    "exact" -> "",
    "minhash" -> """, "ngram_n": 3""")

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "completely fresh crawl content about spark engines",
    "another novel document with its own distinct words",
    "a fourth text that nobody has seen before today",
    "and the fifth one closes the set of documents")

  // a history root holding the first text's signatures as its seed
  private def seedHistory(family: String, knobs: String, root: String): Unit = {
    val seed = Seq((100L, texts.head)).toDF("doc_id", "text")
    val screen = graft.pipeline.PipelineJson.parse(
      s"""{"primary": "d", "steps": [{"type": "screen", "family": "$family",
         | "history": "$root", "id": "doc_id", "column": "text"$knobs}]}""".stripMargin)
      .steps.head.asInstanceOf[graft.pipeline.Pipeline.Screen]
    val (signatures, _) = graft.pipeline.Pipeline.screenFns(spark, screen)
    Recovery.idempotentWrite(signatures(seed), s"$root/batch_id=-1")
  }

  private def screenDoc(base: String, family: String, knobs: String,
                        minScore: Option[Double] = None): String = {
    val in = s"$base/in"
    if (!Files.exists(java.nio.file.Paths.get(in)))
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .write.parquet(in)
    seedHistory(family, knobs, s"$base/hist")
    val quality = minScore.fold("")(m =>
      s""", "quality": {"rules": [{"rule_id": "never", "type": "allowed_values",
         | "column": "text", "values": ["zzz"]}], "min_score": $m}""".stripMargin)
    s"""{"datasets": [{"name": "docs", "format": "parquet", "path": "$in"}],
       | "pipeline": {"primary": "docs", "steps": [
       |   {"type": "screen", "family": "$family", "history": "$base/hist",
       |    "id": "doc_id", "column": "text"$knobs}]}$quality}""".stripMargin
  }

  test("pin: the innermost scope owns a pin, a cached plan is read not owned, close runs once") {
    GraftSession.releaseAll(spark)
    val a = spark.range(0, 100).toDF("v").filter(col("v") > 1)
    val b = spark.range(0, 100).toDF("v").filter(col("v") > 2)
    val outer = new GraftSession.PinScope
    val inner = new GraftSession.PinScope
    outer.within {
      GraftSession.pin(a)
      inner.within(GraftSession.pin(b))
      // already cached: read, not owned by the inner scope
      inner.within(GraftSession.pin(a))
    }
    inner.close()
    assert(b.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(a.storageLevel.useMemory, "the inner scope must not release the outer scope's pin")
    outer.close()
    assert(cacheManager.isEmpty)
    // a second close does nothing, even to a cache taken since
    a.persist()
    outer.close()
    assert(a.storageLevel.useMemory)
    // with no scope open the pin belongs to the session
    GraftSession.pin(b)
    assert(b.storageLevel.useMemory)
    GraftSession.releaseAll(spark)
    assert(cacheManager.isEmpty)
  }

  test("Job.Result.close releases a screen step's operator pins") {
    for ((family, knobs) <- families) {
      val base = scratchDir(s"graft_pin_$family").toString
      val doc = screenDoc(base, family, knobs)
      leaksNothing(s"a closed $family screen job") {
        val res = Job.runJson(spark, doc)
        try assert(res.output.count() == texts.size - 1) finally res.close()
      }
    }
  }

  test("a two-node Dag of screen-step documents releases every node's pins") {
    for ((family, knobs) <- families) {
      val base = scratchDir(s"graft_pindag_$family").toString
      val dag =
        s"""{"jobs": [
           | {"id": "a", "job": ${screenDoc(s"$base/a", family, knobs)}},
           | {"id": "b", "depends_on": ["a"], "job": ${screenDoc(s"$base/b", family, knobs)}}
           |]}""".stripMargin
      leaksNothing(s"a $family screen Dag") {
        assert(Dag.runJson(spark, dag).forall(_.status == "succeeded"))
      }
    }
  }

  test("a gated run releases its operator pins before the exception escapes") {
    for ((family, knobs) <- families) {
      val base = scratchDir(s"graft_pingate_$family").toString
      val doc = screenDoc(base, family, knobs, minScore = Some(101.0))
      leaksNothing(s"a gated $family screen job") {
        intercept[graft.quality.DQ.QualityGateException](Job.runJson(spark, doc))
      }
    }
  }

  test("the ingest stream releases each micro-batch's pins: the count does not grow") {
    for ((family, knobs) <- families) {
      val base = scratchDir(s"graft_pinstream_$family").toString
      val in = s"$base/in"
      seedHistory(family, knobs, s"$base/hist")
      // the first batch's file is on disk before the stream starts
      Seq((0L, texts.head)).toDF("doc_id", "text").write.parquet(in)
      val doc =
        s"""{"datasets": [{"name": "docs", "format": "parquet", "path": "$in"}],
           | "pipeline": {"primary": "docs", "steps": []},
           | "ingest": {"family": "$family", "history": "$base/hist",
           |            "id": "doc_id", "column": "text"$knobs},
           | "sink": {"format": "parquet", "path": "$base/sink"}}""".stripMargin
      GraftSession.releaseAll(spark)
      val before = persistentRdds
      val q = Job.runStreamJson(spark, doc, s"$base/ckpt")
      val held = try {
        (1 to 5).map { i =>
          if (i > 1)
            Seq((i.toLong, texts(i - 1))).toDF("doc_id", "text")
              .write.mode("append").parquet(in)
          q.processAllAvailable()
          (persistentRdds -- before).size
        }
      } finally q.stop()
      assert(Recovery.slices(spark, s"$base/sink", "batch_id")().size == 5,
        s"$family: one micro-batch per file")
      assert(held == Seq.fill(5)(0), s"$family: persistent RDDs held after each batch")
      assert(cacheManager.isEmpty, s"$family: cache entries left by the stream")
    }
  }
}
