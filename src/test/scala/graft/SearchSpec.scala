package graft

import org.apache.spark.sql.functions._
import graft.llm.{Sampling, Search}

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog barked at the cat"),
    (3L, "quantum flux capacitors need plutonium"),
    (4L, "")
  ).toDF("id", "text")

  test("tfidf ranks a document's distinctive terms above common ones") {
    val top = Search.tfidfTopTerms(corpus, "id", "text", k = 2)
    // 'the' appears in docs 1 and 2 (df=2, and high tf) but every term of
    // doc 3 is unique to it — its top terms must all have df=1
    val d3 = top.filter($"id" === 3L).collect()
    assert(d3.nonEmpty && d3.forall(_.getAs[Long]("df") == 1L))
    // 'the' (df=2 of 4 docs) scores below doc-unique terms in doc 1
    val d1 = top.filter($"id" === 1L && $"term" === "the").collect()
    assert(d1.isEmpty, "common term must not be a top tfidf term")
    // empty doc has no terms and no rows
    assert(top.filter($"id" === 4L).isEmpty)
  }

  test("bm25 ranks the doc with more query-term mass first; misses absent") {
    val hits = Search.bm25Search(corpus, "id", "text", Seq("cat", "dog"), k = 10)
      .orderBy($"rnk").collect()
    // doc 2 contains both terms, doc 1 only 'cat'; docs 3/4 match nothing
    assert(hits.map(_.getAs[Long]("id")).toSeq == Seq(2L, 1L))
    assert(hits.head.getAs[Long]("n_hits") == 2L)
    assert(hits.forall(_.getAs[Double]("score") > 0.0))
  }

  test("vocab stats count occurrences and doc frequency") {
    val v = Search.vocabTop(corpus, "id", "text", k = 3).collect()
    // 'the' is the most frequent token: 4 occurrences across 2 docs
    assert(v.head.getAs[String]("term") == "the")
    assert(v.head.getAs[Long]("cnt") == 4L)
    assert(v.head.getAs[Long]("df") == 2L)
  }

  test("chunking covers every character, respects overlap, keeps empty docs") {
    val text = "abcdefghij" * 25 // 250 chars
    val df = Seq((1L, text), (2L, "")).toDF("id", "text")
    val chunks = Search.chunkDocs(df, "id", "text", size = 100, overlap = 20)
    val c1 = chunks.filter($"id" === 1L).orderBy($"chunk_idx").collect()
    // starts at 1, 81, 161, 241 (stride 80)
    assert(c1.map(_.getAs[Long]("chunk_start")).toSeq == Seq(1L, 81L, 161L, 241L))
    // the last two chunks run off the end: 250 - 160 = 90, 250 - 240 = 10
    assert(c1.map(_.getAs[Long]("chunk_len")).toSeq == Seq(100L, 100L, 90L, 10L))
    // consecutive chunks overlap by exactly 20 chars
    val first = c1(0).getAs[String]("chunk")
    val second = c1(1).getAs[String]("chunk")
    assert(first.takeRight(20) == second.take(20))
    // reassembling strides reproduces the document
    assert(c1.map(_.getAs[String]("chunk").take(80)).mkString.take(250) == text)
    // empty doc yields one empty chunk, not zero rows
    val c2 = chunks.filter($"id" === 2L).collect()
    assert(c2.length == 1 && c2.head.getAs[Long]("chunk_len") == 0L)
  }

  test("ngram frequencies count sliding windows; short docs yield none") {
    val df = Seq(
      (1L, "a b c a b"),  // bigrams: "a b" x2, "b c", "c a"
      (2L, "a b"),        // bigram: "a b"
      (3L, "solo")        // no bigram
    ).toDF("id", "text")
    val top = Search.ngramTop(df, "id", "text", n = 2, k = 10).collect()
    assert(top.head.getAs[String]("ngram") == "a b")
    assert(top.head.getAs[Long]("cnt") == 3L)
    assert(top.head.getAs[Long]("df") == 2L)
    assert(!top.exists(_.getAs[String]("ngram").contains("solo")))
    // trigrams of a 2-token doc: none; of doc 1: 3 windows
    val tri = Search.ngramTop(df, "id", "text", n = 3, k = 10).collect()
    assert(tri.map(_.getAs[Long]("cnt")).sum == 3L)
  }

  test("dupSpanStats flags shared exact passages at any alignment") {
    val license = "x" * 7 + "THIS IS A SHARED LICENSE BLOCK OF TEXT REPEATED VERBATIM"
    val df = Seq(
      (1L, "unique prose about cats and philosophy, nothing shared at all here"),
      (2L, license),
      (3L, "some prefix then " + license) // same passage, different offset? windows differ
    ).toDF("id", "text")
    val got = graft.llm.Dedup
      .dupSpanStats(df, "id", "text", windowLen = 8, stride = 1)
      .orderBy("id").collect()
    // doc 1 shares nothing beyond chance 8-grams with 2/3
    assert(got(0).getAs[Double]("dup_frac") < 0.2)
    // docs 2 and 3 share a long verbatim passage: with stride 1 every
    // window inside the license body matches across the two docs
    assert(got(1).getAs[Double]("dup_frac") > 0.5)
    assert(got(2).getAs[Long]("n_dup") > 40L)
  }

  test("kmeans clustering partitions the corpus deterministically") {
    val e = table("embeddings")
    val n = e.count()
    val idx = graft.llm.Ivf.buildIndex(e, "vec_id", "embedding", nlist = 4, iters = 2)
    // partition law: every vector lands in exactly one cluster
    assert(idx.count() == n)
    assert(idx.select("vec_id").distinct().count() == n)
    val k = idx.select("__cid").distinct().count()
    assert(k >= 1 && k <= 4)
    // same assignment regardless of physical layout
    val again = graft.llm.Ivf.buildIndex(e.repartition(7), "vec_id", "embedding",
      nlist = 4, iters = 2)
    val a = idx.select("vec_id", "__cid").orderBy("vec_id").collect().toSeq
    val b = again.select("vec_id", "__cid").orderBy("vec_id").collect().toSeq
    assert(a == b)
  }

  test("native hyperplane bits match the HOF projection bit-for-bit") {
    import graft.llm.Similarity
    val edge = spark.sql(
      """SELECT * FROM VALUES
        |  (9000001L, array(CAST(1.5 AS FLOAT), CAST(NULL AS FLOAT), CAST(-2.0 AS FLOAT))),
        |  (9000002L, CAST(array() AS ARRAY<FLOAT>)),
        |  (9000003L, CAST(NULL AS ARRAY<FLOAT>)),
        |  (9000004L, array(CAST(0.0 AS FLOAT)))
        |AS t(vec_id, embedding)""".stripMargin)
    val corpus = table("embeddings").select(col("vec_id"), col("embedding"))
      .unionAll(edge)
    for (planes <- Seq(1, 5, 9); offset <- Seq(0, 7)) {
      val r = corpus.select(
          Similarity.hyperplaneBucketSlice(col("embedding"), planes, offset).as("nat"),
          Similarity.hyperplaneBucketSliceHof(col("embedding"), planes, offset).as("hof"))
        .as[(Long, Long)].collect()
      assert(r.nonEmpty && r.forall { case (n, h) => n == h },
        s"planes=$planes offset=$offset: ${r.find { case (n, h) => n != h }}")
    }
  }

  test("topKAuto equals the explicit IVF formulation and beats-or-ties auto LSH recall") {
    import graft.llm.{Ivf, Similarity}
    val e = table("embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    // small-corpus regime: the router returns exact brute force
    val auto = Similarity.topKAuto(e, q, "vec_id", "qid", "embedding", k = 5)
      .orderBy("query_id", "rnk").collect().toSeq
    val flat = Similarity.bruteForceTopKPartitioned(e, q, "vec_id", "qid",
        "embedding", k = 5)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(auto.nonEmpty && auto == flat)
    // large-corpus regime (forced): the router IS the explicit IVF
    // formulation at nprobe=8
    val routed = Similarity.topKAuto(e, q, "vec_id", "qid", "embedding",
        k = 5, exactThreshold = 0L)
      .orderBy("query_id", "rnk").collect().toSeq
    val index = Ivf.buildIndexSampled(e, "vec_id", "embedding",
      Ivf.nlistFor(e.count())).persist()
    index.count()
    val manual = Ivf.topK(index, q, "vec_id", "qid", "embedding", k = 5,
        nprobe = 8, cellCentroids = Some(Ivf.centroids(index, "embedding")))
      .orderBy("query_id", "rnk").collect().toSeq
    assert(routed.nonEmpty && routed == manual)
    // the routing claim itself: on real embeddings the default surface
    // may not lose to the LSH surface it replaced
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "qid", "embedding", k = 5)
    def avgRecall(approx: org.apache.spark.sql.DataFrame) =
      Similarity.recallAtK(approx, exact)
        .agg(org.apache.spark.sql.functions.avg("recall")).head().getDouble(0)
    val autoR = avgRecall(
      Similarity.topKAuto(e, q, "vec_id", "qid", "embedding", k = 5))
    val lshR = avgRecall(
      Similarity.lshTopKAuto(e, q, "vec_id", "qid", "embedding", k = 5))
    assert(autoR >= lshR - 1e-9, s"auto surface lost recall: $autoR < $lshR")
    GraftSession.releaseAll(spark)
  }

  test("trained-quantizer lifecycle: train/save/load/probe row-identical; memo serves repeats") {
    import graft.llm.{Ivf, Similarity}
    Ivf.clearIndexCache()
    val e = table("embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    // 1. decomposed train→assign reproduces the fused build's cells
    //    bit-for-bit (same sampled Lloyd, same kernel assignment)
    val n = e.count()
    val nlist = Ivf.nlistFor(n)
    val cents = Ivf.trainIndex(e, "vec_id", "embedding", nlist, iters = 2)
    val assigned = Ivf.assignToCentroids(e, "embedding", cents,
        "__cid", "__cvec")
      .select(col("vec_id"), col("__cid").cast("long"))
      .orderBy("vec_id").collect().toSeq
    val fused = Ivf.buildIndexSampled(e, "vec_id", "embedding", nlist, iters = 2)
      .select(col("vec_id"), col("__cid").cast("long"))
      .orderBy("vec_id").collect().toSeq
    assert(assigned.nonEmpty && assigned == fused)
    // 2. saveIndex → loadIndex → probe == direct probe (the FAISS
    //    write_index/read_index contract)
    val dir = scratchDir("graft_ann").toString + "/idx"
    Ivf.saveIndex(cents, dir)
    val loaded = Ivf.loadIndex(spark, dir)
    val direct = Ivf.topKIndexed(e, q, "vec_id", "qid", "embedding",
        cents, k = 5, nprobe = 4)
      .orderBy("query_id", "rnk").collect().toSeq
    val viaDisk = Ivf.topKIndexed(e, q, "vec_id", "qid", "embedding",
        loaded, k = 5, nprobe = 4)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(direct.nonEmpty && direct == viaDisk)
    // 3. the catalog face: format "ann_index" resolves the artifact
    val spec = graft.Catalog.parseJson(
      s"""{"datasets":[{"name":"idx","format":"ann_index","path":"$dir"}]}""").head
    val viaCatalog = graft.Catalog.load(spark, spec)
      .orderBy("__cid").collect().toSeq
    assert(viaCatalog == loaded.orderBy("__cid").collect().toSeq)
    // ...and a random directory cannot masquerade as an index
    val notIdx = scratchDir("graft_notidx").toString
    intercept[IllegalArgumentException] { Ivf.loadIndex(spark, notIdx) }
    // 4. the memo: a key hit serves count + centroids without
    //    retraining, identical to the uncached trainIndex result
    Ivf.clearIndexCache()
    val (n1, c1) = Ivf.trainAutoCached(e, "vec_id", "embedding",
      iters = 2, cacheKey = "spec-ann")
    val (n2, c2) = Ivf.trainAutoCached(e, "vec_id", "embedding",
      iters = 2, cacheKey = "spec-ann")
    assert(n1 == n && n2 == n)
    val r0 = cents.orderBy("__cid").collect().toSeq
    assert(c1.orderBy("__cid").collect().toSeq == r0)
    assert(c2.orderBy("__cid").collect().toSeq == r0)
    // 5. keyed topKAuto probes with the trained quantizer — identical
    //    to the explicit topKIndexed composition
    val viaAuto = Similarity.topKAuto(e, q, "vec_id", "qid", "embedding",
        k = 5, nprobe = 4, exactThreshold = 0L, indexKey = Some("spec-ann"))
      .orderBy("query_id", "rnk").collect().toSeq
    assert(viaAuto == direct)
    Ivf.clearIndexCache()
    GraftSession.releaseAll(spark)
  }

  test("saveIndex publishes atomically: versioned payloads, predecessor retained, torn windows heal") {
    import graft.llm.Ivf
    val e = table("embeddings")
    def centsOf(k: Int) = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("__cid"),
        col("embedding").as("__cvec"))
    val dir = scratchDir("graft_ann_atomic")
      .toString + "/idx"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Ivf.saveIndex(centsOf(3), dir) // v1
    val preSaveReader = Ivf.loadIndex(spark, dir)
    Ivf.saveIndex(centsOf(5), dir) // v2: v1 RETAINED for in-flight readers
    assert(Ivf.indexVersions(spark, dir) == Seq(1L, 2L))
    // the reader that resolved v1 before the publish still scans a
    // complete payload; a fresh load resolves v2
    assert(preSaveReader.count() == 3L)
    assert(Ivf.loadIndex(spark, dir).count() == 5L)
    Ivf.saveIndex(centsOf(4), dir) // v3: v1 swept, v2 retained
    assert(Ivf.indexVersions(spark, dir) == Seq(2L, 3L))
    assert(Ivf.loadIndex(spark, dir).count() == 4L)
    val desc = new org.apache.hadoop.fs.Path(dir, "ivf_index.json")
    val staging = new org.apache.hadoop.fs.Path(dir, ".ivf_index.json__staging")
    val retiree = new org.apache.hadoop.fs.Path(dir, ".ivf_index.json__old")
    // torn window A: crash between retire and promote — descriptor at
    // __old only; loadIndex heals and reads, and the catalog face
    // resolves the healed layout
    assert(fs.rename(desc, retiree))
    assert(Ivf.loadIndex(spark, dir).count() == 4L)
    assert(fs.exists(desc) && !fs.exists(retiree))
    val viaCatalog = graft.Catalog.load(spark, graft.Catalog.parseJson(
      s"""{"datasets":[{"name":"idx","format":"ann_index","path":"$dir"}]}""").head)
    assert(viaCatalog.count() == 4L)
    // torn window B: staged new descriptor, crash before retire —
    // prefer the staged (fully written) state
    assert(fs.rename(desc, staging))
    assert(Ivf.loadIndex(spark, dir).count() == 4L)
    assert(fs.exists(desc) && !fs.exists(staging))
    // torn window C: PARTIAL staging (no terminating newline — the
    // writer died mid-write) must fall back to the retiree
    assert(fs.rename(desc, retiree))
    val out = fs.create(staging, true)
    try out.write("""{"format":"graft-ivf-index","vers""".getBytes("UTF-8"))
    finally out.close()
    assert(Ivf.loadIndex(spark, dir).count() == 4L)
    fs.delete(staging, false)
  }

  test("maintainIndex: bootstrap, keep on healthy corpus, retrain + republish on planted drift") {
    import graft.llm.Ivf
    // four tight axis clusters; the drifted epoch rotates each cluster
    // 45° toward its neighbour axis, so every winning cosine against
    // the OLD centroids falls to ~0.71 — a clean mean-decay plant.
    // Dead-cell / below-floor triggers are disabled (thresholds > 1):
    // the sqrt-rule nlist over 4-cluster data legitimately leaves
    // empty cells, and this test isolates the mean trigger.
    def clusters(rot: Boolean) = (0 until 400).map { i =>
      val c = i % 4
      val v = Array.fill(8)(0f)
      if (rot) { v(c) = 0.7071f; v((c + 1) % 4) = 0.7071f }
      else v(c) = 1f
      v(4 + (i % 3)) = 0.03f + 0.002f * (i % 7) // small off-axis jitter
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val epoch0 = clusters(rot = false)
    val drifted = clusters(rot = true)
    val dir = scratchDir("graft_ann_maintain")
      .toString + "/idx"
    def maintain(corpus: org.apache.spark.sql.DataFrame) =
      Ivf.maintainIndex(corpus, "vec_id", "embedding", dir,
        minWorstCellMean = 0.9, maxDeadFrac = 1.1, maxBelowFrac = 1.1)
    // bootstrap: no descriptor yet → train + atomic publish
    val (a1, r1) = maintain(epoch0)
    assert(a1 == "bootstrapped" && r1.getAs[Long]("n_rows") == 400L)
    assert(Ivf.indexVersions(spark, dir) == Seq(1L))
    // healthy: the corpus the quantizer was trained on → kept, the
    // artifact untouched
    val (a2, r2) = maintain(epoch0)
    assert(a2 == "kept" && !r2.getAs[Boolean]("retrain"))
    assert(Ivf.indexVersions(spark, dir) == Seq(1L))
    // the drifted epoch trips the mean floor and the retrain
    // republishes a NEW payload version through the atomic commit
    val (a3, r3) = maintain(drifted)
    assert(a3 == "retrained" && r3.getAs[Boolean]("mean_decayed"))
    assert(Ivf.indexVersions(spark, dir) == Seq(1L, 2L))
    // the retrained quantizer scores the drifted corpus healthy
    val (a4, r4) = maintain(drifted)
    assert(a4 == "kept" && !r4.getAs[Boolean]("retrain"))
    assert(Ivf.indexVersions(spark, dir) == Seq(1L, 2L))
  }

  test("maintainIndex + semanticHistoryRoots: a retrain re-assigns and re-stamps sliced history; kept leaves it alone") {
    import graft.llm.{Dedup, Ivf}
    import spark.implicits._
    val base = scratchDir("graft_maintain_hist").toString
    val idxDir = s"$base/idx"
    val root = s"$base/history"
    // same planted-drift fixture as the maintainIndex test above
    def clusters(rot: Boolean) = (0 until 400).map { i =>
      val c = i % 4
      val v = Array.fill(8)(0f)
      if (rot) { v(c) = 0.7071f; v((c + 1) % 4) = 0.7071f }
      else v(c) = 1f
      v(4 + (i % 3)) = 0.03f + 0.002f * (i % 7)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    def maintain(corpus: org.apache.spark.sql.DataFrame) =
      Ivf.maintainIndex(corpus, "vec_id", "embedding", idxDir,
        minWorstCellMean = 0.9, maxDeadFrac = 1.1, maxBelowFrac = 1.1,
        semanticHistoryRoots = Seq(root))
    val epoch0 = clusters(rot = false)
    val drifted = clusters(rot = true)
    // bootstrap BEFORE any history exists: the missing root is a no-op
    assert(maintain(epoch0)._1 == "bootstrapped")
    val (cents1, v1) = Ivf.loadIndexVersioned(spark, idxDir)
    assert(v1 == 1L)
    // a streaming-layout history root: seed slice + one batch slice,
    // stamped under v1
    val seed = epoch0.filter(col("vec_id") < 10)
    val slice0 = drifted.filter(col("vec_id") >= 390)
    graft.Recovery.idempotentWrite(
      Dedup.semanticHistorySignatures(seed, "vec_id", "embedding",
        cents1, indexVersion = Some(v1)), s"$root/batch_id=-1")
    graft.Recovery.idempotentWrite(
      Dedup.semanticHistorySignatures(slice0, "vec_id", "embedding",
        cents1, indexVersion = Some(v1)), s"$root/batch_id=0")
    // kept turn: artifact and history untouched
    assert(maintain(epoch0)._1 == "kept")
    val before = spark.read.option("basePath", root).parquet(root)
    assert(before.select("__iv").distinct().as[Long].collect().toSeq
      == Seq(1L))
    // drift trips → retrain → BOTH slices re-assigned + re-stamped v2,
    // slice structure preserved
    assert(maintain(drifted)._1 == "retrained")
    val (cents2, v2) = Ivf.loadIndexVersioned(spark, idxDir)
    assert(v2 == 2L)
    val after = spark.read.option("basePath", root).parquet(root)
    assert(after.select("__iv").distinct().as[Long].collect().toSeq
      == Seq(2L))
    assert(after.select("batch_id").distinct().as[Long].collect().sorted
      .toSeq == Seq(-1L, 0L))
    // re-assigned cells equal a from-scratch assignment under v2, per
    // slice and per row
    val scratch = Dedup.semanticHistorySignatures(
      seed.unionAll(slice0), "vec_id", "embedding", cents2,
      indexVersion = Some(v2))
    assert(after.orderBy("vec_id").select("vec_id", "__cid", "__iv")
      .collect().toSeq ==
      scratch.orderBy("vec_id").select("vec_id", "__cid", "__iv")
        .collect().toSeq)
    // the version-checked screen is green again over the healed history
    val batch = drifted.filter(col("vec_id") === 395L)
      .withColumn("vec_id", col("vec_id") + 9000L)
    val survivors = Dedup.semanticAgainstHistory(batch, after, cents2,
      "vec_id", "embedding", threshold = 0.99, indexVersion = Some(v2))
    assert(survivors.count() == 0L) // exact dup of slice0's row 395
  }

  test("driftReport on an empty corpus decides keep with non-null booleans") {
    import graft.llm.Ivf
    import spark.implicits._
    val cents = Seq((0, Array(1f, 0f)), (1, Array(0f, 1f)))
      .toDF("__cid", "__cvec")
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // every cell is dead and every similarity aggregate is null — the
    // decision booleans must still be false, never null (a null here
    // used to unbox to false SILENTLY in maintainIndex's Row accessor)
    val r = Ivf.driftReport(
      Ivf.quantizerDrift(empty, "vec_id", "embedding", cents),
      minWorstCellMean = 0.9, maxDeadFrac = 1.1, maxBelowFrac = 1.1).head()
    for (c <- Seq("dead_exceeded", "below_exceeded", "mean_decayed", "retrain")) {
      assert(!r.isNullAt(r.fieldIndex(c)), s"$c must not be null")
      assert(!r.getAs[Boolean](c), s"$c must be false")
    }
  }

  test("driver-path centroid assignment equals the broadcast-join formulation") {
    import graft.llm.Ivf
    val e = table("embeddings")
    val cents = e.filter(col("vec_id") < 6)
      .select(col("vec_id").cast("int").as("cid"), col("embedding"))
    // integral cid rides the map-side broadcast-argmax; a double cid
    // routes to the legacy broadcast-join + max_by form — the two must
    // agree row for row (same dot accumulation, same 6-dp rounding,
    // same lowest-cid tie-break)
    val fast = Ivf.assignToCentroids(e, "embedding",
        cents, "cid", "embedding")
      .select(col("vec_id"), col("__cid").cast("long"))
      .orderBy("vec_id").collect().toSeq
    val slow = Ivf.assignToCentroids(e, "embedding",
        cents.withColumn("cid", col("cid").cast("double")), "cid", "embedding")
      .select(col("vec_id"), col("__cid").cast("long"))
      .orderBy("vec_id").collect().toSeq
    assert(fast.nonEmpty && fast == slow)
  }

  test("centroids: fused per-dimension means match the explode formulation") {
    import graft.llm.Ivf
    val e = table("embeddings")
    val idx = Ivf.buildIndex(e, "vec_id", "embedding", nlist = 4, iters = 2).persist()
    val got = Ivf.centroids(idx, "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    val exp = idx
      .select(col("__cid"), posexplode(col("embedding")).as(Seq("__pos", "__v")))
      .groupBy(col("__cid"), col("__pos"))
      .agg(avg(col("__v").cast("double")).cast("float").as("__m"))
      .collect().groupBy(_.getInt(0))
      .map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1)).map(_.getFloat(2)).toSeq }
    assert(got.keySet == exp.keySet && got.nonEmpty)
    for (cid <- got.keySet; (a, b) <- got(cid).zip(exp(cid)))
      assert(math.abs(a - b) <= 1e-6f * math.max(1.0f, math.abs(b)),
        s"cell $cid centroid drifted: $a vs $b")
    idx.unpersist()
  }

  test("adaptive sizing: planesFor/nlistFor hold occupancy stable as corpora grow") {
    import graft.llm.{Ivf, Similarity}
    // hyperplane planes: log2 growth keeps expected bucket occupancy
    // ~constant (the linear-cost shape; see PLANS.md r12 sf1 gate)
    assert(Similarity.planesFor(500, 512) == 0)   // fits one bucket: exact
    assert(Similarity.planesFor(5120, 512) == 4)
    assert(Similarity.planesFor(51200, 512) == 7)
    assert(Similarity.planesFor(512L << 20, 512) == 20)
    // Lof delegates to the same formula
    assert(graft.quality.Lof.planesFor(5120, 512) == 4)
    // IVF cells: sqrt rule, floored
    assert(Ivf.nlistFor(100) == 16)          // floor dominates small corpora
    assert(Ivf.nlistFor(1000000) == 1000)
    assert(Ivf.nlistFor(100000000) == 10000)
    assert(Ivf.nlistFor(0) == 16)

    // the sampled build at the sqrt-rule cell count degenerates to the
    // exact build on a small corpus; the auto LSH entry point equals
    // its explicit-parameter form
    val e = table("embeddings")
    val n = e.count()
    val auto = Ivf.buildIndexSampled(e, "vec_id", "embedding", Ivf.nlistFor(n), iters = 2)
      .select("vec_id", "__cid").orderBy("vec_id").collect().toSeq
    val manual = Ivf.buildIndex(e, "vec_id", "embedding",
      nlist = Ivf.nlistFor(n), iters = 2)
      .select("vec_id", "__cid").orderBy("vec_id").collect().toSeq
    assert(auto == manual)
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val autoTop = Similarity.lshTopKAuto(e, q, "vec_id", "qid", "embedding", k = 3)
      .orderBy("query_id", "rnk").collect().toSeq
    val manualTop = Similarity.lshTopK(e, q, "vec_id", "qid", "embedding",
      k = 3, planes = Similarity.planesFor(n), multiProbe = true)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(autoTop == manualTop && autoTop.nonEmpty)
    // multi-probe only ever ADDS candidates: single-probe hits stay a
    // subset, and the Hamming-1 fan-out must not duplicate any pair
    val single = Similarity.lshTopK(e, q, "vec_id", "qid", "embedding",
      k = 3, planes = Similarity.planesFor(n))
    val multi = Similarity.lshTopK(e, q, "vec_id", "qid", "embedding",
      k = 3, planes = Similarity.planesFor(n), multiProbe = true)
    assert(multi.select("query_id", "neighbor_id").distinct().count() ==
      multi.select("query_id", "neighbor_id").count())
    val sRecall = Similarity.recallAtK(single,
      Similarity.bruteForceTopK(e, q, "vec_id", "qid", "embedding", k = 3))
      .agg(org.apache.spark.sql.functions.avg("recall")).head().getDouble(0)
    val mRecall = Similarity.recallAtK(multi,
      Similarity.bruteForceTopK(e, q, "vec_id", "qid", "embedding", k = 3))
      .agg(org.apache.spark.sql.functions.avg("recall")).head().getDouble(0)
    assert(mRecall >= sRecall, s"multi-probe lost recall: $mRecall < $sRecall")
  }

  test("recallAtK: identical sides score 1.0, planted partial overlap counts exactly, missing query scores 0") {
    import spark.implicits._
    import graft.llm.Similarity
    val exact = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L),
      (3L, 30L)).toDF("query_id", "neighbor_id")
    // q1 finds 2 of 3, q2 finds both (plus a non-exact extra that must
    // NOT count), q3 finds nothing (absent from the approx side)
    val approx = Seq(
      (1L, 10L), (1L, 12L), (1L, 99L),
      (2L, 21L), (2L, 20L), (2L, 98L)).toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(approx, exact)
      .orderBy("query_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r == Seq((1L, 2L, 3L, 0.666667), (2L, 2L, 2L, 1.0), (3L, 0L, 1L, 0.0)))
    // identical frames: recall exactly 1.0 everywhere
    val same = Similarity.recallAtK(exact, exact)
      .select("recall").as[Double].collect()
    assert(same.nonEmpty && same.forall(_ == 1.0))
    // live: adaptive LSH on the spec corpus keeps a sane floor against
    // brute force (drift here shows up in q_sim_lsh_recall per round)
    val e = table("embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val live = Similarity.recallAtK(
      Similarity.lshTopKAuto(e, q, "vec_id", "qid", "embedding", k = 5),
      Similarity.bruteForceTopK(e, q, "vec_id", "qid", "embedding", k = 5))
    val avg = live.agg(org.apache.spark.sql.functions.avg("recall"))
      .head().getDouble(0)
    assert(avg >= 0.5, s"adaptive LSH recall collapsed: $avg")
  }

  test("sampled IVF build: small corpora equal the exact build; forced sampling keeps the laws") {
    import graft.llm.Ivf
    val e = table("embeddings")
    val n = e.count()
    // at or under the train target the sampled build IS the exact build
    val exact = Ivf.buildIndex(e, "vec_id", "embedding", nlist = 4, iters = 2)
      .select("vec_id", "__cid").orderBy("vec_id").collect().toSeq
    val degen = Ivf.buildIndexSampled(e, "vec_id", "embedding", nlist = 4,
        iters = 2, trainPerCell = Int.MaxValue / 8)
      .select("vec_id", "__cid").orderBy("vec_id").collect().toSeq
    assert(degen == exact)
    // trainPerCell = 1 forces the hash-threshold sample path: the
    // partition/determinism laws must survive sampled training
    val s1 = Ivf.buildIndexSampled(e, "vec_id", "embedding", nlist = 4,
      iters = 2, trainPerCell = 1)
    assert(s1.count() == n)
    assert(s1.select("vec_id").distinct().count() == n)
    assert(s1.select("__cid").distinct().count() <= 4)
    assert(s1.filter(col("__cid") < 1 || col("__cid") > 4).isEmpty)
    val s2 = Ivf.buildIndexSampled(e.repartition(7), "vec_id", "embedding",
      nlist = 4, iters = 2, trainPerCell = 1)
    val a = s1.select("vec_id", "__cid").orderBy("vec_id").collect().toSeq
    val b = s2.select("vec_id", "__cid").orderBy("vec_id").collect().toSeq
    assert(a == b)
  }

  test("Ivf.buildIndex releases iteration caches; releaseAll drops the rest") {
    GraftSession.releaseAll(spark)
    val e = table("embeddings")
    val idx = graft.llm.Ivf.buildIndex(e, "vec_id", "embedding", nlist = 4, iters = 3)
    idx.count()
    // 3 Lloyd iterations cached 4 centroid frames along the way; all but
    // the last were unpersisted as soon as their successor materialized
    assert(spark.sparkContext.getPersistentRDDs.size <= 1,
      s"leaked iteration caches: ${spark.sparkContext.getPersistentRDDs.size}")
    GraftSession.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("sequence packing: offsets advance by token counts, reset per pack") {
    val df = (1L to 200L).toDF("id")
      .withColumn("shard", ($"id" % 4).cast("int"))
      .withColumn("n_tokens", lit(10L) + ($"id" % 7))
    val packed = Sampling.packSequences(df, "id", "n_tokens", budget = 64, Seq("shard"))
    val rows = packed.collect()
    // every offset lies inside the budget
    assert(rows.forall(r => {
      val off = r.getAs[Long]("pack_offset"); off >= 0 && off < 64
    }))
    // per shard: walking docs in (md5, id) order, pack_id/pack_offset
    // equal floor/mod of the running token total before each doc
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (_, rs) =>
      def key(id: Long) = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
        d.map("%02x".format(_)).mkString.take(8)
      }
      var cum = 0L
      rs.sortBy(r => (key(r.getAs[Long]("id")), r.getAs[Long]("id"))).foreach { r =>
        assert(r.getAs[Long]("pack_id") == cum / 64, s"id=${r.getAs[Long]("id")}")
        assert(r.getAs[Long]("pack_offset") == cum % 64)
        cum += r.getAs[Long]("n_tokens")
      }
    }
    // deterministic under repartitioning
    val again = Sampling.packSequences(df.repartition(13), "id", "n_tokens",
      budget = 64, Seq("shard"))
    assert(packed.orderBy("id").collect().toSeq == again.orderBy("id").collect().toSeq)
  }

  test("Pca: one-pass fit is orthonormal, captures variance, finds a planted axis") {
    import graft.llm.Pca
    val emb = table("embeddings")
    val model = Pca.fit(emb, "embedding", k = 8)
    assert(model.dim == 64 && model.components.forall(_.length == 64))
    // eigenvalues non-increasing and non-negative (within fp slack)
    assert(model.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-9))
    assert(model.eigenvalues.forall(_ >= -1e-9))
    assert(model.explainedRatio.sum <= 1.0 + 1e-9)
    // components orthonormal
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    for (i <- model.components.indices; j <- i until model.components.length) {
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot(model.components(i), model.components(j)) - expect) < 1e-8,
        s"components $i,$j not orthonormal")
    }
    // the variance of each projected coordinate IS its eigenvalue
    val proj = Pca.transform(emb, "embedding", model)
    val n = emb.count().toDouble
    for (j <- 0 until 3) {
      val r = proj.agg(sum(col(s"pc$j")), sum(col(s"pc$j") * col(s"pc$j"))).head()
      val varJ = r.getDouble(1) / n - math.pow(r.getDouble(0) / n, 2)
      assert(math.abs(varJ - model.eigenvalues(j)) <
        1e-4 * math.max(1.0, model.eigenvalues(j)),
        s"pc$j variance $varJ vs eigenvalue ${model.eigenvalues(j)}")
    }
    // partitioning does not change the fit (merge order only reorders
    // float additions)
    val model17 = Pca.fit(emb.repartition(17), "embedding", k = 8)
    assert(model.eigenvalues.zip(model17.eigenvalues)
      .forall { case (a, b) => math.abs(a - b) < 1e-6 })

    // composition: 8 planted clusters in 32 dims survive PCA-8 —
    // after projection every point is still nearest (euclidean) to
    // its own cluster's projected centroid, so downstream ANN/k-means
    // on the compressed vectors sees the same neighborhoods
    val dims = 32; val kClusters = 8
    def noise(id: Int, d: Int) = (((id * 31 + d * 17) % 7) - 3) * 0.02f
    def vec(id: Int): Array[Float] = {
      val c = id % kClusters
      Array.tabulate(dims)(d => (if (d == c * 4) 10f else 0f) + noise(id, d))
    }
    val planted32 = (0 until 400).map(i => (i.toLong, i % kClusters, vec(i)))
      .toDF("id", "cluster", "embedding")
    val pm32 = Pca.fit(planted32, "embedding", k = kClusters)
    assert(pm32.explainedRatio.sum > 0.95,
      s"clusters carry the variance: ${pm32.explainedRatio.sum}")
    val proj32 = Pca.transform(planted32, "embedding", pm32)
      .select(col("id") +: col("cluster") +:
        (0 until kClusters).map(j => col(s"pc$j")): _*)
      .collect()
      .map(r => (r.getInt(1), (0 until kClusters).map(j => r.getDouble(2 + j)).toArray))
    val centroids = proj32.groupBy(_._1).map { case (c, rows) =>
      c -> rows.map(_._2).transpose.map(xs => xs.sum / xs.length).toArray
    }
    def dist2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val misassigned = proj32.count { case (c, p) =>
      centroids.minBy { case (_, ct) => dist2(p, ct) }._1 != c
    }
    assert(misassigned == 0, s"$misassigned points left their cluster after PCA")

    // planted dominant axis: points along (1,2,0)/sqrt(5) + tiny noise
    val planted = (-10 to 10).map { t =>
      (t.toLong, Array(t.toFloat, 2f * t, (t % 3).toFloat * 0.01f))
    }.toDF("id", "embedding")
    val pm = Pca.fit(planted, "embedding", k = 3)
    val axis = Array(1.0, 2.0, 0.0).map(_ / math.sqrt(5.0))
    assert(math.abs(dot(pm.components(0), axis)) > 0.999)
    // k = d captures the whole trace
    assert(math.abs(pm.eigenvalues.sum - pm.totalVariance) < 1e-9)
    // sign pinned: the largest-|coord| entry is positive
    assert(pm.components.forall(c => c(c.indices.maxBy(i => math.abs(c(i)))) >= 0))
  }

  test("quantizerDrift: dead cells, similarity decay on a shifted corpus, null sims") {
    import graft.llm.Ivf
    val cents = Seq((1, Seq(1f, 0f)), (2, Seq(0f, 1f))).toDF("cid", "cvec")
    def corpus(rot: Float) = (1 to 40).map { i =>
      // points near e0, rotated toward e1 by `rot`; ids 1..40
      (i.toLong, Array(1f, rot + 0.001f * (i % 5)))
    }.toDF("id", "v")
    val base = Ivf.quantizerDrift(corpus(0.0f), "id", "v", cents,
        "cid", "cvec", simFloor = 0.9)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2), r.getLong(4))).sortBy(_._1)
    // all 40 in cell 1, cell 2 DEAD (n=0, null stats), nothing under floor
    assert(base.map(x => (x._1, x._2, x._4)).toSeq == Seq((1, 40L, 0L), (2, 0L, 0L)))
    assert(base.head._3 > 0.999)
    assert(base(1)._3 == -1.0) // dead cell: null mean_sim
    // corpus drifts 45° toward e1: winners split, mean sim DECAYS below
    // baseline and the under-floor count fires — the retrain signal
    val drifted = Ivf.quantizerDrift(corpus(1.0f), "id", "v", cents,
        "cid", "cvec", simFloor = 0.9)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2), r.getLong(4))).sortBy(_._1)
    assert(drifted.map(_._2).sum == 40L)
    assert(drifted.forall(x => x._2 == 0L || (x._3 < 0.75 && x._4 == x._2)),
      s"drift not visible: $drifted")
    // zero-norm row: counted in its (lowest) cell, skipped by the
    // similarity aggregates, never under the floor
    val withNull = corpus(0.0f).unionByName(
      Seq((99L, Array(0f, 0f))).toDF("id", "v"))
    val g = Ivf.quantizerDrift(withNull, "id", "v", cents,
        "cid", "cvec", simFloor = 0.9)
      .filter(col("cell_id") === 1)
      .select("n", "n_below").as[(Long, Long)].head()
    assert(g == ((41L, 0L)))
  }

  test("argmax-cell kernel matches the join form on degenerate vectors " +
       "and keeps duplicate-id rows on both paths") {
    import graft.llm.Ivf
    val fnull = lit(null).cast("float")
    val df = spark.range(0, 7).toDF("id").withColumn("v",
      when(col("id") === 0, array(lit(1f), lit(0f)))
        .when(col("id") === 1, array(lit(0.1f), lit(0.9f)))
        .when(col("id") === 2, array(fnull, lit(1f)))      // null ELEMENT
        .when(col("id") === 3, lit(null).cast("array<float>")) // null vector
        .when(col("id") === 4, array(lit(0f), lit(0f)))    // zero norm
        .when(col("id") === 5, array(lit(1f), lit(2f), lit(3f))) // dim mismatch
        .when(col("id") === 6, array(lit(0.9f), lit(0.1f))))
      // duplicate id: two physical rows share id 6 with different vectors
      .union(spark.range(6, 7).toDF("id")
        .withColumn("v", array(lit(0.2f), lit(0.8f))))
    val cents = Seq((1, Seq(1f, 0f)), (2, Seq(0f, 1f))).toDF("cid", "cvec")
    def run(c: org.apache.spark.sql.DataFrame) =
      Ivf.assignToCentroids(df, "v", c, "cid", "cvec")
        .select(col("id"), col("__cid").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fast = run(cents) // int cid → native kernel, map-side
    val slow = run(cents.withColumn("cid", col("cid").cast("double"))) // join form
    assert(fast == slow, s"kernel diverged from join form: $fast vs $slow")
    // every unscorable shape (null element / null vector / zero norm /
    // dim mismatch) lands in the LOWEST cell, like the join form's
    // all-null max_by tie-break
    val m = fast.groupBy(_._1)
    assert(Seq(2L, 3L, 4L, 5L).forall(i => m(i).map(_._2) == Seq(1L)))
    assert(m(1L).map(_._2) == Seq(2L))
    // duplicate ids pass through on BOTH paths (pre-r16 the join form
    // collapsed them)
    assert(m(6L).map(_._2).sorted == Seq(1L, 2L))
    // SQL registration via GraftExtensions (array(...) literals fold)
    val viaSql = spark.sql(
      "SELECT graft_argmax_cell(array(cast(0.1 as float), cast(0.9 as float)), " +
        "array(1L, 2L), array(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(0.0 as float), cast(1.0 as float))))").as[Long].head()
    assert(viaSql == 2L)
  }

  test("recenterDriver wide-dim branch reproduces the fused aggregation exactly") {
    import graft.llm.Ivf
    val dim = 1024
    assert(dim > Ivf.recenterWideDimBudget)
    def vec(seed: Int): Seq[Option[Float]] =
      (0 until dim).map(d => Some(((seed * 31 + d * 7) % 11).toFloat - 5f))
    val assigned = Seq(
      (1, Option(vec(1))), (1, Option(vec(2))), (1, Option(vec(3))),
      (2, Option(vec(4).take(100))),          // ragged short vector
      (2, Option(vec(5).updated(5, None))),   // null element at pos 5
      (3, Option.empty[Seq[Option[Float]]])   // cell with ONLY a null vector
    ).toDF("__cid", "v")
    val fused = Ivf.recenterCollect(assigned, "v", dim)
      .map { case (cid, v) => (cid.asInstanceOf[Int], v.toSeq) }.sortBy(_._1).toSeq
    val wide = Ivf.recenterDriver(assigned, "v", dim)
      .map { case (cid, v) => (cid.asInstanceOf[Int], v.toSeq) }.sortBy(_._1).toSeq
    assert(wide == fused, "wide-dim branch drifted from the fused form")
    // the normalization contract holds: every cell present, full width,
    // member-less positions 0.0f
    assert(wide.map(_._1) == Seq(1, 2, 3))
    assert(wide.forall(_._2.length == dim))
    assert(wide.find(_._1 == 3).get._2.forall(_ == 0.0f))
    assert(wide.find(_._1 == 2).get._2(5) == vec(4)(5).get) // only the ragged row votes at pos 5
  }

  test("centroids() refuses the driver collect past the float budget") {
    import graft.llm.Ivf
    val e = table("embeddings")
    val idx = Ivf.buildIndex(e, "vec_id", "embedding", nlist = 4, iters = 1).persist()
    try {
      val viaDriver = Ivf.centroids(idx, "embedding")
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toSeq).toMap
      // a budget of 1 float forces the distributed explode fallback —
      // identical means (avg == sum/count in double, cast float)
      val viaDistributed = Ivf.centroidsWithBudget(idx, "embedding", budget = 1L)
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toSeq).toMap
      assert(viaDriver.nonEmpty && viaDriver == viaDistributed)
    } finally idx.unpersist()
  }
}
