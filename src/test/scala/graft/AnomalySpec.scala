package graft

import org.apache.spark.sql.functions._
import graft.quality.Anomaly

class AnomalySpec extends SparkSpec {
  import spark.implicits._

  test("fromJson config dispatch matches the direct operator calls") {
    val df = ((1 to 100).map(i => (i.toLong, (i % 10).toDouble)) :+ (999L, 500.0))
      .toDF("event_id", "value")
    val viaCfg = graft.quality.Anomaly.fromJson(df,
      """{"method": "zscore", "column": "value"}""")
      .select("event_id").as[Long].collect().toSet
    val direct = graft.quality.Anomaly.zscore(df, "value")
      .select("event_id").as[Long].collect().toSet
    assert(viaCfg == direct && viaCfg.contains(999L))
    val viaIqr = graft.quality.Anomaly.fromJson(df,
      """{"method": "iqr", "column": "value", "multiplier": 2.0}""")
      .select("event_id").as[Long].collect().toSet
    assert(viaIqr == graft.quality.Anomaly.iqr(df, "value", 2.0)
      .select("event_id").as[Long].collect().toSet)
    assert(intercept[IllegalArgumentException](
      graft.quality.Anomaly.fromJson(df, """{"method": "dbscan"}"""))
      .getMessage.contains("dbscan"))
    assert(intercept[IllegalArgumentException](
      graft.quality.Anomaly.fromJson(df, """{"method": "zscore"}"""))
      .getMessage.contains("column"))
    // isolation_forest 'columns' must be a non-empty ARRAY — a scalar
    // or [] fails loudly here, not opaquely inside the detector
    for (bad <- Seq("""{"method": "isolation_forest", "columns": "value"}""",
                    """{"method": "isolation_forest", "columns": []}"""))
      assert(intercept[IllegalArgumentException](
        graft.quality.Anomaly.fromJson(df, bad))
        .getMessage.contains("non-empty array"))
  }

  test("madZscore flags the planted outlier a plain z-score would mask") {
    // 48 inliers around 10 plus two huge outliers: the outliers inflate
    // the stddev (plain z of 500 here is ~2.6, under a 3.0 gate) but
    // cannot move the median/MAD
    val df = ((1 to 48).map(i => 10.0 + (i % 5)) ++ Seq(500.0, 520.0))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val got = Anomaly.madZscore(df, "v", Seq.empty, threshold = 3.5)
    assert(got.select("id").as[Long].collect().toSet == Set(48L, 49L))
    // MAD = 0 but outliers present (>50% identical values): the
    // mean-absolute-deviation fallback still catches them
    val masked = (Seq.fill(60)(10.0) ++ Seq.fill(5)(1000.0))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val flagged = Anomaly.madZscore(masked, "v", Seq.empty, threshold = 3.0)
      .select("id").as[Long].collect().toSet
    assert(flagged == (60L until 65L).toSet)
    // fully constant data: both scales 0 -> no rows, not a blow-up
    val const = Seq.fill(10)(7.0).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    assert(Anomaly.madZscore(const, "v", Seq.empty).isEmpty)
  }


  // 29 small values + one wild outlier
  private lazy val base = (1 to 29).map(i => (i.toLong, 10.0 + (i % 3)))
  private lazy val df = (base :+ ((30L, 1000.0))).toDF("id", "v")

  test("zscore flags the planted outlier and only it") {
    val hits = Anomaly.zscore(df, "v", threshold = 3.0).select("id").as[Long].collect()
    assert(hits.toSeq == Seq(30L))
  }

  test("iqr flags the planted outlier with confidence > 1") {
    val hits = Anomaly.iqr(df, "v").select("id", "conf").collect()
    assert(hits.map(_.getLong(0)).toSeq == Seq(30L))
    assert(hits.head.getDouble(1) > 1.0)
  }

  test("movingAvg flags a level shift inside a series") {
    val series = ((1 to 20).map(i => ("s", i, 5.0)) :+ (("s", 21, 50.0)))
      .toDF("k", "seq", "v")
    val hits = Anomaly.movingAvg(series, "v", Seq("k"), Seq(col("seq").asc),
      window = 7, threshold = 2.0).select("seq").as[Int].collect()
    assert(hits.contains(21))
  }

  test("movingAvg long and decimal routes are row-identical") {
    // values with sub-unit fractions (rounding exercised) and a level
    // shift: both frame-sum routes must produce the same flagged rows
    // AND the same z doubles bit-for-bit (the 2^52 micro-unit bound
    // makes long-sum/unit and decimal-sum round identically)
    val series = ((1 to 40).map(i => ("s", i, 5.0 + (i % 5) * 0.1234567))
      ++ Seq(("s", 41, 5000.75), ("s", 42, -4999.25))).toDF("k", "seq", "v")
    def run(useLong: Boolean) =
      Anomaly.movingAvgPath(series, "v", Seq("k"), Seq(col("seq").asc),
          window = 7, threshold = 2.0, scale = 6, useLong = useLong)
        .select("seq", "z").collect()
        .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
    val (l, d) = (run(useLong = true), run(useLong = false))
    assert(l.nonEmpty && l == d) // exact double equality, not approx
  }

  test("movingAvg probe routes huge-magnitude values to the decimal path") {
    // |v| ~ 1e8 exceeds the 2^52 micro-unit square-sum bound (cutoff
    // ~2.5e4 at window=7) — a long sum of v^2 micro-units would wrap;
    // the public route must still flag the planted shift (i.e. it took
    // the decimal path and the answer is right, not wrapped garbage).
    // (Values stay inside the operator's documented Decimal(28,6)
    // envelope, |x| < ~1e11, which bounds BOTH paths.)
    val series = ((1 to 20).map(i => ("s", i, 1.0e8 + (i % 3)))
      :+ (("s", 21, 2.0e8))).toDF("k", "seq", "v")
    val hits = Anomaly.movingAvg(series, "v", Seq("k"), Seq(col("seq").asc),
      window = 7, threshold = 2.0).select("seq").as[Int].collect()
    assert(hits.contains(21))
  }

  test("ensemble requires minVotes detectors to agree") {
    val z = Anomaly.zscore(df, "v", 3.0)
    val i = Anomaly.iqr(df, "v")
    val e = Anomaly.ensemble(Seq((z, "z"), (i, "conf")), Seq("id"), minVotes = 2)
    assert(e.select("id").as[Long].collect().toSeq == Seq(30L))
    assert(e.head().getAs[Long]("votes") == 2)
  }

  test("gridDensity flags rows in sparse cells") {
    // 20 points in one cell, 1 point far away
    val pts = ((1 to 20).map(i => (i.toLong, 1.0, 1.0)) :+ ((99L, 500.0, 500.0)))
      .toDF("id", "x", "y")
    val hits = Anomaly.gridDensity(pts, Seq(("x", 10.0), ("y", 10.0)), minPts = 5)
      .select("id").as[Long].collect()
    assert(hits.toSeq == Seq(99L))
  }

  test("arResidual flags the shock in an AR(1) series, not the trend itself") {
    // x_t = 0.8 x_{t-1} + small deterministic wiggle, one injected shock
    val vals = scala.collection.mutable.ArrayBuffer(10.0)
    (1 until 60).foreach { i =>
      val base = 0.8 * vals(i - 1) + 2.0 + (i % 3) * 0.2
      vals += (if (i == 40) base + 50.0 else base)
    }
    val series = vals.zipWithIndex.map { case (v, i) => (i.toLong, 1L, v) }
      .toSeq.toDF("seq", "k", "v")
    val hits = Anomaly.arResidual(series, "v", Seq("k"), Seq(col("seq").asc),
      threshold = 3.0).select("seq").as[Long].collect()
    assert(hits.contains(40L), s"shock row must flag; got ${hits.toSeq}")
    // the decay row right after the shock deviates too; nothing else should
    assert(hits.forall(h => h == 40L || h == 41L), s"got ${hits.toSeq}")
  }

  test("changepoints flags a planted mean shift and stays silent on a flat series") {
    // level 10 for 40 points, then level 20: the boundary row scores highest
    val rows = (1 to 80).map(i =>
      (i.toLong, 1L, if (i <= 40) 10.0 + (i % 3) * 0.1 else 20.0 + (i % 3) * 0.1))
    val series = rows.toDF("seq", "k", "v")
    val hits = Anomaly.changepoints(series, "v", Seq("k"), Seq(col("seq").asc),
      window = 20, threshold = 5.0).select("seq").as[Long].collect()
    assert(hits.contains(41L), s"boundary row must flag; got ${hits.toSeq}")
    // flat series: zero pooled variance is guarded (no ANSI division error)
    val flat = (1 to 80).map(i => (i.toLong, 1L, 5.0)).toDF("seq", "k", "v")
    assert(Anomaly.changepoints(flat, "v", Seq("k"), Seq(col("seq").asc),
      window = 20, threshold = 3.0).count() == 0L)
  }

  test("changepointsMultiScale agrees with single-scale per window and sees both shift speeds") {
    val rows = (1 to 80).map(i =>
      (i.toLong, 1L, if (i <= 40) 10.0 + (i % 3) * 0.1 else 20.0 + (i % 3) * 0.1))
    val series = rows.toDF("seq", "k", "v")
    // slice win=20 of the multi-scale scan == the single-scale scan
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("seq", "score").as[(Long, Double)].collect().toSet
    val single = key(Anomaly.changepoints(series, "v", Seq("k"),
      Seq(col("seq").asc), window = 20, threshold = 5.0))
    val multi = key(Anomaly.changepointsMultiScale(series, "v", Seq("k"),
      Seq(col("seq").asc), windows = Seq(10, 20, 40), threshold = 5.0)
      .filter(col("win") === 20))
    assert(single == multi)
    // the abrupt shift is visible at every requested scale with 80 rows
    val wins = Anomaly.changepointsMultiScale(series, "v", Seq("k"),
      Seq(col("seq").asc), windows = Seq(10, 20), threshold = 5.0)
      .filter(col("seq") === 41L).select("win").as[Int].collect().toSet
    assert(wins == Set(10, 20))
  }

  test("isolation forest isolates the planted outlier fastest and is deterministic") {
    import graft.quality.IsolationForest
    // dense cluster + one far point in 2-D
    val pts = ((1 to 60).map(i => (i.toLong, 10.0 + (i % 5) * 0.2, 20.0 + (i % 7) * 0.3)) :+
      ((99L, 500.0, -300.0))).toDF("id", "x", "y")
    val forest = IsolationForest.fit(pts, Seq("x", "y"), numTrees = 25, sampleSize = 32)
    val scored = IsolationForest.score(pts, Seq("x", "y"), forest)
      .select("id", "iforest_score").as[(Long, Double)].collect()
    assert(scored.forall { case (_, s) => s > 0.0 && s < 1.0 })
    assert(scored.maxBy(_._2)._1 == 99L) // the planted outlier isolates first
    val outlierScore = scored.find(_._1 == 99L).get._2
    val inlierMax = scored.filter(_._1 != 99L).map(_._2).max
    assert(outlierScore > inlierMax + 0.1, s"outlier=$outlierScore inliers<=$inlierMax")
    // determinism: refit + rescore gives bit-identical scores
    val again = IsolationForest.score(pts, Seq("x", "y"),
        IsolationForest.fit(pts, Seq("x", "y"), numTrees = 25, sampleSize = 32))
      .select("id", "iforest_score").as[(Long, Double)].collect()
    assert(scored.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // detect() applies the score threshold
    val hits = IsolationForest.detect(pts, Seq("x", "y"), threshold = 0.6,
      numTrees = 25, sampleSize = 32).select("id").as[Long].collect()
    assert(hits.contains(99L))
    // a null feature scores null instead of crashing the pass, and
    // detect() drops the row (null > threshold is not true)
    val dirty = pts.unionByName(
      Seq((100L, Option.empty[Double], Option(1.0))).toDF("id", "x", "y"))
    val ds = IsolationForest.score(dirty, Seq("x", "y"), forest)
      .filter(col("id") === 100L).select("iforest_score").collect()
    assert(ds.length == 1 && ds.head.isNullAt(0))
    assert(!IsolationForest.detect(dirty, Seq("x", "y"), threshold = 0.0,
      numTrees = 25, sampleSize = 32).select("id").as[Long].collect().contains(100L))
  }

  test("LOF scores the planted outlier far above clustered inliers") {
    import graft.quality.Lof
    // tight cluster around (1, 0.01i) plus one opposite-direction point
    val vecs = ((1 to 30).map(i => (i.toLong, Array(1.0f, 0.01f * (i % 5)))) :+
      ((99L, Array(-1.0f, 0.8f)))).toDF("vec_id", "embedding")
    val s = Lof.scores(vecs, "vec_id", "embedding", k = 5, planes = 0)
      .select("vec_id", "lof").as[(Long, Double)].collect()
    val outlier = s.find(_._1 == 99L).get._2
    val inlierMax = s.filter(_._1 != 99L).map(_._2).max
    assert(outlier > inlierMax, s"outlier=$outlier inliers<=$inlierMax")
    assert(outlier > 1.5 && inlierMax < 1.5)
    // detect() applies the gate; determinism across invocations
    val hits = Lof.detect(vecs, "vec_id", "embedding", threshold = 1.5,
      k = 5, planes = 0).select("vec_id").as[Long].collect()
    assert(hits.toSeq == Seq(99L))
    val s2 = Lof.scores(vecs, "vec_id", "embedding", k = 5, planes = 0)
      .select("vec_id", "lof").as[(Long, Double)].collect()
    assert(s.sortBy(_._1).toSeq == s2.sortBy(_._1).toSeq)

    // adaptive planes: occupancy-stable bucketing — the plane count
    // grows with log2(n/target) so per-bucket candidate pools stay
    // ~constant as the corpus scales (the linear-cost shape)
    assert(Lof.planesFor(500, 512) == 0)    // fits one bucket: exact mode
    assert(Lof.planesFor(5120, 512) == 4)   // 10x data -> 2^4 buckets
    assert(Lof.planesFor(51200, 512) == 7)  // 100x -> 2^7 (~log growth)
    assert(Lof.planesFor(512L * 1024 * 1024, 512) == 20)
    // detectAuto == detect at the derived plane count (here: one
    // bucket for 31 points, exact all-pairs — same rows as planes=0)
    val auto = Lof.detectAuto(vecs, "vec_id", "embedding", threshold = 1.5,
      k = 5).select("vec_id").as[Long].collect()
    assert(auto.toSeq == Seq(99L))
  }

  test("seasonalResidual flags within-season outliers") {
    // season 0 values ~10, season 1 values ~20; one bad row in season 0
    val rows = (1 to 20).map(i => (i.toLong, i % 2, if (i % 2 == 0) 10.0 + (i % 5) * 0.1 else 20.0 + (i % 5) * 0.1)) :+
      ((21L, 0, 99.0))
    val df2 = rows.toDF("id", "season_src", "v")
    val hits = Anomaly.seasonalResidual(df2, "v", col("season_src"), threshold = 2.5)
      .select("id").as[Long].collect()
    assert(hits.toSeq == Seq(21L))
  }

  test("ellipticBoundary flags correlation-breaking points a per-axis screen misses") {
    // tight y = 2x band: (30, 20) is inside both marginal ranges but far
    // off the ellipse axis; nu = 0.05 puts the boundary outside the band
    val pts = (1 to 100).map(i => (i.toLong, i * 0.5, i * 1.0 + (i % 7) * 0.05)) :+
      ((999L, 30.0, 20.0))
    val df2 = pts.toDF("id", "x", "y")
    val r = Anomaly.ellipticBoundary(df2, "x", "y", nu = 0.05)
    val ids = r.select("id").as[Long].collect()
    assert(ids.contains(999L), s"planted off-axis point not flagged: ${ids.toSeq}")
    // nu bounds the flagged fraction: strictly-beyond-quantile can only
    // flag at most nu of the rows (ties fall inside)
    assert(ids.length <= math.ceil(pts.size * 0.05).toInt + 1)
    assert(r.columns.contains("md2"))
    // determinism across invocations
    val again = Anomaly.ellipticBoundary(df2, "x", "y", nu = 0.05)
      .select("id").as[Long].collect()
    assert(ids.sorted.toSeq == again.sorted.toSeq)
  }

  test("LOF bucketed heap kNN is row-identical to the declarative join/window form") {
    import graft.quality.Lof
    // a corpus big enough that planes=2 makes several non-trivial
    // buckets; deterministic pseudo-random embeddings
    // ids all 4-digit so the string-id reference path tie-breaks in
    // the same order as the numeric heap path (lexical == numeric)
    val vecs = (1 to 400).map { i =>
      val r = new scala.util.Random(i * 7919)
      (1000L + i, Array.fill(8)(r.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    // integral id -> per-bucket heap path
    val heap = Lof.scores(vecs, "vec_id", "embedding", k = 5, planes = 2)
      .select("vec_id", "n_neighbors", "lrd", "lof")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    // string id -> the declarative join/window path, same buckets
    val viaWindow = Lof.scores(
        vecs.withColumn("vec_id", col("vec_id").cast("string")),
        "vec_id", "embedding", k = 5, planes = 2)
      .select(col("vec_id").cast("long"), col("n_neighbors"),
        col("lrd"), col("lof"))
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(heap == viaWindow)
    assert(heap.nonEmpty && heap.size > 300) // lone-bucket points may drop
    // physical-layout invariance of the heap path
    val heap2 = Lof.scores(vecs.repartition(7), "vec_id", "embedding",
        k = 5, planes = 2)
      .select("vec_id", "n_neighbors", "lrd", "lof")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(heap2 == heap)
  }

  test("LOF hot-bucket split keeps heap/window parity and bounds the dense bucket") {
    import graft.quality.Lof
    // 400 points, planes=2 → ~100-point buckets; cap=40 FORCES splits
    // in every bucket — the split hash must land identically for the
    // long-id heap path and the string-id window path
    val vecs = (1 to 400).map { i =>
      val r = new scala.util.Random(i * 7919)
      (1000L + i, Array.fill(8)(r.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    val heap = Lof.scores(vecs, "vec_id", "embedding", k = 5, planes = 2,
        hotBucketCap = 40)
      .select("vec_id", "n_neighbors", "lrd", "lof")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val viaWindow = Lof.scores(
        vecs.withColumn("vec_id", col("vec_id").cast("string")),
        "vec_id", "embedding", k = 5, planes = 2, hotBucketCap = 40)
      .select(col("vec_id").cast("long"), col("n_neighbors"),
        col("lrd"), col("lof"))
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(heap == viaWindow)
    assert(heap.size > 300)
    // split actually changed the neighbourhoods vs the uncapped run
    val uncapped = Lof.scores(vecs, "vec_id", "embedding", k = 5, planes = 2)
      .select("vec_id", "n_neighbors", "lrd", "lof")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(heap != uncapped)
  }

  test("IVF-cell LOF recovers local outliers the hyperplane buckets strand (r17 adjudication)") {
    import graft.quality.Lof
    // Six tight angular clusters (unit axis directions, ±0.04 spread ≈
    // 5°) plus one LOCAL outlier per cluster, 52° off its cluster's
    // axis (1.3 along an orthogonal dim): locally anomalous (cluster
    // kNN cosine distances ~0.004, outlier ~0.39) but still nearest
    // that cluster (cos 0.61 vs ~0 to every other). The construction
    // targets the bucketing failure mode, not the scorer: the ±1
    // plane weights mean an orthogonal offset > 1 flips every plane
    // whose two weights oppose, so the data-blind path strands the
    // outlier in a stray bucket — alone (dropped) or with other
    // strays (LOF ≈ 1) — while a LEARNED cell assigns it to its
    // cluster's centroid where the lrd ratio fires. Same downstream
    // plan, same target occupancy (64) — only the candidate pools
    // differ.
    val dim = 16
    val inliers = for {
      j <- 0 until 6
      i <- 1 to 130
    } yield {
      val r = new scala.util.Random(j * 100000 + i * 7919)
      val v = Array.fill(dim)((r.nextFloat() - 0.5f) * 0.08f)
      v(2 * j) += 1.0f
      ((j * 1000 + i).toLong, v)
    }
    val planted = (0 until 6).map { j =>
      val v = Array.fill(dim)(0.0f)
      v(2 * j) = 1.0f
      v(2 * j + 1) = 1.3f
      ((9000 + j).toLong, v)
    }
    val vecs = (inliers ++ planted).toDF("vec_id", "embedding")
    val plantedIds = planted.map(_._1).toSet
    val n = inliers.size + planted.size // 786
    def topN(scored: org.apache.spark.sql.DataFrame, m: Int): Set[Long] =
      scored.orderBy(col("lof").desc, col("vec_id"))
        .limit(m).select("vec_id").as[Long].collect().toSet
    def recovery(scored: org.apache.spark.sql.DataFrame): Int =
      (topN(scored, plantedIds.size) & plantedIds).size

    // ground truth: the exact all-pairs plan recovers all six
    val exact = Lof.scores(vecs, "vec_id", "embedding", k = 5, planes = 0)
    assert(recovery(exact) == 6)

    // equal-occupancy operating points: planesFor(786, 64) = 4 (16
    // half-space buckets) vs nlist = ceil(786/64) = 13 learned cells
    val planes = Lof.planesFor(n, 64)
    assert(planes == 4)
    val hyper = Lof.scores(vecs, "vec_id", "embedding", k = 5,
      planes = planes, hotBucketCap = 256)
    val ivf = Lof.scoresIvf(vecs, "vec_id", "embedding", k = 5,
      targetBucketSize = 64, hotBucketCap = 256, nlist = 13)
    // the learned path's own strand hazard, isolated: without the
    // singleton rescue, Lloyd hands one planted outlier a PRIVATE cell
    // (a cluster drew two seeds and one converged onto the outlier) —
    // it drops from the output exactly like a stray hash bucket
    val ivfNoRescue = Lof.scoresIvf(vecs, "vec_id", "embedding", k = 5,
      targetBucketSize = 64, hotBucketCap = 256, nlist = 13,
      rescueSingletons = false)
    val hyperRec = recovery(hyper)
    val ivfRec = recovery(ivf)
    val ivfNoRescueRec = recovery(ivfNoRescue)
    info(s"planted-outlier recovery: exact 6/6, hyperplane $hyperRec/6, " +
      s"ivf $ivfRec/6, ivf-without-rescue $ivfNoRescueRec/6")
    // the adjudication numbers (documented on Lof.scoresIvf): learned
    // cells + singleton rescue recover every planted local outlier;
    // data-blind buckets strand most of them (measured: 2/6)
    assert(ivfRec == 6, s"ivf recovered $ivfRec/6")
    assert(ivfNoRescueRec == 5, s"ivf-without-rescue recovered $ivfNoRescueRec/6")
    assert(hyperRec < ivfNoRescueRec, s"hyperplane recovered $hyperRec/6 — construction no longer discriminates")
    // candidate-pool cost parity: both paths generate the same order of
    // in-bucket pair work at the same target occupancy
    import graft.llm.{Ivf, Similarity}
    def pairCost(bucketed: org.apache.spark.sql.DataFrame): Long =
      bucketed.groupBy(col("__b")).count()
        .select(sum(col("count") * (col("count") - 1))).as[Long].head()
    val hyperCost = pairCost(vecs.select(
      Similarity.hyperplaneBucket(col("embedding"), planes).as("__b")))
    val q = Ivf.trainIndex(vecs.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", nlist = 13)
    val ivfCost = pairCost(Ivf.assignToCentroids(
        vecs.select(col("vec_id"), col("embedding")),
        "embedding", q, "__cid", "__cvec")
      .select(col("__cid").as("__b")))
    info(s"in-bucket pair cost: hyperplane $hyperCost, ivf $ivfCost")
    assert(ivfCost < 4 * hyperCost && hyperCost < 4 * ivfCost,
      s"cost parity broke: hyper $hyperCost vs ivf $ivfCost")
    // a pipeline-supplied quantizer reproduces the built-in training
    // (the amortized path: train once, screen LOF with the same cells)
    val viaQuantizer = Lof.scoresIvf(vecs, "vec_id", "embedding", k = 5,
      targetBucketSize = 64, hotBucketCap = 256, quantizer = Some(q))
      .select("vec_id", "n_neighbors", "lrd", "lof")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val builtin = ivf.select("vec_id", "n_neighbors", "lrd", "lof")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(viaQuantizer == builtin)
    // small corpora route to the exact single-bucket plan (the
    // planesFor n <= target analog)
    val small = vecs.limit(40)
    val smallIvf = Lof.scoresIvf(small, "vec_id", "embedding", k = 3,
        targetBucketSize = 64)
      .select("vec_id", "lof").as[(Long, Double)].collect().sortBy(_._1).toSeq
    val smallExact = Lof.scores(small, "vec_id", "embedding", k = 3, planes = 0)
      .select("vec_id", "lof").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(smallIvf == smallExact)
  }

  test("LOF treats ragged vector lengths as dist 1.0 in both kNN forms") {
    import graft.quality.Lof
    // one short vector among uniform 8-dim ones: pairs against it must
    // score dist 1.0 (unrelated), not null (window) / throw (heap)
    val vecs = ((1 to 60).map { i =>
      val r = new scala.util.Random(i * 104729)
      (2000L + i, Array.fill(8)(r.nextFloat() * 2f - 1f))
    } :+ ((2061L, Array(0.5f, 0.5f)))).toDF("vec_id", "embedding")
    val heap = Lof.scores(vecs, "vec_id", "embedding", k = 3, planes = 1)
      .select("vec_id", "n_neighbors", "lrd", "lof")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val viaWindow = Lof.scores(
        vecs.withColumn("vec_id", col("vec_id").cast("string")),
        "vec_id", "embedding", k = 3, planes = 1)
      .select(col("vec_id").cast("long"), col("n_neighbors"),
        col("lrd"), col("lof"))
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(heap == viaWindow)
    assert(heap.size > 50)
  }

  test("ellipticBoundary degenerate axes flag nothing") {
    val flat = (1 to 50).map(i => (i.toLong, 1.0, i * 1.0)).toDF("id", "x", "y")
    assert(Anomaly.ellipticBoundary(flat, "x", "y", nu = 0.1).count() == 0L)
  }

  test("ellipticBoundary persists size-aware: cached and re-derive shapes agree") {
    // r16: the scored fact table is persisted ONLY when the optimizer
    // estimates it small (persistIfSmall) — the 100 TB shape (budget
    // exceeded, or the conf disabled) re-derives every pass from the
    // literal-moment scan and caches NOTHING. Both shapes must agree
    // row-for-row, and repeated invocations must be stable.
    GraftSession.releaseAll(spark)
    val pts = (1 to 60).map(i => (i.toLong, i * 0.5, i * 1.0)).toDF("id", "x", "y")
    try {
      spark.conf.set("spark.graft.smallPersistBytes", "-1") // never persist
      val rederived = Anomaly.ellipticBoundary(pts, "x", "y", nu = 0.1)
        .orderBy("id").collect().toSeq
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        "re-derive shape left a cached frame behind")
      val again = Anomaly.ellipticBoundary(pts, "x", "y", nu = 0.1)
        .orderBy("id").collect().toSeq
      assert(rederived == again && rederived.nonEmpty)
      spark.conf.unset("spark.graft.smallPersistBytes") // default: tiny frame caches
      val cached = Anomaly.ellipticBoundary(pts, "x", "y", nu = 0.1)
        .orderBy("id").collect().toSeq
      assert(cached == rederived)
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
        "small input under the default budget should have cached the scored frame")
    } finally {
      spark.conf.unset("spark.graft.smallPersistBytes")
      GraftSession.releaseAll(spark)
    }
  }

  test("persistIfSmall: budget gates the cache, both shapes stay the same frame") {
    GraftSession.releaseAll(spark)
    val df2 = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    try {
      val small = GraftSession.persistIfSmall(df2)
      assert(small.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      small.unpersist(blocking = true)
      spark.conf.set("spark.graft.smallPersistBytes", "1") // 1 byte: nothing fits
      val big = GraftSession.persistIfSmall(df2)
      assert(big.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      assert(big.orderBy("id").collect().toSeq == small.orderBy("id").collect().toSeq)
    } finally {
      spark.conf.unset("spark.graft.smallPersistBytes")
      GraftSession.releaseAll(spark)
    }
  }

  test("LOF size-aware corpus persist: cached and re-derive shapes are row-identical") {
    import graft.quality.Lof
    GraftSession.releaseAll(spark)
    val vecs = ((1 to 40).map(i =>
      (i.toLong, Array((i % 7).toFloat, (i % 5).toFloat, 1f))) :+
      (99L, Array(40f, -40f, 1f))).toDF("vec_id", "embedding")
    def run() = Lof.scores(vecs, "vec_id", "embedding", k = 5, planes = 2)
      .orderBy("vec_id").collect().toSeq
    try {
      val cached = run() // tiny LocalRelation: default budget caches the corpus
      spark.conf.set("spark.graft.smallPersistBytes", "-1")
      GraftSession.releaseAll(spark)
      val rederived = run()
      assert(cached == rederived && cached.nonEmpty)
    } finally {
      spark.conf.unset("spark.graft.smallPersistBytes")
      GraftSession.releaseAll(spark)
    }
  }

  test("prophetResidual flags the planted break from a clean trend+season series") {
    // series: value = 10 + 0.5*day + season bump, one corrupted row
    val rows = for (day <- 0 until 30; s <- 0 until 4) yield {
      val id = day * 4 + s
      val v = 10.0 + 0.5 * day + (if (s == 0) 5.0 else 0.0) + (id % 3) * 0.01
      (id.toLong, 1L, day, s, if (id == 57) v + 40.0 else v)
    }
    val df2 = rows.toDF("id", "series", "day", "s", "v")
    val hits = Anomaly.prophetResidual(df2, "v", col("day"), col("s"),
        Seq("series"), threshold = 3.0)
      .select("id").as[Long].collect()
    assert(hits.toSeq == Seq(57L), s"got ${hits.toSeq}")
    // a clean series (no planted break) stays quiet at the same gate
    val clean = df2.filter(col("id") =!= 57L)
    assert(Anomaly.prophetResidual(clean, "v", col("day"), col("s"),
      Seq("series"), threshold = 3.0).count() == 0L)
  }

  test("prophetResidual survives constant-index and single-row series") {
    val df2 = Seq((1L, 1L, 5, 0, 2.0), (2L, 1L, 5, 1, 2.1), (3L, 2L, 9, 0, 7.0))
      .toDF("id", "series", "day", "s", "v")
    // slope degenerates to 0; must not throw or divide by zero
    assert(Anomaly.prophetResidual(df2, "v", col("day"), col("s"),
      Seq("series"), threshold = 3.0).count() == 0L)
  }

  test("decompose: components reassemble the series; seasonal is detrended mean") {
    val e = table("events")
    val dec = Anomaly.decompose(e, "value", Seq("user_id"),
      Seq(col("ts").asc, col("event_id").asc), hour(col("ts")), halfWindow = 3)
    assert(dec.count() == e.count())
    // value - (trend + seasonal + resid) is only rounding residue
    val offBy = dec.withColumn("err",
        abs(col("value") - (col("trend") + col("seasonal") + col("resid"))))
      .agg(max(col("err"))).head().getDouble(0)
    assert(offBy < 2e-6, s"components don't reassemble: max err $offBy")
    // seasonal is constant within a season
    assert(dec.groupBy("season").agg(countDistinct(col("seasonal")).as("n"))
      .filter(col("n") > 1).count() == 0)
    // one season's seasonal value equals the detrended mean directly
    val s0 = dec.filter(col("season") === 0).head().getAs[Double]("seasonal")
    assert(!s0.isNaN)
  }

  test("severity bands, false-positive screens, deterministic samples") {
    val det = Seq((1L, 0.95), (2L, 0.7), (3L, 0.3), (4L, 0.81), (5L, 0.5))
      .toDF("id", "conf")
    // ref :335 thresholds: > .8 high, > .5 medium (boundaries exclusive)
    val sev = det.withColumn("s", Anomaly.classifySeverity(col("conf")))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(sev == Map(1L -> "high", 2L -> "medium", 3L -> "low",
      4L -> "high", 5L -> "low"))
    // confidence floor alone
    assert(Anomaly.filterFalsePositives(det, "conf", 0.5)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 4L, 5L))
    // + benign allowlist removed by anti-join
    val benign = Seq(4L).toDF("id")
    assert(Anomaly.filterFalsePositives(det, "conf", 0.5, Some(benign), Seq("id"))
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 5L))
    intercept[IllegalArgumentException](
      Anomaly.filterFalsePositives(det, "conf", 0.5, Some(benign)))
    // samples: highest-confidence first, repartition-proof
    val s1 = Anomaly.samples(det, "conf", Seq(col("id")), 3)
      .select("id").as[Long].collect().toSeq
    val s2 = Anomaly.samples(det.repartition(7), "conf", Seq(col("id")), 3)
      .select("id").as[Long].collect().toSeq
    assert(s1 == Seq(1L, 4L, 2L) && s2 == s1)
  }
}
