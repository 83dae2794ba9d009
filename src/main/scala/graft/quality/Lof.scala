package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Local Outlier Factor — ref anomaly_manager.py:214 lof_detection
  * (the reference wraps sklearn; this is the Breunig et al. SIGMOD'00
  * algorithm re-expressed as a declarative join/window plan over an
  * embedding column).
  *
  * Definition chain, each step one DataFrame op:
  *   kNN(p)        — cosine-distance top-k within the point's
  *                   hyperplane LSH bucket (the scale bound: candidate
  *                   pairs come from buckets, never all-pairs; recall
  *                   tradeoff identical to [[graft.llm.Similarity.lshTopK]])
  *   k-dist(p)     — distance to p's k-th neighbour (max over kNN)
  *   reach(p,o)    — max(k-dist(o), dist(p,o))
  *   lrd(p)        — |kNN(p)| / sum reach(p,o)
  *   LOF(p)        — mean(lrd(o)) / lrd(p); ~1 inlier, >> 1 outlier
  *
  * Deterministic: LSH buckets are hash-seeded, kNN ties break on
  * neighbour id, distances round at 6 dp. Shuffles are on bucket and
  * point id only. Points alone in their bucket have no neighbours and
  * drop out (documented; lower `planes` for denser buckets).
  */
object Lof {

  /** Per-point LOF scores. Output: (idCol, n_neighbors, lrd, lof).
    *
    * `hotBucketCap` bounds the densest LSH bucket: real embedding
    * corpora cluster, so hyperplane buckets are SKEWED — planesFor
    * holds the MEAN occupancy near target, but the densest bucket can
    * run 20× the median (measured at the sf10 gate: median 91,
    * max 10,688 — whose 114M in-bucket pairs were the entire kNN
    * critical path, single-threaded). Buckets above the cap sub-split
    * deterministically (hash of the id's string form, so the split is
    * identical whatever the id type), which bounds per-task work at
    * cap² pairs and re-parallelizes dense regions; points then find
    * neighbours within their sub-slice — for a DENSITY estimate a
    * random slice of a dense region is representative, same
    * approximation family as the bucketing itself. Set it ≤ 0 to
    * disable (exact single-bucket mode ignores it by construction).
    */
  def scores(df: DataFrame, idCol: String, vecCol: String,
             k: Int = 5, planes: Int = 4,
             hotBucketCap: Int = 2048): DataFrame = {
    val bucket =
      if (planes <= 0) lit(0L) // single bucket: exact all-pairs (tests/small data)
      else Similarity.hyperplaneBucket(col(vecCol), planes)
    // SIZE-AWARE persist of the bucketed corpus (r16): the occupancy
    // agg, the split join, and the kNN forms reference it 2-3×. At
    // 100 TB caching a corpus-sized (id, vec, bucket) frame is
    // forbidden and the native graft_hyperplane_bits kernel makes each
    // re-derivation a scan plus a cheap per-row loop (the r15 shape,
    // still the default past the size budget) — but at gate SFs where
    // the frame is a few MB, re-deriving it cost the committed r15
    // bench +1.9 s on q_anom_lof alone. persistIfSmall keeps both
    // truths: cache iff the optimizer's estimate fits the small-frame
    // budget. Both shapes are spec-pinned row-identical.
    val b0 = graft.GraftSession.persistIfSmall(
      df.select(col(idCol), col(vecCol))
        .withColumn("__bucket", bucket)
        .withColumn("__n", Similarity.norm(col(vecCol))))
    scoresFromBuckets(b0, idCol, vecCol, k,
      bucketed = planes > 0, bucketBits = planes, hotBucketCap = hotBucketCap)
  }

  /** The bucket-agnostic LOF core: `b0` is the corpus with `__bucket`
    * (long) and `__n` (norm) already attached — [[scores]] derives
    * buckets from data-blind hyperplanes, [[scoresIvf]] from learned
    * IVF cells; everything downstream (hot-bucket split, heap/window
    * kNN, kdist/reach/lrd/ratio) is identical, so the two paths differ
    * ONLY in which points become candidate neighbours. `bucketBits`
    * is the bucket-id space exponent (all base bucket ids < 2^bits),
    * which the hot-split uses to mint collision-free sub-bucket ids.
    */
  private def scoresFromBuckets(b0: DataFrame, idCol: String, vecCol: String,
                                k: Int, bucketed: Boolean, bucketBits: Int,
                                hotBucketCap: Int): DataFrame = {
    val b = if (!bucketed || hotBucketCap <= 0) b0
            else splitHotBuckets(b0, idCol, bucketBits, hotBucketCap)
    val integralId = b0.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // The kNN pair list (n x k rows) feeds kdist, reach, lrd AND the
    // final ratio — four plan references. Pin it (and the equally
    // bounded reach frame) so the candidate stage runs ONCE; default
    // Dataset storage spills to disk, so at scale this costs k x input
    // in cache space, not recomputation. The returned frame is lazy, so
    // the operator cannot release its pins: they belong to the caller's
    // innermost scope, else the session (GraftSession.releaseAll).
    val knn = graft.GraftSession.pin(if (bucketed && integralId)
      knnHeap(b, idCol, vecCol, k, bucketBits)
    else {
      val a = b.select(col("__bucket"), col(idCol).as("p"),
        col(vecCol).as("__vp"), col("__n").as("__np"))
      val c = b.select(col("__bucket"), col(idCol).as("o"),
        col(vecCol).as("__vo"), col("__n").as("__no"))
      val denom = col("__np") * col("__no")
      // The top-k window is keyed (__bucket, p), not p alone: a point
      // lives in exactly ONE bucket, so the grouping is identical —
      // but under a sort-merge self-join the candidate frame arrives
      // hash-partitioned by __bucket, and HashPartitioning(__bucket)
      // satisfies ClusteredDistribution(__bucket, p), so
      // EnsureRequirements ELIDES the exchange a per-p window would
      // insert; under the small-SF broadcast shape the exchange stays
      // but carries only the WindowGroupLimit-Partial survivors.
      val wk = Window.partitionBy(col("__bucket"), col("p"))
        .orderBy(col("dist").asc, col("o").asc)
      // coalesce: graft_dot yields null on ragged vector lengths — treat
      // a length-mismatched pair as unrelated (dist 1.0, the zero-norm
      // convention) instead of letting the null sort first; the heap
      // path applies the identical guard so both forms stay row-equal
      a.join(c, Seq("__bucket"))
        .filter(col("p") =!= col("o"))
        .withColumn("dist",
          lit(1.0) - coalesce(when(denom =!= 0.0,
            round(Similarity.dot(col("__vp"), col("__vo")) / denom, 6)), lit(0.0)))
        .withColumn("__rn", row_number().over(wk))
        .filter(col("__rn") <= k)
        .select("p", "o", "dist")
    })
    val kdist = knn.groupBy(col("p"))
      .agg(max(col("dist")).as("kdist"))
    val reach = graft.GraftSession.pin(knn
      .join(kdist.select(col("p").as("o"), col("kdist").as("__kdist_o")), Seq("o"))
      .withColumn("reach", greatest(col("__kdist_o"), col("dist"))))
    // identical points give reach sums of 0 — classic LOF sends lrd to
    // infinity there; cap instead so the ratio stays finite and ordered
    val lrd = graft.GraftSession.pin(reach.groupBy(col("p")).agg(
      count(lit(1)).as("n_neighbors"),
      when(sum(col("reach")) > 0.0,
        count(lit(1)).cast("double") / sum(col("reach")))
        .otherwise(lit(1e12)).as("lrd")))
    reach
      .join(lrd.select(col("p").as("o"), col("lrd").as("__lrd_o")), Seq("o"))
      .groupBy(col("p"))
      .agg(avg(col("__lrd_o")).as("__avg_lrd_o"))
      .join(lrd, Seq("p"))
      .withColumn("lof",
        round(when(col("lrd") > 0.0, col("__avg_lrd_o") / col("lrd")), 6))
      .select(col("p").as(idCol), col("n_neighbors"), round(col("lrd"), 6).as("lrd"), col("lof"))
  }

  /** Sub-split buckets above `cap` into ceil(occ / cap) deterministic
    * slices. The hot list is tiny by construction (a bucket must hold
    * > cap points to enter it), so it broadcasts regardless of corpus
    * size; sub-bucket ids extend the plane bits upward
    * (`bucket + (slice+1) · 2^planes`), so they can never collide
    * with an unsplit bucket. The slice hash reads the id's STRING
    * form: the split must land identically whether the id column
    * arrived integral (heap path) or textual (window path) — the
    * parity spec pins exactly this.
    */
  private def splitHotBuckets(b: DataFrame, idCol: String, bits: Int,
                              cap: Int): DataFrame = {
    val hot = broadcast(
      b.groupBy(col("__bucket")).agg(count(lit(1)).as("__occ"))
        .filter(col("__occ") > cap)
        .select(col("__bucket"),
          ceil(col("__occ").cast("double") / cap).cast("long").as("__nsub")))
    b.join(hot, Seq("__bucket"), "left")
      .withColumn("__bucket",
        when(col("__nsub").isNull, col("__bucket"))
          .otherwise(col("__bucket") +
            (pmod(xxhash64(col(idCol).cast("string")), col("__nsub")) + 1L) *
              lit(1L << math.min(bits, 61))))
      .drop("__nsub")
  }

  /** Buckets a task holds at once is ONE (see [[knnHeap]]); this is how
    * many it processes in sequence — the exchange is sized so a task
    * owns ~this many buckets, purely a parallelism/overhead knob (per-
    * bucket CPU is constant under occupancy-stable sizing, so tasks
    * balance by bucket count).
    */
  private val BucketsPerTask = 64

  /** Bucketed-mode kNN via per-bucket streaming heaps: ONE shuffle of
    * the input points by bucket, then each point's top-k is kept in a
    * k-heap while its bucket streams past — candidate PAIRS are never
    * materialized as rows. The declarative self-join + window form
    * materializes n × occupancy pair rows with both vectors copied
    * into each (at the 200k-vector gate: ~78M rows ≈ 43 GB per pass)
    * before the group-limit prunes them; this form shuffles the n
    * input rows instead. Output and values are row-identical to the
    * window form: same dot/norm fold order, same HALF_UP 6-dp
    * rounding (the [[graft.llm.Similarity.bruteForceTopKPartitioned]]
    * precedent, parity-spec'd in AnomalySpec), same (dist asc, o asc)
    * tie-break, same ragged-length convention (dist 1.0). Used when
    * planes > 0 and the id column is integral (ids travel as long
    * through the chain); exact mode keeps the join/window plan, whose
    * broadcast shape parallelizes the single bucket across input
    * partitions.
    *
    * Memory shape: the exchange carries an EXPLICIT partition count
    * ∝ bucket count (2^planes ≈ n / targetBucketSize — the
    * [[graft.llm.Dedup]] precedent: AQE coalesces small-by-bytes
    * shuffles, blind to the per-bucket quadratic CPU behind them, and
    * repartition-by-num is exempt from coalescing), rows are sorted
    * within each partition by bucket (Spark's shuffle sort — spills),
    * and the task streams ONE bucket at a time: the resident set is a
    * single bucket (≈ occupancy, bounded by [[planesFor]]), not the
    * partition. Buckets-per-partition can grow with n without growing
    * task memory.
    */
  private def knnHeap(b: DataFrame, idCol: String, vecCol: String,
                      k: Int, bits: Int): DataFrame = {
    val spark = b.sparkSession
    import spark.implicits._
    // worst candidate on top: largest dist, then largest o — so the
    // heap retains the k smallest under (dist asc, o asc)
    val worstFirst: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val defaultParts =
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val bucketsTotal = if (bits >= 62) Long.MaxValue else 1L << bits
    val parts = math.max(defaultParts,
      math.min(bucketsTotal / BucketsPerTask + 1L, 65536L).toInt)
    b.select(col("__bucket"), col(idCol).cast("long"),
        col(vecCol).cast("array<float>"), col("__n"))
      .as[(Long, Long, Array[Float], Double)]
      .repartition(parts, col("__bucket"))
      .sortWithinPartitions(col("__bucket"))
      .mapPartitions { it0 =>
        // rows arrive clustered by __bucket: buffer exactly one run
        // (= one bucket), emit its heaps, then move on — at most one
        // bucket of vectors is ever resident in the task
        val it = it0.buffered
        new Iterator[(Long, Long, Double)] {
          private var out: Iterator[(Long, Long, Double)] = Iterator.empty
          private def advance(): Unit = {
            while (!out.hasNext && it.hasNext) {
              val bk = it.head._1
              val pts = new scala.collection.mutable.ArrayBuffer[
                (Long, Array[Float], Double)]()
              while (it.hasNext && it.head._1 == bk) {
                val (_, id, v, n) = it.next()
                pts += ((id, v, n))
              }
              out = pts.iterator.flatMap { case (p, vp, np) =>
                val heap = scala.collection.mutable.PriorityQueue
                  .empty[(Double, Long)](worstFirst)
                var i = 0
                while (i < pts.length) {
                  val (o, vo, no) = pts(i)
                  if (o != p) {
                    val denom = np * no
                    val dist =
                      if (denom == 0.0 || vp.length != vo.length) 1.0
                      else {
                        var d = 0.0; var j = 0
                        while (j < vp.length) { d += vp(j).toDouble * vo(j).toDouble; j += 1 }
                        1.0 - BigDecimal(d / denom)
                          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                      }
                    heap.enqueue((dist, o))
                    if (heap.size > k) heap.dequeue()
                  }
                  i += 1
                }
                heap.iterator.map { case (dist, o) => (p, o, dist) }
              }
            }
          }
          override def hasNext: Boolean = { advance(); out.hasNext }
          override def next(): (Long, Long, Double) = { advance(); out.next() }
        }
      }.toDF("p", "o", "dist")
  }

  /** Fit + threshold — the reference's surface: rows whose LOF exceeds
    * `threshold` (1.5 is the usual starting point).
    */
  def detect(df: DataFrame, idCol: String, vecCol: String,
             threshold: Double = 1.5, k: Int = 5, planes: Int = 4,
             hotBucketCap: Int = 2048): DataFrame =
    df.join(scores(df, idCol, vecCol, k, planes, hotBucketCap)
      .filter(col("lof") > threshold)
      .select(idCol, "lof"), Seq(idCol))

  /** Hyperplane count that keeps expected bucket occupancy near
    * `targetBucketSize`: ceil(log2(n / target)), floored at 1. THE
    * scale lever for the whole LOF chain — with FIXED planes the
    * bucket population grows linearly with the corpus, so the
    * in-bucket candidate self-join grows QUADRATICALLY (the sf1 gate
    * measured q_anom_lof at 12.9× for 10× data, the only
    * near-superlinear query in the suite). Holding occupancy constant
    * instead makes bucket count ∝ n and per-bucket cost constant —
    * linear total, the 100 TB shape. Occupancy also fixes the
    * quality/recall profile: neighbourhoods are found within a
    * same-sized candidate pool regardless of corpus size.
    */
  def planesFor(n: Long, targetBucketSize: Int = 512): Int =
    // shared with every hyperplane-LSH consumer; n ≤ target → 0 =
    // [[scores]]' exact single-bucket mode (hashing a corpus that fits
    // one bucket could only strand points alone, never save work)
    Similarity.planesFor(n, targetBucketSize)

  /** [[detect]] with `planes` sized from the corpus: one count() scan,
    * then the same plan with occupancy-stable buckets.
    */
  def detectAuto(df: DataFrame, idCol: String, vecCol: String,
                 threshold: Double = 1.5, k: Int = 5,
                 targetBucketSize: Int = 512): DataFrame =
    detect(df, idCol, vecCol, threshold, k,
      planes = planesFor(df.count(), targetBucketSize),
      hotBucketCap = 4 * targetBucketSize)

  /** LOF with LEARNED neighbourhoods: candidate buckets are IVF cells
    * ([[graft.llm.Ivf]] k-means quantizer) instead of [[scores]]'
    * data-blind hyperplane half-spaces. Everything downstream of the
    * bucket column is the SAME plan ([[scoresFromBuckets]]): the two
    * paths differ only in which points become candidate neighbours.
    *
    * Why it exists (r17 adjudication, measured in AnomalySpec's
    * planted-outlier comparison): a LOCAL outlier — angularly offset
    * from its cluster by a few times the cluster spread — sits on the
    * wrong side of some hash hyperplane, lands in a bucket with no
    * cluster member, and either drops out (alone) or pairs only with
    * other strays (LOF ≈ 1): the hyperplane path misses it. A trained
    * cell instead assigns it to its nearest CLUSTER, so its kNN are
    * the dense inliers and the lrd ratio fires. Measured at equal
    * target occupancy (64) and in-bucket pair-cost parity (84k vs
    * 101k pairs): planted recovery 6/6 here (5/6 with the singleton
    * rescue off) vs 2/6 for the hyperplane path; exact all-pairs 6/6.
    * Same downstream plan, same cost per candidate — strictly
    * better-correlated candidates (the q_sim_ivf_recall vs
    * q_sim_lsh_recall telemetry measures the same effect on ANN
    * recall: 0.79 vs 0.23 at sf10).
    *
    * Scale shape — why [[detectAuto]] KEEPS hyperplanes as the
    * default: equal-occupancy cells mean `nlist = n / target`, and the
    * assignment pass is O(n · nlist · dim) — quadratic in n with
    * occupancy held constant, vs the hyperplane path's
    * O(n · log(n/target) · dim). IVF-cell LOF is therefore the
    * OPT-IN quality path: pass `quantizer` when the pipeline already
    * trained one (semantic dedup, the ANN index — [[graft.llm.Ivf
    * .trainAutoCached]] memoizes exactly this artifact), making this
    * one map-side kernel pass over the corpus; or accept the built-in
    * sqrt-rule training for mid-size corpora, where cells run fatter
    * than `target` and the hot-cell cap re-bounds per-task work with
    * hash sub-slices OF A LEARNED CELL (still all near points — the
    * slice approximation the hyperplane path applies to hash buckets
    * applies here to strictly better-correlated pools).
    *
    * On the BUILT-IN-TRAINING path (no `quantizer` passed), corpora
    * at or under `targetBucketSize` route to the exact single-bucket
    * plan, mirroring [[planesFor]]'s n ≤ target → 0. An explicitly
    * passed quantizer is honored as-is — the amortized path never
    * pays the count pass that routing decision needs, so a tiny
    * corpus with a pre-trained index keeps the IVF-cell plan (pass
    * no quantizer if exact-plan routing matters more than reuse).
    *
    * `rescueSingletons` (default on) closes the learned path's own
    * strand hazard: Lloyd can hand an isolated point a PRIVATE cell
    * (a seed lands on or drifts to it and the centroid converges to
    * the point itself), and a point alone in its bucket drops out of
    * the scores exactly when it is most anomalous. Centroids make the
    * fix principled where hash buckets have no analog: a singleton's
    * second-nearest centroid IS its next-best neighbourhood, so the
    * rescue re-assigns every occupancy-1 row against the non-singleton
    * cells (one bounded broadcast anti-join + one map-side kernel pass
    * over the stranded sliver). The comparison spec measures the
    * effect: 5/6 planted recovery without rescue (one outlier held a
    * private cell), 6/6 with. Cells of occupancy 2+ that hold ONLY
    * strays remain the documented residual (their members score each
    * other, LOF ≈ 1).
    */
  def scoresIvf(df: DataFrame, idCol: String, vecCol: String,
                k: Int = 5, targetBucketSize: Int = 512,
                hotBucketCap: Int = 2048,
                quantizer: Option[DataFrame] = None,
                nlist: Int = 0, iters: Int = 2,
                rescueSingletons: Boolean = true): DataFrame = {
    import graft.llm.Ivf
    val base = df.select(col(idCol), col(vecCol))
    val q = quantizer.getOrElse {
      val n = base.count()
      if (n <= targetBucketSize)
        return scores(df, idCol, vecCol, k, planes = 0,
          hotBucketCap = hotBucketCap)
      // explicit nlist = the equal-occupancy operating point (the
      // comparison spec's "same candidate-pool size as planesFor");
      // default = the sqrt rule, the bounded-build operating point
      val cells = if (nlist > 0) nlist else Ivf.nlistFor(n)
      Ivf.trainIndex(base, idCol, vecCol, cells, iters, knownCount = Some(n))
    }
    // cell ids are ints ≥ 0 by the index contract (trainIndex seeds
    // rank from 1); the hot-split mints sub-buckets above 2^bits
    val maxCid = q.agg(max(col("__cid").cast("long"))).head().getLong(0)
    require(maxCid >= 0, s"IVF cell ids must be non-negative, got max $maxCid")
    val bits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(maxCid + 1))
    val assigned0 = graft.GraftSession.persistIfSmall(
      Ivf.assignToCentroids(base, vecCol, q, "__cid", "__cvec"))
    val assigned =
      if (!rescueSingletons) assigned0
      else {
        // occupancy-1 cells: bounded (≤ nlist rows) → broadcast both
        // the detection frame and the anti-joins it drives
        val singles = broadcast(
          assigned0.groupBy(col("__cid")).agg(count(lit(1)).as("__occ"))
            .filter(col("__occ") === 1).select(col("__cid")))
        val nSingles = singles.count()
        val keepCents = q.join(singles, Seq("__cid"), "left_anti")
        if (nSingles == 0 || q.count() == nSingles) assigned0
        else {
          val stranded = assigned0.join(singles, Seq("__cid"), "left_semi")
            .drop("__cid")
          assigned0.join(singles, Seq("__cid"), "left_anti").unionByName(
            Ivf.assignToCentroids(stranded, vecCol, keepCents,
              "__cid", "__cvec"))
        }
      }
    val b0 = graft.GraftSession.persistIfSmall(
      assigned
        .withColumn("__bucket", col("__cid").cast("long"))
        .drop("__cid")
        .withColumn("__n", Similarity.norm(col(vecCol))))
    scoresFromBuckets(b0, idCol, vecCol, k,
      bucketed = true, bucketBits = bits, hotBucketCap = hotBucketCap)
  }

  /** [[detect]] over [[scoresIvf]] — threshold gate on the learned-
    * neighbourhood scores.
    */
  def detectIvf(df: DataFrame, idCol: String, vecCol: String,
                threshold: Double = 1.5, k: Int = 5,
                targetBucketSize: Int = 512, hotBucketCap: Int = 2048,
                quantizer: Option[DataFrame] = None): DataFrame =
    df.join(scoresIvf(df, idCol, vecCol, k, targetBucketSize, hotBucketCap,
        quantizer)
      .filter(col("lof") > threshold)
      .select(idCol, "lof"), Seq(idCol))
}
