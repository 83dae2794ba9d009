package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-similarity operators over `array<float>` embedding columns.
  * Dot products / norms are higher-order-function expressions with
  * explicit double accumulation (left fold) — codegen'd, map-side,
  * reproducible across engines and partitionings.
  *
  * Scale paths:
  *  - [[bruteForceTopK]]: broadcast the (small) query set, compute
  *    similarities map-side over the corpus, then a per-query window
  *    for the top k. The corpus is scanned once and never shuffled by
  *    vector; only (corpus × |queries|) similarity rows reach the
  *    ranking shuffle — prune with `minSim` when |queries| is large.
  *  - [[lshTopK]]: deterministic random-hyperplane signatures bucket
  *    the corpus; candidates come only from the query's bucket —
  *    candidate set ≪ n, recall measured in the spec suite.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double, sequential left-to-right accumulation
    * (order-stable). Native codegen'd expression
    * ([[graft.plans.VectorExpressions]]) — the HOF formulation
    * (`aggregate(zip_with(...))`) has identical semantics but runs
    * interpreted, which dominates pairwise-similarity cost.
    */
  def dot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.dotProduct(a, b)

  /** The HOF reference formulation of [[dot]] (kept for cross-checking
    * the native expression in specs).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, rounded to `scale` dp (cross-engine-stable);
    * null when either vector has zero norm.
    */
  def cosine(a: Column, b: Column, scale: Int = 6): Column = {
    val denom = norm(a) * norm(b)
    when(denom =!= 0.0, round(dot(a, b) / denom, scale))
  }

  /** Exact top-k nearest neighbours by cosine for every query vector.
    * Output: (query_id, neighbor_id, sim, rnk).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     corpusId: String, queryId: String, vecCol: String,
                     k: Int, minSim: Double = -1.0): DataFrame = {
    // norms are per-row: precompute each side ONCE before pairing —
    // the pairwise expression then folds each vector pair once (dot),
    // not three times (dot + both norms)
    val q = queries.select(col(queryId), col(vecCol).as("__qvec"))
      .withColumn("__qnorm", norm(col("__qvec")))
    val c = corpus.withColumn("__cnorm", norm(col(vecCol)))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col(corpusId).asc)
    val denom = col("__cnorm") * col("__qnorm")
    c.crossJoin(broadcast(q))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim",
        when(denom =!= 0.0, round(dot(col(vecCol), col("__qvec")) / denom, 6)))
      .filter(col("sim") >= minSim)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"),
        col("sim"), col("rnk").cast("long").as("rnk"))
  }

  /** Hyperplane count that keeps expected bucket occupancy near
    * `targetBucketSize`: ceil(log2(n / target)), 0 when the corpus
    * fits one bucket (exact mode). THE scale lever for every
    * hyperplane-LSH consumer ([[lshTopK]]'s per-query candidate pool,
    * [[graft.quality.Lof]]'s in-bucket self-join): with FIXED planes,
    * occupancy grows linearly with the corpus — per-query rank cost
    * grows linearly and bucket self-joins grow quadratically. Holding
    * occupancy constant makes bucket count ∝ n instead: constant
    * per-query cost, linear self-join totals, and a recall profile
    * that does not drift as the corpus grows (measured at the r12 sf1
    * gate — see PLANS.md).
    */
  def planesFor(n: Long, targetBucketSize: Int = 512): Int = {
    require(targetBucketSize > 0, "targetBucketSize > 0")
    if (n <= targetBucketSize) 0
    else math.ceil(math.log(n.toDouble / targetBucketSize) / math.log(2.0)).toInt
  }

  /** Deterministic random-hyperplane bucket id over `planes` bits.
    * Plane weights are ±1 derived from xxhash64(plane, dim) — no RNG,
    * so signatures reproduce across runs/engines/partitions.
    * `planes <= 0` is the degenerate single bucket (exact mode: every
    * pair is a candidate) — same contract as [[graft.quality.Lof]].
    * Size `planes` with [[planesFor]] when the corpus size is not a
    * known constant.
    */
  def hyperplaneBucket(vec: Column, planes: Int): Column =
    hyperplaneBucketSlice(vec, planes, 0)

  /** `planes` hyperplane bits drawn from plane indices
    * `offset until offset + planes` of the same deterministic hash
    * family — so consumers can extend a bucket id with FRESH planes
    * (hot-bucket refinement) that are independent of, and reproduce
    * alongside, the base [[hyperplaneBucket]] bits.
    */
  def hyperplaneBucketSlice(vec: Column, planes: Int, offset: Int): Column = {
    if (planes <= 0) return lit(0L)
    // native codegen kernel — the HOF formulation below evaluated an
    // interpreted lambda chain + per-element two-arg xxhash64 for
    // every (row × plane × dimension); parity is spec-pinned.
    // The kernel type-checks strictly for array<float>; the cast keeps
    // the old HOF's tolerance for other numeric element types
    // (array<double> callers like Lof). Elements narrow through float
    // before the double-precision fold, perturbing each projection by
    // up to ~2^-24 RELATIVE per term — so for non-float inputs the
    // cast CAN flip the sign of any small-magnitude projection, i.e.
    // it changes bucketing, not just within-ulp-of-zero cases. That is
    // a recall-only effect (buckets generate candidate pairs; pair
    // verification is exact), never a pair-correctness one.
    // SimplifyCasts removes the no-op cast on the common array<float>
    // path, where the kernel is bit-identical to the HOF reference.
    graft.plans.VectorExpressions.hyperplaneBits(
      vec.cast("array<float>"), planes, offset)
  }

  /** The declarative zip_with/aggregate formulation of
    * [[hyperplaneBucketSlice]], kept as the cross-check reference for
    * the native kernel's parity spec.
    */
  private[graft] def hyperplaneBucketSliceHof(vec: Column, planes: Int,
                                              offset: Int): Column = {
    if (planes <= 0) return lit(0L)
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, d) =>
          x.cast("double") *
            when(pmod(xxhash64(lit(p + offset), d), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Brute-force top-k with PER-PARTITION pre-pruning: each corpus
    * partition keeps only its own k best candidates per query in a
    * bounded heap (mapPartitions — the one place imperative
    * per-partition logic genuinely beats the declarative plan), so the
    * ranking shuffle carries ≤ partitions × |queries| × k rows instead
    * of |corpus| × |queries|. The query set is explicitly
    * broadcast-sized (same contract as [[bruteForceTopK]], which this
    * matches row-for-row — see the equality spec).
    */
  def bruteForceTopKPartitioned(corpus: DataFrame, queries: DataFrame,
                                corpusId: String, queryId: String, vecCol: String,
                                k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qs: Array[(Long, Array[Float])] = queries
      .select(col(queryId).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
    val qNorms = qs.map { case (_, v) =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val bc = spark.sparkContext.broadcast((qs, qNorms))
    // worst-first ordering: lowest sim, then HIGHEST id (id asc wins ties)
    val worstFirst: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long.reverse).reverse
    val candidates = corpus.select(col(corpusId).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val (qArr, qN) = bc.value
        val heaps = Array.fill(qArr.length)(
          collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
        rows.foreach { case (id, v) =>
          var cn = 0.0
          var i = 0
          while (i < v.length) { cn += v(i).toDouble * v(i).toDouble; i += 1 }
          val cNorm = math.sqrt(cn)
          var q = 0
          while (q < qArr.length) {
            val (qid, qv) = qArr(q)
            if (qid != id && cNorm != 0.0 && qN(q) != 0.0) {
              var d = 0.0; var j = 0
              while (j < v.length) { d += v(j).toDouble * qv(j).toDouble; j += 1 }
              val sim = BigDecimal(d / (cNorm * qN(q)))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              heaps(q).enqueue((sim, id))
              if (heaps(q).size > k) heaps(q).dequeue()
            }
            q += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
          h.iterator.map { case (sim, id) => (qArr(q)._1, id, sim) }
        }
      }.toDF(queryId, corpusId, "sim")
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col(corpusId).asc)
    candidates.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"),
        col("sim"), col("rnk").cast("long").as("rnk"))
  }

  /** Approximate top-k: candidates restricted to the query's
    * hyperplane bucket, then exact cosine rank within it. Fewer planes
    * → bigger buckets → higher recall & cost.
    *
    * `multiProbe` additionally probes every bucket at Hamming
    * distance 1 from the query's (classic multi-probe LSH: a true
    * neighbour that landed one unlucky hyperplane away is recovered
    * instead of lost). The corpus is hashed ONCE either way — only
    * the broadcast query side fans out to planes + 1 bucket keys, so
    * the per-query candidate pool grows to ~(planes + 1) × occupancy:
    * LOGARITHMIC in the corpus under occupancy-stable sizing (planes
    * ≈ log2(n / target)), the right recall-vs-cost curve for a
    * registered operating point (single-probe recall@10 measured
    * 0.39 / 0.27 at the sf0.1 / sf1 gates; multi-probe re-measured in
    * PLANS.md r14). A corpus point lives in exactly one bucket, so a
    * (query, candidate) pair can never appear twice — no dedup stage.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              corpusId: String, queryId: String, vecCol: String,
              k: Int, planes: Int = 8, multiProbe: Boolean = false): DataFrame = {
    val cb = corpus.withColumn("__bucket", hyperplaneBucket(col(vecCol), planes))
      .withColumn("__cnorm", norm(col(vecCol)))
    val qBucket = hyperplaneBucket(col("__qvec"), planes)
    val qb0 = queries.select(col(queryId), col(vecCol).as("__qvec"))
      .withColumn("__qnorm", norm(col("__qvec")))
    val qb =
      if (!multiProbe || planes <= 0) qb0.withColumn("__bucket", qBucket)
      else qb0.withColumn("__bucket", explode(array(
        qBucket +: (0 until planes).map(i =>
          qBucket.bitwiseXOR(lit(1L << i))): _*)))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col(corpusId).asc)
    val denom = col("__cnorm") * col("__qnorm")
    cb.join(broadcast(qb), Seq("__bucket"))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim",
        when(denom =!= 0.0, round(dot(col(vecCol), col("__qvec")) / denom, 6)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"),
        col("sim"), col("rnk").cast("long").as("rnk"))
  }

  /** [[lshTopK]] with `planes` sized from the corpus (one count()
    * scan) and Hamming-1 multi-probe on: per-query candidate pools
    * stay ~(planes + 1) × `targetBucketSize` as the corpus grows —
    * log-bounded cost with the recall the probes buy back — instead
    * of growing linearly under a fixed plane count.
    */
  def lshTopKAuto(corpus: DataFrame, queries: DataFrame,
                  corpusId: String, queryId: String, vecCol: String,
                  k: Int, targetBucketSize: Int = 512): DataFrame =
    lshTopK(corpus, queries, corpusId, queryId, vecCol, k,
      planes = planesFor(corpus.count(), targetBucketSize), multiProbe = true)

  /** THE generic-kNN entry point: a user who just asks for neighbours
    * gets the IVF cell index — per-round telemetry (q_sim_ivf_recall
    * vs q_sim_lsh_recall; PLANS.md r14) measured IVF nprobe=8
    * recall@10 0.79 at sf10 in 2.2 s against 0.23 for Hamming-1
    * multi-probe hyperplane LSH on the same hard query set, the FAISS
    * conclusion reproduced: learned cells adapt to the data
    * distribution where fixed hyperplanes cannot, and the sqrt-rule
    * cell count keeps per-query probe cost ~nprobe·sqrt(n).
    *
    * Below `exactThreshold` rows the router returns EXACT brute force
    * (the FAISS flat-index regime: at small n the full pairing is
    * cheaper than an index build and recall is 1.0 by construction);
    * above it, a sampled-training IVF index for this batch (a pin the
    * caller's scope owns, see GraftSession.releaseAll, or train once with
    * [[graft.llm.Ivf.trainAutoCached]] and probe [[graft.llm.Ivf.topK]]
    * directly across many batches).
    */
  def topKAuto(corpus: DataFrame, queries: DataFrame,
               corpusId: String, queryId: String, vecCol: String,
               k: Int, nprobe: Int = 8,
               exactThreshold: Long = 16384,
               indexKey: Option[String] = None): DataFrame = indexKey match {
    case Some(key) =>
      // memoized trained quantizer (Ivf.trainAutoCached invalidation
      // contract): a key hit serves both the routing count and the
      // centroids with zero Spark jobs; the corpus re-attaches with
      // one map-side kernel pass, and probing uses the TRAINED
      // centroids (the FAISS quantizer semantics) instead of
      // re-aggregating member means per call
      val (n, cents) = Ivf.trainAutoCached(corpus, corpusId, vecCol,
        iters = 2, cacheKey = key)
      if (n <= exactThreshold)
        bruteForceTopKPartitioned(corpus, queries, corpusId, queryId, vecCol, k)
      else
        Ivf.topKIndexed(corpus, queries, corpusId, queryId, vecCol,
          cents, k, nprobe)
    case None =>
      val n = corpus.count()
      if (n <= exactThreshold)
        bruteForceTopKPartitioned(corpus, queries, corpusId, queryId, vecCol, k)
      else {
        val index = graft.GraftSession.pin(Ivf.buildIndexSampled(corpus, corpusId,
          vecCol, Ivf.nlistFor(n), knownCount = Some(n)))
        index.count() // materialize before the probe job can race the cache
        val cents = Ivf.centroids(index, vecCol)
        Ivf.topK(index, queries, corpusId, queryId, vecCol, k, nprobe,
          cellCentroids = Some(cents))
      }
  }

  /** Per-query recall of an approximate top-k against the exact one:
    * (query_id, found, expected, recall) where found counts the
    * (query_id, neighbor_id) pairs the approximate result shares with
    * the exact result and expected is the exact result's size (≤ k —
    * the denominator that stays honest when the corpus is smaller
    * than k). Both inputs are any frame with query_id / neighbor_id
    * columns ([[bruteForceTopK]] / [[lshTopK]] / [[graft.llm.Ivf.topK]]
    * shapes). The join carries |queries| × k rows a side — telemetry
    * is cheap at any corpus size because only the query subsample
    * fans out.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("found"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("expected"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("found"), lit(0L)).as("found"),
        col("expected"),
        round(coalesce(col("found"), lit(0L)).cast("double") /
          col("expected"), 6).as("recall"))
  }

  // ---- int8 scalar quantization --------------------------------------

  /** Symmetric per-vector int8 quantization: `float[d]` (4d bytes)
    * becomes `(scale: double, q: tinyint[d])` (~d bytes) — a ~4×
    * smaller ANN working set, which at 100 TB is the difference
    * between an in-memory corpus scan and a spilling one. Rank order
    * of cosine similarities survives to ~1e-2 (spec-measured); use for
    * candidate generation, re-rank survivors with the float vectors.
    *
    * The scale lands in its own column first so the per-element lambda
    * captures a cheap bound reference — a captured SUBTREE would be
    * re-evaluated per element by the interpreted HOF.
    */
  def withQuantizedVec(df: DataFrame, vecCol: String,
                       outCol: String = "qvec"): DataFrame =
    df.withColumn("__qs",
        array_max(transform(col(vecCol), x => abs(x.cast("double")))) / lit(127.0))
      .withColumn(outCol, struct(
        col("__qs").as("scale"),
        transform(col(vecCol), x =>
          when(col("__qs") =!= 0.0, round(x.cast("double") / col("__qs")))
            .otherwise(0.0).cast("tinyint")).as("q")))
      .drop("__qs")

  /** Reconstruct the (lossy) float vector from a quantized struct. */
  def dequantize(qvec: Column): Column =
    transform(qvec.getField("q"),
      e => (e.cast("double") * qvec.getField("scale")).cast("float"))

  /** End-to-end quantized ANN: candidate generation scans only the
    * int8 corpus (~4× less I/O and memory than the float vectors —
    * at 100 TB the quantized columns are what you keep hot), taking
    * the top `rerankFactor × k` per query by quantized cosine, then
    * an exact float re-rank of that small candidate set. The re-rank
    * join touches the float vectors for ≤ |queries| × rerankFactor × k
    * rows only. Recall vs full brute force is spec-measured.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
                    corpusId: String, queryId: String, vecCol: String,
                    k: Int, rerankFactor: Int = 4,
                    qvecCol: String = "qvec"): DataFrame = {
    val qcorpus = (if (corpus.columns.contains(qvecCol)) corpus
                   else withQuantizedVec(corpus, vecCol, qvecCol))
      .select(col(corpusId), dequantize(col(qvecCol)).as("__dq"))
    val cand = bruteForceTopK(qcorpus,
        queries.select(col(queryId), col(vecCol).as("__dq")),
        corpusId, queryId, "__dq", k = k * rerankFactor)
      .select(col("query_id"), col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    // the candidate set (<= |queries| x rerankFactor x k rows) is the
    // broadcast side — without the hint the static planner has no size
    // stats for a window-over-join output and would shuffle the corpus
    broadcast(cand)
      .join(corpus.select(col(corpusId).as("neighbor_id"),
        col(vecCol).as("__cvec")), "neighbor_id")
      .join(broadcast(queries.select(col(queryId).as("query_id"),
        col(vecCol).as("__qvec"))), "query_id")
      .withColumn("sim", cosine(col("__cvec"), col("__qvec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rnk").cast("long").as("rnk"))
  }
}
