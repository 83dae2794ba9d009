package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF (inverted-file) approximate nearest neighbour: partition the
  * corpus into `nlist` cells around k-means centroids; a query scans
  * only its `nprobe` nearest cells. The scale path when hyperplane LSH
  * buckets are too coarse: cells adapt to the data distribution.
  *
  * Fully deterministic:
  *  - seeding picks the `nlist` vectors with the lowest xxhash64(id)
  *    (hash-spread, no RNG);
  *  - Lloyd iterations assign via a broadcast centroid-array argmax
  *    (map-side, zero shuffle of the train set) and re-average per
  *    cell through ONE per-dimension sum/count hash aggregation —
  *    one Spark job per iteration, with a driver-side early exit as
  *    soon as the centroids stop moving;
  *  - the index (corpus + cell id) is a plain DataFrame: persist it
  *    once, probe it per query batch.
  *
  * Centroid frames are bounded metadata (`nlist = ceil(sqrt(n))` rows):
  * the driver footprint of the collected centroid array is
  * O(nlist · dim) floats — ~51 MB for a 10^10-row corpus of 64-dim
  * vectors, which is why collecting it is safe where collecting data-
  * sized frames is not. Past [[driverCentroidFloatBudget]] (very wide
  * vectors × 10^5+ cells) every step falls back to the fully
  * distributed formulation ([[lloydDistributed]]/[[assignDistributed]]),
  * which never materializes centroids on the driver.
  */
object Ivf {

  /** Collected centroids, sorted ascending by cell id (the argmax
    * tie-break order). A null vector is carried but never scored —
    * mirroring the expression form, where a null centroid produces
    * null similarities that lose to any scored cell.
    */
  private type Cents = Array[(Long, Array[Float])]

  /** Driver-side centroid budget in floats (~64 MB as doubles during
    * aggregation). `nlist · dim` above this routes to the distributed
    * Lloyd/assign path.
    */
  private val driverCentroidFloatBudget: Long = 1L << 24

  /** Append `__cid` per row from a driver-side centroid array — pure
    * map-side (no shuffle, no join): the assignment rides whatever
    * scan the consumer plans, through the native codegen'd
    * [[graft.plans.ArgmaxCellF]] kernel (which replaced the r15
    * broadcast-array UDF — the last interpreted per-row loop on this
    * hot path; its parity contract lives on the expression).
    * Assignment is per-ROW; duplicate ids pass through unchanged.
    */
  private def assignDriver(df: DataFrame, vecCol: String, cents: Cents,
                           cidType: DataType): DataFrame =
    if (cents.isEmpty)
      // no centroids, no cells: mirror the join form's empty result
      df.filter(lit(false)).withColumn("__cid", lit(null).cast(cidType))
    else
      df.withColumn("__cid",
        graft.plans.VectorExpressions.argmaxCell(
          col(vecCol).cast("array<float>"), cents.map(_._1), cents.map(_._2))
          .cast(cidType))

  /** Collect a bounded centroid frame (`__cid`, `__cvec`) to the
    * driver, sorted by cell id. Centroid frames are metadata-sized by
    * contract (the same contract `broadcast(...)` imposed on the join
    * form); null cell ids are dropped.
    */
  private def collectCentroids(cf: DataFrame): Cents =
    cf.filter(col("__cid").isNotNull)
      .select(col("__cid").cast("long"), col("__cvec"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Assign every row to its most-cosine-similar centroid from an
    * EXPLICIT centroid frame (ties → lowest centroid id) — the public
    * single-step form of the Lloyd assignment [[buildIndex]] iterates:
    * fixed reference centroids make the geometry fully deterministic
    * arithmetic, so downstream aggregates are oracle-checkable (unlike
    * the learned-centroid index, which is rows-only by construction).
    * Appends `__cid`. Integral cell ids ride the map-side broadcast
    * argmax (zero shuffle); any other id type keeps the broadcast-join
    * formulation.
    */
  def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, centIdCol: String,
                        centVecCol: String): DataFrame = {
    val cf = centroids.select(
      col(centIdCol).as("__cid"), col(centVecCol).as("__cvec"))
    cf.schema("__cid").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        // re-check the driver budget before collecting (r17): a LOADED
        // index frame ([[loadIndex]]) can carry a quantizer that was
        // trained distributed precisely because nlist·dim exceeds the
        // budget — collecting it here would be the OOM centroids()
        // already guards against. Driver-local frames skip the probe
        // jobs (they are already in driver memory by construction).
        val isLocal = cf.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
        val withinBudget = isLocal || {
          val dim = vecDim(cf, "__cvec")
          dim == 0 || cf.count() * dim <= driverCentroidFloatBudget
        }
        if (withinBudget)
          assignDriver(df, vecCol, collectCentroids(cf), cf.schema("__cid").dataType)
        else assignDistributed(df, vecCol, cf)
      case _ => assignDistributed(df, vecCol, cf)
    }
  }

  /** The broadcast-join + max_by argmax formulation — the fallback
    * when centroids exceed the driver budget (or carry non-integral
    * ids). Norms fold once per side before the nlist-way pairing; the
    * per-row argmax is a hash aggregation on a synthetic row id, so
    * duplicate `idCol` rows pass through unchanged — the SAME per-row
    * contract as [[assignDriver]] (pre-r16 this grouped by `idCol`,
    * silently collapsing duplicate-id rows only on this path).
    *
    * RETRY HAZARD (documented, accepted): the synthetic row id is
    * `monotonically_increasing_id()`, which is stable only when the
    * upstream partition contents replay deterministically. If a task
    * retry recomputes a NON-deterministically ordered upstream (e.g. a
    * shuffle read, whose fetch order is not fixed), recomputed
    * partitions can remap rids, and the rid-keyed shuffle can then
    * duplicate or drop rows. Every in-tree caller feeds deterministic
    * lineage (parquet scans + deterministic projections). A
    * deterministic alternative (row_number over a total sort, or
    * grouping by idCol + a per-id ordinal) costs an extra full sort —
    * not worth it on a fallback path; callers with nondeterministic
    * upstreams should persist/checkpoint the input first (the same
    * contract [[graft.quality.Anomaly.movingAvg]] documents for its
    * probe). The pre-r16 groupBy(idCol) form was retry-safe but
    * silently collapsed duplicate-id rows — a wrong answer every run
    * beats a right answer that a rare double-fault can break, not the
    * other way around.
    */
  private def assignDistributed(df: DataFrame, vecCol: String,
                                centroids: DataFrame): DataFrame = {
    val payload = struct(df.columns.map(col) :+ col("__cid"): _*)
    val cents = centroids.withColumn("__nc", Similarity.norm(col("__cvec")))
    val denom = col("__nv") * col("__nc")
    df.withColumn("__rid", monotonically_increasing_id())
      .withColumn("__nv", Similarity.norm(col(vecCol)))
      .crossJoin(broadcast(cents))
      .withColumn("__csim",
        when(denom =!= 0.0, round(Similarity.dot(col(vecCol), col("__cvec")) / denom, 6)))
      .groupBy(col("__rid"))
      .agg(max_by(payload, struct(col("__csim"), -col("__cid"))).as("__p"))
      .select(col("__p.*"))
  }

  /** Recompute each cell's centroid as the per-dimension mean —
    * distributed explode formulation (no driver materialization); the
    * fallback beyond the driver centroid budget.
    */
  private def recenter(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .select(col("__cid"), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy(col("__cid"), col("__pos"))
      .agg(avg(col("__v").cast("double")).as("__m"))
      .groupBy(col("__cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), col("__m")))),
        x => x.getField("__m").cast("float")).as("__cvec"))

  /** Per-cell means via ONE hash aggregation (per-dimension sum +
    * non-null count — avg semantics exactly: dims a member lacks are
    * excluded from both sides), collected to the driver. `get(vec, i)`
    * is 0-based and null-safe on ragged vectors. A dimension with no
    * non-null members yields 0.0f.
    */
  private[graft] def recenterCollect(assigned: DataFrame, vecCol: String,
                                     dim: Int): Array[(Any, Array[Float])] = {
    val aggs =
      (0 until dim).map(i => sum(get(col(vecCol), lit(i)).cast("double")).as(s"__s$i")) ++
      (0 until dim).map(i => count(get(col(vecCol), lit(i))).as(s"__c$i"))
    assigned.groupBy(col("__cid")).agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val v = Array.tabulate(dim) { i =>
        val c = r.getLong(1 + dim + i)
        if (c == 0L || r.isNullAt(1 + i)) 0.0f
        else (r.getDouble(1 + i) / c).toFloat
      }
      (r.get(0), v)
    }
  }

  /** Per-dimension agg width past which [[recenterCollect]] leaves the
    * fused single-aggregation form: 2·dim aggregate expressions blow
    * the generated consume() past JIT/codegen limits around dim ≈ 512,
    * degrading every Lloyd iteration to interpreted aggregation.
    */
  private[graft] val recenterWideDimBudget: Int = 512

  /** Driver-held per-cell means, routed by width: the fused 2·dim
    * single-aggregation ([[recenterCollect]]) up to
    * [[recenterWideDimBudget]]; past it, the distributed explode
    * formulation ([[recenter]]) collected as the same bounded
    * nlist-row frame — two jobs (means + distinct cids) instead of
    * one, but each stays codegen'd at any width. The wide branch is
    * normalized to [[recenterCollect]]'s exact shape: every assigned
    * cell appears (even cells whose members all lack vectors), vectors
    * have length `dim`, and a position with no non-null member is
    * 0.0f.
    */
  private[graft] def recenterDriver(assigned: DataFrame, vecCol: String,
                                    dim: Int): Array[(Any, Array[Float])] =
    if (dim <= recenterWideDimBudget) recenterCollect(assigned, vecCol, dim)
    else {
      val means = recenter(assigned, vecCol).collect()
        .map(r => r.get(0) -> (if (r.isNullAt(1)) null else r.getSeq[Any](1)))
        .toMap
      // the distinct mirrors recenterCollect's groupBy key set exactly,
      // INCLUDING a null cell-id group if one exists
      assigned.select(col("__cid")).distinct().collect().map { r =>
          val cid = r.get(0)
          val s = means.getOrElse(cid, null)
          val v = Array.tabulate(dim) { i =>
            if (s == null || i >= s.length || s(i) == null) 0.0f
            else s(i).asInstanceOf[Float]
          }
          (cid, v)
        }
    }

  /** Vector width from the first non-empty row (one bounded limit-1
    * scan); 0 when no row has a non-empty vector.
    */
  private def vecDim(df: DataFrame, vecCol: String): Int = {
    val r = df.select(size(col(vecCol)).as("__d")).filter(col("__d") > 0)
      .limit(1).collect()
    if (r.isEmpty) 0 else r(0).getInt(0)
  }

  private def centsEqual(a: Cents, b: Cents): Boolean =
    a.length == b.length && a.indices.forall { i =>
      a(i)._1 == b(i)._1 && java.util.Arrays.equals(a(i)._2, b(i)._2)
    }

  /** Driver-path Lloyd: ONE Spark job per iteration (the fused
    * assign+recenter aggregation) against driver-held centroids, with
    * an early exit as soon as an iteration reproduces the previous
    * centroids exactly — further iterations would be fixpoints, so the
    * exit is output-invariant, it only skips redundant work.
    */
  private def lloydDriver(train: DataFrame, idCol: String, vecCol: String,
                          nlist: Int, iters: Int, dim: Int): Cents = {
    // TakeOrderedAndProject: per-partition top-nlist then merge — never
    // a full single-partition sort; rows arrive in (hash, id) order.
    val seedRows = train
      .withColumn("__h", xxhash64(col(idCol)))
      .select(col("__h"), col(idCol).as("__sid"), col(vecCol).as("__v"))
      .orderBy(col("__h"), col("__sid"))
      .limit(nlist)
      .select(col("__v"))
      .collect()
    var cur: Cents = seedRows.zipWithIndex.map { case (r, i) =>
      ((i + 1).toLong, if (r.isNullAt(0)) null else r.getSeq[Float](0).toArray)
    }
    if (cur.isEmpty || !cur.exists(_._2 != null)) return cur
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val assigned = assignDriver(train, vecCol, cur, LongType)
      val next: Cents = recenterDriver(assigned, vecCol, dim)
        .map { case (cid, v) => (cid.asInstanceOf[Long], v) }
        .sortBy(_._1)
      converged = centsEqual(cur, next)
      cur = next
      it += 1
    }
    cur
  }

  /** Distributed Lloyd (fallback past the driver centroid budget):
    * hash-spread seeds, `iters` assign→recenter rounds, each
    * iteration's nlist-row centroid frame cached so iteration i scans
    * the train set once (frame i materializes before frame i-1 is
    * released — at most two centroid frames live).
    */
  private def lloydDistributed(train: DataFrame, idCol: String, vecCol: String,
                               nlist: Int, iters: Int): DataFrame = {
    val seeds = train
      .withColumn("__h", xxhash64(col(idCol)))
      .select(col("__h"), col(idCol), col(vecCol))
      .orderBy(col("__h"), col(idCol))
      .limit(nlist)
      .withColumn("__rn", row_number().over(Window.orderBy(col("__h"), col(idCol))))
      .select(col("__rn").as("__cid"), col(vecCol).as("__cvec"))
    // the last round's pin outlives the call (the caller's scope's)
    (1 to iters).foldLeft(graft.GraftSession.pin(seeds)) { (cent, _) =>
      val next = graft.GraftSession.pin(recenter(
        assignDistributed(train, vecCol, cent), vecCol))
      next.count()
      cent.unpersist(blocking = false)
      next
    }
  }

  /** Train on `train`, assign `corpus`: driver path when the centroid
    * array fits the driver budget (the common case under the sqrt
    * rule), distributed otherwise. `__cid` is int (seed rank) on both.
    */
  private def buildFrom(corpus: DataFrame, train: DataFrame, idCol: String,
                        vecCol: String, nlist: Int, iters: Int): DataFrame = {
    val dim = vecDim(train, vecCol)
    if (dim > 0 && nlist.toLong * dim <= driverCentroidFloatBudget)
      assignDriver(corpus, vecCol,
        lloydDriver(train, idCol, vecCol, nlist, iters, dim), IntegerType)
    else
      assignDistributed(corpus, vecCol,
        lloydDistributed(train, idCol, vecCol, nlist, iters))
  }

  /** Cell count for a corpus of `n` vectors: ceil(sqrt(n)), floored at
    * `minList`. The sqrt rule is the standard IVF operating point
    * (FAISS guidance is c·sqrt(n) cells): build-time assignment costs
    * O(n · nlist) and per-query probing costs O(nprobe · n / nlist),
    * so sqrt balances the two — a FIXED nlist instead sends per-query
    * probe cost linear in the corpus (cells grow without bound), the
    * same fixed-bucket hazard [[Similarity.planesFor]] documents for
    * hyperplane LSH.
    */
  def nlistFor(n: Long, minList: Int = 16): Int = {
    require(minList >= 1, "minList >= 1")
    math.max(minList, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt)
  }

  /** [[buildIndexSampled]] with `nlist` sized from the corpus (one
    * count() scan) — cell occupancy ~sqrt(n) AND sample-bounded Lloyd
    * training, the scale-stable operating point on both axes.
    */
  def buildIndexAuto(corpus: DataFrame, idCol: String, vecCol: String,
                     iters: Int = 2, minList: Int = 16,
                     trainPerCell: Int = 64): DataFrame = {
    val n = corpus.count()
    buildIndexSampled(corpus, idCol, vecCol, nlistFor(n, minList), iters,
      trainPerCell, knownCount = Some(n))
  }

  /** Build the index: (corpus columns ++ __cid cell id). Lloyd
    * training runs over the FULL corpus — prefer
    * [[buildIndexSampled]]/[[buildIndexAuto]] when the corpus is large.
    */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 nlist: Int = 16, iters: Int = 2): DataFrame =
    buildFrom(corpus, corpus, idCol, vecCol, nlist, iters)

  /** Build the index with centroids TRAINED on a bounded deterministic
    * sample — the standard IVF practice (FAISS trains on a few tens of
    * vectors per cell, then assigns the full corpus once). Lloyd cost
    * drops from `iters` full-corpus scans to bounded-sample scans, and
    * the corpus is paired with centroids exactly once, in the single
    * final (map-side) assignment pass — LINEAR in n under the sqrt rule.
    *
    * The sample is an xxhash64 threshold on the id column —
    * deterministic, partition-invariant, no RNG, map-side (the filter
    * rides the corpus scan). Corpora at or under the train target
    * (nlist·trainPerCell) train on every row, so small-corpus results
    * equal [[buildIndex]] exactly.
    */
  def buildIndexSampled(corpus: DataFrame, idCol: String, vecCol: String,
                        nlist: Int, iters: Int = 2, trainPerCell: Int = 64,
                        knownCount: Option[Long] = None): DataFrame =
    // driver-path centroids materialize eagerly (collect per
    // iteration) and distributed centroids are cached nlist-row
    // frames, so by the time buildFrom returns the train sample's
    // lineage is no longer referenced by the final assignment plan
    withTrainSample(corpus, idCol, vecCol, nlist, trainPerCell, knownCount)(
      buildFrom(corpus, _, idCol, vecCol, nlist, iters))

  /** Run `train` over the bounded deterministic train sample of
    * `corpus` (nlist·trainPerCell rows; every row of a corpus that
    * small), pinned while `train` runs and released after: `train` must
    * materialize what it keeps. The sample is a keep-threshold on a
    * 2^20 hash ring; ceil so the expected sample never rounds below the
    * target. The nlist lowest-hash seeds are inside any threshold that
    * admits >= nlist rows only if the SAME hash orders both — seeds
    * hash xxhash64(id) too, so the sampled seeds are a deterministic
    * function of the sample alone. A sample landing under nlist rows
    * (the hash tail risk) falls back to the corpus: centroid training
    * needs at least one vector per prospective cell.
    */
  private def withTrainSample[A](corpus: DataFrame, idCol: String, vecCol: String,
                                 nlist: Int, trainPerCell: Int,
                                 knownCount: Option[Long])(train: DataFrame => A): A = {
    require(trainPerCell >= 1, "trainPerCell >= 1")
    val n = knownCount.getOrElse(corpus.count())
    val target = nlist.toLong * trainPerCell
    if (n <= target) return train(corpus)
    val ring = 1L << 20
    val keep = math.min(ring, (ring * target + n - 1) / n)
    val sample = graft.GraftSession.pin(corpus
      .filter(pmod(xxhash64(col(idCol)), lit(ring)) < lit(keep))
      .select(col(idCol), col(vecCol)))
    try train(if (sample.count() < nlist) corpus else sample)
    finally sample.unpersist(blocking = false)
  }

  /** Cell centroids of a built index — compute ONCE and persist/reuse
    * across query batches. One fused hash aggregation (per-dimension
    * sums, ~nlist·2·dim partial-agg values shuffled — not the n·dim
    * exploded rows of the legacy formulation) when the centroid array
    * fits the driver budget; distributed explode otherwise.
    */
  def centroids(index: DataFrame, vecCol: String): DataFrame =
    centroidsWithBudget(index, vecCol, driverCentroidFloatBudget)

  /** [[centroids]] with an explicit driver budget (spec hook). The
    * index is a plain DataFrame, so its cell count is not threaded
    * through the build — a count_distinct(__cid) pass (one pruned
    * column, map-side partial distinct) re-establishes it before the
    * driver collect is allowed: an index whose BUILD fell back to
    * [[lloydDistributed]] precisely because nlist·dim exceeded the
    * budget must not collect ~nlist·dim boxed values here instead.
    */
  private[graft] def centroidsWithBudget(index: DataFrame, vecCol: String,
                                         budget: Long): DataFrame = {
    val dim = vecDim(index, vecCol)
    if (dim == 0)
      return recenter(index, vecCol)
    val ncells = index.agg(count_distinct(col("__cid"))).head().getLong(0)
    if (ncells * dim > budget)
      return recenter(index, vecCol)
    val cidField = index.schema("__cid")
    val rows = recenterDriver(index, vecCol, dim)
      .map { case (cid, v) => Row(cid, v.toSeq) }
    val schema = StructType(Seq(
      cidField.copy(name = "__cid"),
      StructField("__cvec", ArrayType(FloatType, containsNull = true))))
    index.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), schema)
  }

  /** Top-k by cosine, scanning only each query's `nprobe` nearest
    * cells of a prebuilt index. Pass `cellCentroids` (from
    * [[centroids]], persisted) to skip the per-call full-index
    * aggregation. Output: (query_id, neighbor_id, sim, rnk).
    */
  def topK(index: DataFrame, queries: DataFrame,
           corpusId: String, queryId: String, vecCol: String,
           k: Int, nprobe: Int = 2,
           cellCentroids: Option[DataFrame] = None): DataFrame = {
    val cents0 = cellCentroids.getOrElse(centroids(index, vecCol))
    val wProbe = Window.partitionBy(col(queryId))
      .orderBy(col("__csim").desc, col("__cid").asc)
    // per-side norms folded once, not per pair (see assignDistributed)
    val cents = cents0.withColumn("__nc", Similarity.norm(col("__cvec")))
    val probeDenom = col("__nq") * col("__nc")
    val probes = queries
      .select(col(queryId), col(vecCol).as("__qvec"))
      .withColumn("__nq", Similarity.norm(col("__qvec")))
      .crossJoin(broadcast(cents))
      .withColumn("__csim",
        when(probeDenom =!= 0.0,
          round(Similarity.dot(col("__qvec"), col("__cvec")) / probeDenom, 6)))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col(queryId), col("__qvec"), col("__nq"), col("__cid"))
    val wTop = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col(corpusId).asc)
    val simDenom = col("__ni") * col("__nq")
    index.withColumn("__ni", Similarity.norm(col(vecCol)))
      .join(broadcast(probes), Seq("__cid"))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim",
        when(simDenom =!= 0.0,
          round(Similarity.dot(col(vecCol), col("__qvec")) / simDenom, 6)))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"),
        col("sim"), col("rnk").cast("long").as("rnk"))
  }

  // ---- trained-index persistence + in-run reuse (r17) -----------------
  //
  // The production IVF lifecycle is train ONCE, probe for weeks — FAISS
  // users write_index the trained quantizer and every consumer
  // read_index's it. The fused build* forms above re-run Lloyd per
  // call; the decomposition below makes the trained centroids a
  // first-class artifact: persistable (saveIndex/loadIndex), reusable
  // across queries in one process (trainAutoCached), and re-attachable
  // to any corpus with one map-side kernel pass (assignToCentroids).

  private def centsFrame(spark: org.apache.spark.sql.SparkSession,
                         cents: Cents): DataFrame = {
    val rows = cents.map { case (cid, v) =>
      Row(cid.toInt, if (v == null) null else v.toSeq)
    }
    val schema = StructType(Seq(
      StructField("__cid", IntegerType, nullable = false),
      StructField("__cvec", ArrayType(FloatType, containsNull = true))))
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), schema)
  }

  /** Lloyd over the (possibly sampled) train set: driver-held Cents
    * under the budget, distributed centroid frame past it.
    */
  private def trainFrom(train: DataFrame, idCol: String, vecCol: String,
                        nlist: Int, iters: Int): Either[Cents, DataFrame] = {
    val dim = vecDim(train, vecCol)
    if (dim > 0 && nlist.toLong * dim <= driverCentroidFloatBudget)
      Left(lloydDriver(train, idCol, vecCol, nlist, iters, dim))
    else Right(lloydDistributed(train, idCol, vecCol, nlist, iters))
  }

  /** [[trainIndex]]'s body, keeping driver-path centroids as raw
    * arrays so the memo can hold them without a frame round-trip.
    * Sampling is [[buildIndexSampled]]'s own, so the trained centroids
    * are IDENTICAL to the ones the fused build would assign with. Both
    * train paths materialize before returning (driver collect /
    * lloydDistributed's cached+counted frame), so releasing the sample
    * never recomputes it.
    */
  private def trainEither(corpus: DataFrame, idCol: String, vecCol: String,
                          nlist: Int, iters: Int, trainPerCell: Int,
                          knownCount: Option[Long]): Either[Cents, DataFrame] =
    withTrainSample(corpus, idCol, vecCol, nlist, trainPerCell, knownCount)(
      trainFrom(_, idCol, vecCol, nlist, iters))

  /** Train the cell quantizer ONLY — the decomposed, persistable half
    * of [[buildIndexSampled]]: bounded deterministic Lloyd sample,
    * same seeding, same iterations, NO corpus assignment. Returns the
    * TRAINED centroid frame (__cid int, __cvec array<float>) — the
    * artifact [[saveIndex]] persists. `assignToCentroids(corpus,
    * idCol, vecCol, this, "__cid", "__cvec")` then reproduces the
    * fused build's cell assignment bit-for-bit (spec-pinned), one
    * map-side kernel pass per corpus, however many times the quantizer
    * is reused.
    */
  def trainIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 nlist: Int, iters: Int = 2, trainPerCell: Int = 64,
                 knownCount: Option[Long] = None): DataFrame =
    trainEither(corpus, idCol, vecCol, nlist, iters, trainPerCell,
      knownCount) match {
      case Left(c) => centsFrame(corpus.sparkSession, c)
      case Right(f) => f
    }

  /** Per-entry memo admission cap: centroids are memoized only up to
    * budget/16 floats (~4 MB of Float array per entry, 8 entries max)
    * — a quantizer near the full driver budget is reloadable from
    * [[saveIndex]] instead of pinned on the heap.
    */
  private val memoFloatCap: Long = driverCentroidFloatBudget / 16

  // LRU by access order, bounded at 8 trained quantizers
  private val indexMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Long, Cents)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Cents)]): Boolean = size() > 8
    })

  /** Drop every memoized quantizer (specs / long-lived sessions after
    * data changes).
    */
  def clearIndexCache(): Unit = indexMemo.clear()

  /** [[buildIndexAuto]]'s train half with an in-process memo: returns
    * (corpus row count, trained centroid frame), both served from the
    * memo on a key hit — zero Spark jobs, so every IVF-family consumer
    * in a run (ANN top-k, recall telemetry, semantic dedup, k-means
    * clustering) shares ONE Lloyd training per corpus instead of
    * re-paying it per query and per bench pass.
    *
    * `cacheKey` is the INVALIDATION TOKEN, deliberately explicit: the
    * memo cannot see data changes behind an identical plan, so the key
    * must name the data version — a snapshot path, a
    * [[graft.sources.VersionedTable.latestVersion]], a load batch id.
    * Same key + same params ⇒ the caller asserts the corpus is
    * unchanged. Entries are bounded ([[memoFloatCap]] floats each,
    * 8-entry LRU); over-budget quantizers train uncached.
    */
  def trainAutoCached(corpus: DataFrame, idCol: String, vecCol: String,
                      iters: Int = 2, minList: Int = 16,
                      trainPerCell: Int = 64,
                      cacheKey: String): (Long, DataFrame) = {
    val key = s"$cacheKey|$idCol|$vecCol|auto|$iters|$minList|$trainPerCell"
    val hit = indexMemo.get(key)
    if (hit != null)
      return (hit._1, centsFrame(corpus.sparkSession, hit._2))
    val n = corpus.count()
    val nlist = nlistFor(n, minList)
    trainEither(corpus, idCol, vecCol, nlist, iters, trainPerCell,
      Some(n)) match {
      case Left(c) =>
        if (c.iterator.map(x =>
            if (x._2 == null) 0L else x._2.length.toLong).sum <= memoFloatCap)
          indexMemo.put(key, (n, c))
        (n, centsFrame(corpus.sparkSession, c))
      case Right(f) => (n, f)
    }
  }

  private val indexMetaName = "ivf_index.json"
  private val payloadRe = "centroids_v([0-9]+)".r
  private val payloadFieldRe = """"payload":"([^"]+)"""".r
  private val formatTag = "\"format\":\"graft-ivf-index\""

  /** Persist a trained quantizer (the [[trainIndex]] /
    * [[centroids]]-shaped frame) as an on-disk index artifact — the
    * FAISS `write_index` analog. Production clusters train once and
    * probe for weeks; this is the handoff between those jobs.
    *
    * ATOMIC PUBLISH (r18 — the pre-r18 form wrote `<dir>/centroids`
    * then the descriptor separately, so a probing job could read a
    * half-written payload or a descriptor/centroids mismatch): each
    * save writes a FRESH versioned payload dir (`centroids_v<N>`) and
    * only then publishes the descriptor naming it — the descriptor is
    * the single commit point, a file replaced through
    * [[graft.Recovery.swap]] and healed by every read through
    * [[graft.Recovery.heal]] (plain rename-to-existing is not atomic on
    * HDFS). A concurrent [[loadIndex]] therefore
    * always resolves a COMPLETE payload: the prior descriptor keeps
    * naming the prior payload until the new one is fully on disk, and
    * the superseded payload is retained for ONE more save (readers
    * that resolved it mid-publish keep scanning it) before being
    * swept. Versioning for free: `indexVersions` lists what's
    * retained.
    */
  def saveIndex(centroids: DataFrame, dir: String): Unit = {
    val norm = centroids.select(col("__cid").cast("int").as("__cid"),
      col("__cvec").cast("array<float>").as("__cvec"))
    val spark = norm.sparkSession
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing =
      if (fs.exists(dirPath))
        fs.listStatus(dirPath).toSeq.map(_.getPath.getName)
          .collect { case payloadRe(n) => n.toLong }
      else Seq.empty
    val v = (existing :+ 0L).max + 1
    val payload = s"centroids_v$v"
    norm.write.mode("overwrite").parquet(s"$dir/$payload")
    val saved = spark.read.parquet(s"$dir/$payload")
    val nlist = saved.count()
    val dim = vecDim(saved, "__cvec")
    val meta = s"""{$formatTag,"version":1,""" +
      s""""nlist":$nlist,"dim":$dim,"metric":"cosine","payload":"$payload"}"""
    graft.Recovery.swap(fs, new org.apache.hadoop.fs.Path(dirPath, indexMetaName)) { tmp =>
      val out = fs.create(tmp, true)
      try out.write((meta + "\n").getBytes("UTF-8")) finally out.close()
    }
    // sweep payloads at least TWO versions back (the one directly
    // superseded stays for readers that resolved it just before the
    // commit); the legacy un-versioned `centroids` dir is left alone —
    // an old descriptor elsewhere could still name it
    fs.listStatus(dirPath).toSeq.map(_.getPath).foreach { p =>
      p.getName match {
        case payloadRe(n) if n.toLong < v - 1 => fs.delete(p, true)
        case _ =>
      }
    }
  }

  private def readText(fs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** The descriptor's completeness test for [[graft.Recovery.heal]]: a
    * staged copy whose writer died mid-write lacks the format tag or
    * the closing newline, and loses to the retiree.
    */
  private def completeDescriptor(fs: org.apache.hadoop.fs.FileSystem,
                                 p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(p) && {
      val s = readText(fs, p)
      s.contains(formatTag) && s.endsWith("\n")
    }

  /** The payload versions currently retained under an index dir,
    * ascending (at most two: the live one and its direct predecessor).
    */
  def indexVersions(spark: org.apache.spark.sql.SparkSession,
                    dir: String): Seq[Long] = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dirPath)) Seq.empty
    else fs.listStatus(dirPath).toSeq.map(_.getPath.getName)
      .collect { case payloadRe(n) => n.toLong }.sorted
  }

  /** Load a [[saveIndex]] artifact back as the centroid frame
    * (__cid, __cvec): heal the descriptor's crash window, validate the
    * format (a random parquet directory cannot masquerade as an
    * index), and resolve the payload the descriptor names — pre-r18
    * descriptors carry no payload field and fall back to the legacy
    * `centroids` dir.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                dir: String): DataFrame = loadIndexVersioned(spark, dir)._1

  /** [[loadIndex]] plus the PAYLOAD VERSION the descriptor names — the
    * stamp that ties downstream artifacts (stored semantic-history
    * tables, [[graft.llm.Dedup.semanticHistorySignatures]]) to the
    * exact quantizer that assigned them, so a later retrain cannot
    * silently mismatch cells (r19; legacy un-versioned `centroids`
    * payloads report version 0).
    */
  def loadIndexVersioned(spark: org.apache.spark.sql.SparkSession,
                         dir: String): (DataFrame, Long) = {
    val payload = resolvePayload(spark, dir)
    (spark.read.parquet(s"$dir/$payload").select(col("__cid"), col("__cvec")),
      payloadVersion(payload))
  }

  /** The live payload version under an index dir — one descriptor read,
    * no parquet scan (the cheap side of the version handshake).
    */
  def liveIndexVersion(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Long =
    payloadVersion(resolvePayload(spark, dir))

  private def payloadVersion(payload: String): Long = payload match {
    case payloadRe(n) => n.toLong
    case _ => 0L
  }

  private def resolvePayload(spark: org.apache.spark.sql.SparkSession,
                             dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir, indexMetaName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(graft.Recovery.heal(fs, p, completeDescriptor),
      s"no $indexMetaName under $dir — not a graft ANN index")
    val meta = readText(fs, p)
    require(meta.contains(formatTag), s"$p is not a graft-ivf-index descriptor")
    val payload = payloadFieldRe.findFirstMatchIn(meta)
      .map(_.group(1)).getOrElse("centroids")
    require(!payload.contains("/") && !payload.contains(".."),
      s"descriptor names a non-local payload: $payload")
    payload
  }

  /** Quantizer drift / health monitor — the RETRAIN TRIGGER of the
    * persisted-index lifecycle ([[saveIndex]]/[[loadIndex]] index
    * artifacts age as the corpus grows): assign `corpus` to the
    * TRAINED centroids (one map-side kernel pass), re-derive each
    * row's winning similarity through a bounded broadcast join on the
    * cell id (the same rounded-cosine arithmetic the assignment
    * ranked with), and aggregate per cell:
    *  - `n` — member count, 0 for DEAD cells (a domain shift empties
    *    regions the quantizer was trained for; many dead cells also
    *    mean the live ones run hot);
    *  - `mean_sim` — decimal-exact mean winning similarity (the
    *    assignment-quality score; compare against the training-time
    *    run of this same monitor and retrain on decay —
    *    [[graft.monitoring.Trends.metricAlerts]] consumes exactly
    *    this shape);
    *  - `min_sim` and `n_below` — the worst row and the count under
    *    `simFloor`: rows the index no longer represents well (ANN
    *    recall for them degrades first).
    * Unscorable rows (zero norm / ragged dims) carry a null
    * similarity in the lowest cell — counted in `n`, skipped by the
    * similarity aggregates, never under the floor (the assignment
    * convention). Cost: one assignment pass + one nlist-broadcast
    * join + one hash aggregation — safe to run per ingest batch.
    */
  def quantizerDrift(corpus: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, centIdCol: String = "__cid",
                     centVecCol: String = "__cvec",
                     simFloor: Double = 0.0): DataFrame = {
    val cents = broadcast(
      centroids.select(col(centIdCol).as("__cid"), col(centVecCol).as("__cvec"))
        .withColumn("__nc", Similarity.norm(col("__cvec"))))
    val denom = col("__nv") * col("__nc")
    val scored =
      assignToCentroids(corpus.select(col(idCol), col(vecCol)),
          idCol, vecCol, centroids, centIdCol, centVecCol)
        .withColumn("__nv", Similarity.norm(col(vecCol)))
        .join(cents, Seq("__cid"))
        .withColumn("__sim", when(denom =!= 0.0,
          round(Similarity.dot(col(vecCol), col("__cvec")) / denom, 6)))
    val stats = scored.groupBy(col("__cid").as("cell_id")).agg(
      count(lit(1)).as("n"),
      graft.functions.Det.meanAt(col("__sim"), 6).as("mean_sim"),
      min(col("__sim")).as("min_sim"),
      sum(when(col("__sim") < simFloor, 1L).otherwise(0L)).as("n_below"))
    // both sides are nlist-bounded; the hint makes the STATIC plan
    // self-evidently bounded too (a left-outer can only broadcast its
    // build/right side, so the hint goes on the aggregate)
    cents.select(col("__cid").as("cell_id"))
      .join(broadcast(stats), Seq("cell_id"), "left")
      .select(col("cell_id"),
        coalesce(col("n"), lit(0L)).as("n"),
        col("mean_sim"), col("min_sim"),
        coalesce(col("n_below"), lit(0L)).as("n_below"))
  }

  /** Collapse a [[quantizerDrift]] frame to the ONE-ROW health report
    * the retrain decision reads (r18 — the operational face of the
    * index lifecycle): cell count, dead-cell count, corpus size,
    * under-floor row count, the worst cell's minimum winning
    * similarity, the worst cell's MEAN winning similarity, and the
    * decision booleans at the given thresholds. Every field is a
    * count, a sum of counts, a MIN over already-rounded values, or an
    * IEEE-identical double comparison of those — exactly
    * cross-engine-comparable by construction (the q_index_drift
    * parity argument), so the report is oracle-checkable end-to-end
    * over fixed reference centroids. Cost: one tiny aggregation over
    * an nlist-row frame.
    */
  def driftReport(drift: DataFrame, minWorstCellMean: Double = 0.0,
                  maxDeadFrac: Double = 0.5,
                  maxBelowFrac: Double = 0.5): DataFrame =
    drift.agg(
        count(lit(1)).as("n_cells"),
        sum(when(col("n") === 0L, 1L).otherwise(0L)).as("n_dead"),
        sum(col("n")).as("n_rows"),
        sum(col("n_below")).as("n_below"),
        min(col("min_sim")).as("worst_sim"),
        min(col("mean_sim")).as("worst_cell_mean"))
      // every decision boolean coalesces to false: on an empty corpus
      // (or all-null sims) the aggregates above are null, and a null
      // `retrain` would reach maintainIndex's Boolean accessor where
      // Scala's asInstanceOf unboxes null to false SILENTLY — make the
      // "no evidence → keep" decision explicit in the column instead
      .withColumn("dead_exceeded",
        coalesce(col("n_dead").cast("double") / col("n_cells").cast("double")
          > maxDeadFrac, lit(false)))
      .withColumn("below_exceeded",
        coalesce(col("n_rows") > 0L &&
          col("n_below").cast("double") / col("n_rows").cast("double")
            > maxBelowFrac, lit(false)))
      .withColumn("mean_decayed",
        coalesce(col("worst_cell_mean") < minWorstCellMean, lit(false)))
      .withColumn("retrain",
        col("dead_exceeded") || col("below_exceeded") || col("mean_decayed"))

  /** One turn of the index-MAINTENANCE loop a production ANN/semantic
    * pipeline runs per ingest epoch (r18 — closes the lifecycle:
    * train → save → probe → drift → RETRAIN): load the persisted
    * quantizer under `dir` (bootstrap-train and publish one when the
    * descriptor is absent), score its health against the CURRENT
    * corpus ([[quantizerDrift]] → [[driftReport]]), and when any
    * threshold trips, retrain at the corpus's sqrt-rule nlist and
    * republish ATOMICALLY ([[saveIndex]]'s versioned-payload commit —
    * concurrent probers keep a complete artifact throughout). Returns
    * (actionTaken, report row collected): action is "bootstrapped",
    * "retrained", or "kept". The decision thresholds are compared on
    * the exact report fields, so the same corpus + artifact always
    * decides the same way.
    *
    * `semanticHistoryRoots` (r19) closes the retrain ↔ history-screen
    * composition hazard: each root is a stored
    * [[graft.llm.Dedup.semanticHistorySignatures]] table (plain parquet
    * dir or `batch_id=`-sliced streaming root, vectors under this
    * `vecCol`) whose cell ids are only meaningful under the quantizer
    * THIS dir publishes. Whenever the turn publishes a new payload
    * ("bootstrapped"/"retrained"), every listed root is re-assigned to
    * the new cells and re-stamped with the new version
    * ([[graft.llm.Dedup.reassignSemanticHistory]]) before the turn
    * returns; a root NOT listed here keeps its old stamp and a
    * version-checked screen refuses it loudly instead of silently
    * missing near-dups.
    */
  def maintainIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    dir: String, simFloor: Double = 0.0,
                    minWorstCellMean: Double = 0.0,
                    maxDeadFrac: Double = 0.5, maxBelowFrac: Double = 0.5,
                    iters: Int = 2,
                    semanticHistoryRoots: Seq[String] = Nil): (String, Row) = {
    val spark = corpus.sparkSession
    val descriptor = new org.apache.hadoop.fs.Path(dir, indexMetaName)
    val fs = descriptor.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def retrainAndSave(): DataFrame = {
      val cents = trainIndex(corpus.select(col(idCol), col(vecCol)),
        idCol, vecCol, nlistFor(corpus.count()), iters)
      saveIndex(cents, dir)
      // the publish just invalidated every stored semantic history's
      // cell ids (r19, the r18 verdict's composition hazard): re-assign
      // and re-stamp each declared root to the NEW payload before the
      // turn returns, so a version-checked screen never joins stale
      // cells. Roots store vectors under this `vecCol` (the same
      // pipeline produced corpus and history); run with the ingest
      // stream stopped — the reassign rewrites slices the stream reads.
      semanticHistoryRoots.foreach { root =>
        Dedup.reassignSemanticHistory(spark, root, dir, vecCol)
      }
      cents
    }
    if (!graft.Recovery.heal(fs, descriptor, completeDescriptor)) {
      val cents = retrainAndSave()
      val report = driftReport(
        quantizerDrift(corpus, idCol, vecCol, cents, simFloor = simFloor),
        minWorstCellMean, maxDeadFrac, maxBelowFrac).head()
      ("bootstrapped", report)
    } else {
      val cents = loadIndex(spark, dir)
      val report = driftReport(
        quantizerDrift(corpus, idCol, vecCol, cents, simFloor = simFloor),
        minWorstCellMean, maxDeadFrac, maxBelowFrac).head()
      if (report.getAs[Boolean]("retrain")) {
        retrainAndSave()
        ("retrained", report)
      } else ("kept", report)
    }
  }

  /** One-call probe against a trained quantizer: assign the corpus
    * (map-side kernel) and top-k with the SAME centroids as the probe
    * quantizer — the loadIndex→query path.
    */
  def topKIndexed(corpus: DataFrame, queries: DataFrame,
                  corpusId: String, queryId: String, vecCol: String,
                  centroids: DataFrame, k: Int, nprobe: Int = 2): DataFrame =
    topK(assignToCentroids(corpus, corpusId, vecCol, centroids,
        "__cid", "__cvec"),
      queries, corpusId, queryId, vecCol, k, nprobe, Some(centroids))
}
