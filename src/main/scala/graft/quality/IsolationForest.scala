package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Isolation forest — ref anomaly_manager.py:183 isolation_forest_
  * detection (the reference wraps sklearn; this is the algorithm
  * itself, Liu/Ting/Zhou ICDM'08, re-expressed for Spark's execution
  * model).
  *
  * Why this fits a 100 TB engine: iForest is DEFINED on tiny uniform
  * subsamples (psi = 256 rows per tree) — the training set is bounded
  * by the algorithm, not the data, so collecting numTrees x psi rows
  * to the driver is the faithful implementation, the same bounded
  * contract as the broadcast query set in
  * [[graft.llm.Similarity.bruteForceTopKPartitioned]]. Scoring is a
  * pure map-side function of the (small, broadcast) forest: 50 trees
  * x depth <= 8 node visits per row, no shuffle at all.
  *
  * Fully deterministic, unlike library forests: the subsample is the
  * first numTrees*psi rows in xxhash64 order (stable under
  * partitioning — a distributed TakeOrderedAndProject, never a full
  * driver sort), and split randomness comes from a per-tree
  * SplitMix64 stream seeded by (seed, tree index).
  */
object IsolationForest {

  /** Flat tree node: feature index + split, children as array offsets;
    * `left == -1` marks a leaf whose `size` feeds the path-length
    * correction c(size).
    */
  final case class Node(feature: Int, split: Double, left: Int, right: Int, size: Int)
  final case class Forest(trees: Seq[IndexedSeq[Node]], sampleSize: Int) extends Serializable

  // SplitMix64 — tiny deterministic PRNG stream (public-domain algorithm)
  private final class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
  }

  /** Average unsuccessful-search path length in a BST of n nodes —
    * the normalization constant c(n) from the paper.
    */
  def c(n: Int): Double =
    if (n <= 1) 0.0
    else 2.0 * (math.log(n - 1.0) + 0.5772156649015329) - 2.0 * (n - 1.0) / n

  private def buildTree(rows: Array[Array[Double]], rng: Rng, maxDepth: Int): IndexedSeq[Node] = {
    val nodes = scala.collection.mutable.ArrayBuffer[Node]()
    def grow(idx: Array[Int], depth: Int): Int = {
      val me = nodes.length
      nodes += Node(-1, 0.0, -1, -1, idx.length) // placeholder / leaf
      if (idx.length <= 1 || depth >= maxDepth) return me
      // random feature with spread; give up after a few tries (constant data)
      val nFeat = rows(0).length
      var tries = 0
      while (tries < nFeat) {
        val f = rng.nextInt(nFeat)
        var lo = Double.MaxValue; var hi = Double.MinValue
        idx.foreach { i => val v = rows(i)(f); if (v < lo) lo = v; if (v > hi) hi = v }
        if (hi > lo) {
          val split = lo + rng.nextDouble() * (hi - lo)
          val (l, r) = idx.partition(i => rows(i)(f) < split)
          if (l.nonEmpty && r.nonEmpty) {
            val li = grow(l, depth + 1)
            val ri = grow(r, depth + 1)
            nodes(me) = Node(f, split, li, ri, idx.length)
            return me
          }
        }
        tries += 1
      }
      me // leaf: no splittable feature
    }
    grow(rows.indices.toArray, 0)
    nodes.toIndexedSeq
  }

  /** Path length of point `x` in one tree (leaf size correction applied). */
  private def pathLength(tree: IndexedSeq[Node], x: Seq[Double]): Double = {
    var i = 0; var depth = 0
    while (tree(i).left != -1) {
      val n = tree(i)
      i = if (x(n.feature) < n.split) n.left else n.right
      depth += 1
    }
    depth + c(tree(i).size)
  }

  /** Anomaly score in (0, 1): 2^(-E[h(x)] / c(psi)); > ~0.6 is
    * anomalous by the paper's rule of thumb.
    */
  def scorePoint(forest: Forest, x: Seq[Double]): Double = {
    val avg = forest.trees.map(t => pathLength(t, x)).sum / forest.trees.size
    math.pow(2.0, -avg / c(forest.sampleSize))
  }

  /** Fit on the deterministic hash-ordered subsample. The `limit` is
    * planned as a distributed per-partition top-N + merge; only
    * numTrees x sampleSize rows (default 50 x 256) ever reach the
    * driver.
    */
  def fit(df: DataFrame, cols: Seq[String], numTrees: Int = 50,
          sampleSize: Int = 256, seed: Long = 42L): Forest = {
    require(cols.nonEmpty && numTrees > 0 && sampleSize > 1)
    val proj = df.select(cols.map(c => col(c).cast("double")): _*).na.drop()
    val want = numTrees * sampleSize
    val sample = proj
      .withColumn("__h", xxhash64(lit(seed) +: cols.map(col): _*))
      .orderBy(col("__h") +: cols.map(col): _*) // total order → stable sample
      .limit(want)
      .drop("__h")
      .collect()
      .map(r => Array.tabulate(cols.length)(i => r.getDouble(i)))
    require(sample.nonEmpty, "empty input")
    val maxDepth = math.ceil(math.log(sampleSize.toDouble) / math.log(2.0)).toInt
    val trees = (0 until numTrees).map { t =>
      // chunked round-robin so every tree sees a distinct slice when
      // the corpus is big enough, and a reshuffled view when it isn't
      val slice = Array.tabulate(math.min(sampleSize, sample.length))(i =>
        sample((t * sampleSize + i) % sample.length))
      buildTree(slice, new Rng(seed ^ (t.toLong * 0x9E3779B97F4A7C15L)), maxDepth)
    }
    Forest(trees, math.min(sampleSize, sample.length))
  }

  /** Append `alias` with each row's anomaly score. Map-side only: the
    * forest ships in the closure (a few hundred KB), no shuffle.
    * (A Scala UDF, documented imperative exception: 50 tree walks per
    * row don't express declaratively; the per-row cost is ~400 array
    * reads.)
    */
  def score(df: DataFrame, cols: Seq[String], forest: Forest,
            alias: String = "iforest_score"): DataFrame = {
    // rows with null features score null (fit() drops them too) — an
    // anomaly detector's input is dirty by definition, so a null must
    // not crash the scoring pass
    val f = udf((xs: Seq[java.lang.Double]) =>
      if (xs == null || xs.exists(_ == null)) null
      else java.lang.Double.valueOf(scorePoint(forest, xs.map(_.doubleValue()))))
    df.withColumn(alias, round(f(array(cols.map(c => col(c).cast("double")): _*)), 6))
  }

  /** Fit + score + threshold in one call — ref anomaly_manager.py:183
    * surface (contamination replaced by the paper's score threshold:
    * deterministic, no quantile pass; use [[Anomaly.zscore]]-style
    * quantile gating when a fixed output rate matters more).
    */
  def detect(df: DataFrame, cols: Seq[String], threshold: Double = 0.6,
             numTrees: Int = 50, sampleSize: Int = 256, seed: Long = 42L): DataFrame = {
    val forest = fit(df, cols, numTrees, sampleSize, seed)
    score(df, cols, forest).filter(col("iforest_score") > threshold)
  }
}
