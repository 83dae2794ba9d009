package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *  - NOTHING here is O(n²). Candidate pairs always come from a
  *    groupable key — content hash, LSH band bucket, SimHash band, or
  *    an explicit blocking column — so shuffle volume is
  *    O(n × bands), and the quadratic blow-up is confined to within
  *    buckets (bounded by design: band width controls bucket size).
  *  - Signatures (minhash / simhash / shingles) are pure higher-order
  *    Column expressions computed map-side in one pass, no UDFs.
  */
object Dedup {

  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

  // ---- exact ---------------------------------------------------------

  /** Exact-duplicate groups by content hash — one shuffle on the hash.
    * Output: (content_hash, n_dups, keep_id) with min-id survivor.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** Exact dedup: keep the minimum-id row of every content group. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Incremental-ingestion dedup: drop `batch` rows whose content
    * already exists in the (typically far larger) `history` corpus —
    * the every-crawl-against-everything-ingested screen of a
    * continuous training-data pipeline. Two-phase exact, like
    * [[ngramContaminationBloom]]:
    *
    *  1. history content hashes build ONE Bloom filter; batch rows
    *     whose hash MISSES it are definitely new (Bloom has no false
    *     negatives) and pass map-side, inside codegen, without ever
    *     touching a shuffle — on a mostly-novel crawl that is most of
    *     the batch;
    *  2. only the filter HITS (true dups + ~fpp false positives)
    *     anti-join the history hash set, which clears the FPs.
    *
    * Output = batch rows with no content match in history, exactly
    * (order/row-identity preserved; within-batch duplicates are NOT
    * collapsed — compose with [[exact]] for that). The anti-join input
    * shrinks to |dups| + fpp·|batch| rows, so the history side's one
    * honest shuffle joins against a sliver, not the whole crawl.
    *
    * Cost shape: the two-branch union SCANS the batch twice (both
    * scans map-side columnar, md5+probe recomputed) but SHUFFLES only
    * the filter hits. The single-pass alternative — one anti-join over
    * all rows — scans once but shuffles the ENTIRE batch whenever the
    * history hash set exceeds broadcast size, which is precisely this
    * operator's target regime (billions of ingested hashes); a second
    * cheap scan beats a full-batch shuffle there, so the branch form
    * is deliberate.
    */
  def dedupAgainstHistory(batch: DataFrame, history: DataFrame,
                          textCol: String,
                          bitsPerItem: Double = 10.0,
                          numBitsOverride: Long = -1L): DataFrame = {
    // consumed thrice (sizing count + filter build + verify anti-join)
    val histHashes = graft.GraftSession.pin(
      history.select(md5(col(textCol)).as("__h")).distinct()
        // null-text history rows have a NULL hash: they can never match a
        // batch row (null = null is no match), and left in, the Bloom
        // build would hash them as xxhash64's seed value — planting a
        // phantom member that costs false positives for nothing
        .filter(col("__h").isNotNull))
    // sized from the real history cardinality — see
    // ngramContaminationBloom on why a fixed oversized width is a trap
    val items = histHashes.count()
    if (items == 0L) { // empty history → everything is new
      histHashes.unpersist(blocking = false) // no plan consumes it on this path
      return batch
    }
    val numBits = if (numBitsOverride > 0) numBitsOverride
      else math.max(1L << 16, (items * bitsPerItem).toLong)
    val bf = histHashes
      .agg(call_function("graft_bloom_agg", xxhash64(col("__h")),
        lit(items), lit(numBits)).as("__bf")).head().getAs[Array[Byte]](0)
    val hashed = batch.withColumn("__h", md5(col(textCol)))
    // NULL text ⇒ NULL hash. Spark's xxhash64 maps NULL to its seed
    // (never null), so without the explicit isNull disjunct a
    // null-text row's fate would hinge on whether the seed's bits
    // happen to sit in the filter — correct either way (the hit
    // branch's anti-join can't match a null key), but the contract
    // (null = null never matches, like the NOT-EXISTS oracle) is made
    // EXPLICIT here: null-hash rows take the definite-new branch, and
    // the hit branch stays null-free by construction.
    val definiteNew = hashed
      .filter(col("__h").isNull ||
        !call_function("graft_might_contain", lit(bf), xxhash64(col("__h"))))
    val confirmedNew = hashed
      .filter(col("__h").isNotNull &&
        call_function("graft_might_contain", lit(bf), xxhash64(col("__h"))))
      .join(histHashes, Seq("__h"), "left_anti")
    definiteNew.unionByName(confirmedNew).drop("__h")
  }

  // ---- shingling -----------------------------------------------------

  /** Distinct word n-grams (tokens joined by single spaces) — the
    * native codegen kernel ([[graft.plans.ShingleKernel]]): one JVM
    * loop per row instead of an interpreted zip_with chain. Bit-for-bit
    * parity with [[wordShinglesHof]] is spec-enforced.
    */
  def wordShingles(c: Column, n: Int = 3): Column =
    graft.plans.TextExpressions.wordShingles(c, n)

  /** The declarative HOF formulation (parity reference for the native
    * kernel): zip_with over n-1 SHIFTED SLICES of the token array,
    * not a transform whose lambda slices the tokens per position — HOF
    * lambdas run interpreted and re-evaluate captured subtrees PER
    * ELEMENT, so the lambda-slice form re-runs `split` once per shingle
    * position (~|tokens| splits per row — measured as the dominant cost
    * of the whole jaccard query). Here `toks` only appears as direct
    * HOF/slice inputs, each evaluated once per row. concat_ws skips the
    * null padding zip_with adds past the shorter side, which reproduces
    * array_join-over-short-slice semantics for docs with < n tokens.
    */
  private[graft] def wordShinglesHof(c: Column, n: Int = 3): Column = {
    val toks = split(trim(c), "\\s+")
    if (n == 1) array_distinct(toks)
    else {
      val shifted = (1 until n).map(k =>
        slice(toks, lit(k + 1), greatest(lit(0), size(toks) - lit(k))))
      val joined = shifted.foldLeft(toks)((acc, s) =>
        zip_with(acc, s, (a, b) => concat_ws(" ", a, b)))
      array_distinct(slice(joined, lit(1), greatest(lit(1), size(toks) - lit(n - 1))))
    }
  }

  /** Jaccard similarity of two (distinct-element) arrays (0 for two
    * empty sets — also dodges ANSI-mode division by zero).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a) + size(b) - inter
    when(union =!= 0.0, inter / union).otherwise(lit(0.0))
  }

  /** Staged jaccard: materializes the intersection size in its own
    * projection so `array_intersect` (the expensive part) evaluates
    * once per pair — the inline [[jaccard]] expression would re-run it
    * inside both the union term and the ratio.
    */
  private def withJacc(df: DataFrame, a: String, b: String): DataFrame =
    df.withColumn("__inter", size(array_intersect(col(a), col(b))).cast("double"))
      .withColumn("__union", size(col(a)) + size(col(b)) - col("__inter"))
      .withColumn("jacc",
        when(col("__union") =!= 0.0, col("__inter") / col("__union")).otherwise(lit(0.0)))
      .drop("__inter", "__union")

  // ---- n-gram Jaccard with explicit blocking -------------------------

  /** All pairs within a blocking key whose shingle-set Jaccard meets
    * the threshold. Blocking bounds the pair blow-up (the classic
    * "never all-pairs" rule); for unblocked corpora use
    * [[minhashLsh]], which discovers its own blocks.
    *
    * Shape: explode shingle hashes and COUNT matches per pair through
    * a codegen'd join + hash aggregation — pairs sharing no shingle
    * never materialize, and no per-pair set structure is built
    * (`array_intersect` costs ~50µs/pair in per-call setup alone).
    * Requires threshold > 0 (zero-overlap pairs are absent by
    * construction). Output: (id_a, id_b, jacc).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], n: Int = 1,
                        threshold: Double = 0.8): DataFrame = {
    require(threshold > 0, "join-based jaccard cannot emit zero-overlap pairs")
    val sh = df.select(col(idCol) +: blockCols.map(col) :+
      wordShingles(col(textCol), n).as("__sh"): _*)
    val sizes = sh.select(col(idCol), size(col("__sh")).as("__n"))
    // single long join key: xxhash64(block..., shingle) — cheaper to
    // shuffle and compare than (string..., long) composites
    val ex = sh
      .select(col(idCol) +: blockCols.map(col) :+ explode(col("__sh")).as("__t"): _*)
      .select(col(idCol),
        xxhash64(blockCols.map(col) :+ col("__t"): _*).as("__h"))
      .repartition(shufflePartitions(df), col("__h")) // exchange barrier on the join key (see ngramJaccardPairsBlocked)
    val a = ex.select(col(idCol).as("id_a"), col("__h"))
    val b = ex.select(col(idCol).as("id_b"), col("__h"))
    val inter = a.join(b, Seq("__h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("double").as("__inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("__na")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__n").as("__nb")), Seq("id_b"))
      .withColumn("__union", col("__na") + col("__nb") - col("__inter"))
      .withColumn("jacc",
        when(col("__union") =!= 0.0, col("__inter") / col("__union")).otherwise(lit(0.0)))
      .filter(col("jacc") >= threshold)
      .select("id_a", "id_b", "jacc")
  }

  /** Blocked-pairs variant computing each pair's intersection with the
    * native sorted-merge expression
    * ([[graft.plans.VectorExpressions.sortedIntersectCount]]) instead
    * of the inverted-index join — wins when blocks are dense (most
    * pairs overlap anyway, so the index join materializes nearly the
    * same volume while paying two shuffles). Same output contract as
    * [[ngramJaccardPairs]].
    */
  def ngramJaccardPairsBlocked(df: DataFrame, idCol: String, textCol: String,
                               blockCols: Seq[String], n: Int = 1,
                               threshold: Double = 0.8): DataFrame = {
    // The repartition on the block key is a deliberate exchange BARRIER,
    // not (only) join prep: without it Catalyst inlines the interpreted
    // HOF shingle expression into the post-join projection and re-derives
    // every doc's shingle array once PER PAIR instead of once per row
    // (measured 10x on the bench corpus). Rows crossing the exchange
    // carry the materialized array; the self-join then reuses the
    // partitioning, so the shuffle isn't wasted.
    // Explicit partition count: AQE would coalesce this small-by-bytes
    // shuffle to ONE partition, single-threading the fan-out self-join
    // behind it (pair volume >> input volume, invisible to AQE's
    // size-based coalescing).
    val sh = df.select(col(idCol) +: blockCols.map(col) :+
        graft.plans.TextExpressions.wordShingleHashes(col(textCol), n).as("__sh"): _*)
      .repartition(shufflePartitions(df), blockCols.map(col): _*)
    val a = sh.select(blockCols.map(col) ++
      Seq(col(idCol).as("id_a"), col("__sh").as("__sha")): _*)
    val b = sh.select(blockCols.map(col) ++
      Seq(col(idCol).as("id_b"), col("__sh").as("__shb")): _*)
    jaccVerify(a.join(b, blockCols).filter(col("id_a") < col("id_b")), threshold)
  }

  /** Shared verification tail over materialized sorted shingle arrays
    * (__sha/__shb). The count prefilter is load-bearing: the final
    * `jacc >= t` filter gets pushed into the join CONDITION, where its
    * CASE expression references the intersect count THREE times per
    * candidate pair; `i*(1+t) >= t*(|A|+|B|)` is algebraically the same
    * cut (J = i/(a+b-i) >= t  <=>  i*(1+t) >= t*(a+b)), references it
    * ONCE, and short-circuits ahead of the exact filter in the AND
    * chain — so the expensive merge-walk runs ~1x per candidate pair
    * instead of ~4x (measured). The 1e-9 slack keeps the prefilter
    * conservative under double rounding; the exact filter decides.
    */
  private def jaccVerify(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("__inter",
        graft.plans.VectorExpressions.sortedIntersectCount(col("__sha"), col("__shb"))
          .cast("double"))
      .filter(col("__inter") * lit(1.0 + threshold) >=
        lit(threshold) * (size(col("__sha")) + size(col("__shb"))) - lit(1e-9))
      .withColumn("__union", size(col("__sha")) + size(col("__shb")) - col("__inter"))
      .withColumn("jacc",
        when(col("__union") =!= 0.0, col("__inter") / col("__union")).otherwise(lit(0.0)))
      .filter(col("jacc") >= threshold)
      .select("id_a", "id_b", "jacc")

  /** Exact prefix-filtered set-similarity join (AllPairs/PPJoin family:
    * Bayardo et al. WWW'07, Xiao et al. WWW'08): a pair with Jaccard
    * >= t over shingle sets ordered by ONE global total order MUST
    * share one of each side's first `|S| - ceil(t*|S|) + 1` elements,
    * so postings are built from those prefixes only — O((1-t) x corpus
    * tokens) instead of every token — and candidates additionally pass
    * the length filter `t*|A| <= |B| <= |A|/t` before the merge-walk
    * verification. Exact (no recall loss), and the safe route for
    * blocks too large for the all-pairs native path.
    *
    * The global order is ASCENDING per-block document frequency (ties
    * by token value) — AllPairs' core trick, not an optimization
    * detail: the theorem holds under ANY consistent order, but the
    * prefix under hash order is ~random tokens, whose posting lists
    * are stopword-sized and whose self-join goes quadratic (measured
    * at the sf10 gate: 58.2M candidates for 50k docs, 208 s in the
    * candidate join, against 3,839 true pairs). Rarest-first prefixes
    * make each posting list as short as the corpus allows; the
    * frequency map is one hash aggregation over the exploded tokens
    * (map-side combined), and the verify side keeps the value-sorted
    * arrays the merge-walk needs. Output: (id_a, id_b, jacc).
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              blockCols: Seq[String], n: Int = 1,
                              threshold: Double = 0.8): DataFrame = {
    require(threshold > 0, "prefix filtering needs a positive threshold")
    // null block values never match an equi-join, so the blocked and
    // inverted-index strategies silently drop those rows; filter them
    // here too or xxhash64 (which skips null inputs) would collapse
    // them into one shared bucket and break strategy equivalence
    val nonNullBlocks =
      if (blockCols.isEmpty) df
      else df.filter(blockCols.map(col(_).isNotNull).reduce(_ && _))
    val sh = nonNullBlocks.select(col(idCol) +: blockCols.map(col) :+
        graft.plans.TextExpressions.wordShingleHashes(col(textCol), n).as("__sh"): _*)
      .repartition(shufflePartitions(df), col(idCol)) // barrier + verify-join key; explicit count (see ngramJaccardPairsBlocked)
    val blockKey = if (blockCols.isEmpty) lit(0L) else xxhash64(blockCols.map(col): _*)
    val toks = sh.select(col(idCol), size(col("__sh")).as("__sz"),
      blockKey.as("__blk"), explode(col("__sh")).as("__t"))
    // per-block document frequency of each token: the global order key
    val dfreq = toks.groupBy(col("__blk"), col("__t"))
      .agg(count(lit(1)).as("__df"))
    // 1e-9 slack before ceil keeps candidate generation conservative at
    // exact integer boundaries (jaccVerify, with the same slack, stays
    // the only decider) — e.g. sz=10, t=0.8: 8.000000000000002 would
    // otherwise ceil to 9 and shrink the prefix below the exact bound
    val prefixLen = (col("__sz") -
      ceil(col("__sz") * lit(threshold) - lit(1e-9)) + 1).cast("int")
    // partition by (block, id): same shuffle-key cardinality, but an id
    // that repeats across blocks keeps a per-document prefix instead of
    // mixing tokens from both documents and silently shrinking it
    val wOrd = Window.partitionBy(col("__blk"), col(idCol))
      .orderBy(col("__df").asc, col("__t").asc)
    val post = toks.join(dfreq, Seq("__blk", "__t"))
      .withColumn("__rn", row_number().over(wOrd))
      .filter(col("__rn") <= prefixLen)
      .select(col(idCol), col("__sz"), xxhash64(col("__blk"), col("__t")).as("__h"))
      // explicit partition count on the candidate-join key: the postings
      // frame is small by bytes and AQE would coalesce the self-join
      // input to one partition (see ngramJaccardPairsBlocked)
      .repartition(shufflePartitions(df), col("__h"))
    val cand = post.as("x").join(post.as("y"),
        col("x.__h") === col("y.__h") &&
          col(s"x.$idCol") < col(s"y.$idCol") &&
          // length filter: jacc >= t forces t <= |A|/|B| <= 1/t; the
          // 1e-9 slack keeps integer-boundary sizes in the candidate set
          col("y.__sz") * lit(threshold) - lit(1e-9) <= col("x.__sz") &&
          col("x.__sz") * lit(threshold) - lit(1e-9) <= col("y.__sz"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    jaccVerify(
      cand
        .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
        .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__shb")), Seq("id_b")),
      threshold)
  }

  /** Self-routing n-gram Jaccard join — the default entry point.
    * Counts each block up front and routes: blocks up to `maxBlockSize`
    * rows take the dense all-pairs native path
    * ([[ngramJaccardPairsBlocked]] shape — wins when most pairs overlap
    * anyway); larger blocks take the prefix-filtered index path
    * ([[ngramJaccardPairsPrefix]]), which never materializes all pairs.
    * Both branches are exact, so the union is exactly the blocked
    * semantics with the quadratic blow-up capped at maxBlockSize^2 —
    * one `("en","web")` mega-block at 100x scale can no longer go
    * cartesian. Output: (id_a, id_b, jacc).
    */
  def ngramJaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
                            blockCols: Seq[String], n: Int = 1,
                            threshold: Double = 0.8,
                            maxBlockSize: Int = 2000): DataFrame = {
    val counts = df.groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("__bn"))
    val tagged = df.join(counts, blockCols) // same key as the downstream self-joins
    val dense = ngramJaccardPairsBlocked(
      tagged.filter(col("__bn") <= maxBlockSize).drop("__bn"),
      idCol, textCol, blockCols, n, threshold)
    val sparse = ngramJaccardPairsPrefix(
      tagged.filter(col("__bn") > maxBlockSize).drop("__bn"),
      idCol, textCol, blockCols, n, threshold)
    dense.unionByName(sparse)
  }

  // ---- MinHash + LSH -------------------------------------------------

  // one-hash minwise scheme constants — canonical definitions live in
  // the native kernel ([[graft.plans.ShingleKernel]]); delegating here
  // keeps the HOF/agg reference forms drift-proof
  private def mixA(i: Int): Long = graft.plans.ShingleKernel.mixA(i)
  private def mixB(i: Int): Long = graft.plans.ShingleKernel.mixB(i)

  /** MinHash signature as a per-row expression. Each shingle is
    * xxhash64'd once per permutation here — fine for small arrays;
    * [[minhashSignatures]] (the native kernel) is the bulk path: HOF
    * lambdas run interpreted and re-evaluate shared subexpressions
    * per permutation.
    */
  def minhashSignature(shingles: Column, numHashes: Int = 32): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingles, s =>
        xxhash64(s).bitwiseAND(lit(0x7FFFFFFFL)) * lit(mixA(i)) + lit(mixB(i))))
    }: _*)

  /** Bulk MinHash: the whole signature in ONE native per-row loop
    * ([[graft.plans.MinHashSigF]]) — zero shuffle, no corpus-sized
    * shingle explode; spec-pinned bit-for-bit against both the
    * explode + min-aggregate formulation (kept below) and the per-row
    * HOF fold. Null text yields a null signature (such a doc can never
    * band-join, mirroring its absence from the explode form's output).
    * Output: (idCol, __sig array<long>).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        ngramN: Int, numHashes: Int = 32): DataFrame =
    df.select(col(idCol),
      graft.plans.TextExpressions.minhash(col(textCol), ngramN, numHashes)
        .as("__sig"))

  /** The explode + codegen'd min-aggregate formulation of
    * [[minhashSignatures]] (shuffle carries numHashes longs per doc),
    * kept as the cross-check reference for the native kernel's parity
    * spec. Drops docs whose text is null.
    */
  private[graft] def minhashSignaturesAgg(df: DataFrame, idCol: String,
                                          textCol: String, ngramN: Int,
                                          numHashes: Int = 32): DataFrame = {
    val exploded = df
      .select(col(idCol), explode(wordShingles(col(textCol), ngramN)).as("__s"))
      .select(col(idCol), xxhash64(col("__s")).bitwiseAND(lit(0x7FFFFFFFL)).as("__h"))
    val mins = (0 until numHashes).map { i =>
      min(col("__h") * lit(mixA(i)) + lit(mixB(i))).as(s"__m$i")
    }
    exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("__sig"))
  }

  /** Pick (bands, rowsPerBand) for [[minhashLsh]] from a target
    * Jaccard threshold. A banding scheme turns per-pair similarity s
    * into candidate probability P(s) = 1 - (1 - s^r)^b; the right
    * (b, r) puts that S-curve's rise at the threshold. Over every
    * divisor split b·r = numHashes this minimizes the weighted
    * false-positive area (∫₀ᵗ P) + false-negative area (∫ᵗ¹ 1-P) by
    * midpoint integration — the standard LSH tuning construction
    * (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3.4).
    * Driver-side closed arithmetic: deterministic, O(divisors·steps).
    */
  def lshParams(threshold: Double, numHashes: Int = 32,
                fpWeight: Double = 0.5): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, "threshold must be in (0,1)")
    require(numHashes >= 2, "need at least 2 hashes")
    require(fpWeight >= 0.0 && fpWeight <= 1.0, "fpWeight must be in [0,1]")
    val steps = 1000
    def candidateP(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
    val splits = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    splits.minBy { case (b, r) =>
      var fp = 0.0; var fn = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = candidateP(s, b, r)
        if (s < threshold) fp += p else fn += 1.0 - p
        i += 1
      }
      fpWeight * fp / steps + (1.0 - fpWeight) * fn / steps
    }
  }

  /** Banded LSH candidate generation + exact Jaccard verification,
    * over word n-gram shingles (the C4/RefinedWeb-style choice: word
    * n-grams keep unrelated docs near zero Jaccard even over a small
    * vocabulary, where character shingles would flood the bands with
    * false candidates).
    * numHashes = bands × rowsPerBand; docs agreeing on ALL rows of any
    * band land in the same bucket and become candidates. Shuffle is
    * O(docs × bands); verification joins shingle sets back by id for
    * the (small) candidate set only.
    * Output: (id_a, id_b, jacc) with jacc >= threshold.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 ngramN: Int = 5, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.7,
                 maxBucketSize: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val shingler: Column => Column = wordShingles(_, ngramN)
    // NOTHING is cached here (r15): sh is one cheap projection off the
    // scan; the signature is the native graft_minhash kernel, so the
    // band frame's derivation is a scan plus a per-row loop, and the
    // self-join's (b, h) shuffle — which capBuckets' window already
    // forced — is planned once and exchange-reused by both sides.
    // (The old persist predated the kernel, when the band frame
    // embedded the explode + 32-min-aggregate signature pass.)
    val sh = df.select(col(idCol), shingler(col(textCol)).as("__sh"))
    val sig = minhashSignatures(df, idCol, textCol, ngramN, numHashes)
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("b"), hash(slice(col("__sig"), j * r + 1, r)).as("h"))
    }
    // null-text docs carry a null __sig from the kernel; hash(slice(null))
    // folds to the seed, so WITHOUT this filter every null doc would land
    // in one (band, seed) bucket and band-join quadratically. Filtering
    // here restores the explode form's behavior (null docs emit no bands)
    // before any bucket is formed.
    val exploded = capBuckets(
      sig.filter(col("__sig").isNotNull)
        .select(col(idCol), explode(array(bandStructs: _*)).as("__band"))
        .select(col(idCol), col("__band.b").as("__b"), col("__band.h").as("__h")),
      maxBucketSize)
    val cand = exploded.as("x").join(exploded.as("y"),
        col("x.__b") === col("y.__b") && col("x.__h") === col("y.__h") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    withJacc(cand
        .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
        .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__shb")), Seq("id_b")),
        "__sha", "__shb")
      .filter(col("jacc") >= threshold)
      .select("id_a", "id_b", "jacc")
  }

  /** The persistable signature table an incremental crawl pipeline
    * STORES for its ingested history (r17): one row per document —
    * minhash signature (banding recomputes from it with a per-row
    * slice+hash loop, never touching text) plus the md5 of the sorted
    * shingle SET (`__shash`), which makes exact set-equality
    * verification possible without storing or re-shingling a single
    * history character. Append each screened batch's rows to this
    * table (a [[graft.sources.VersionedTable]] commit is the natural
    * home) and the next batch screens against the union.
    * Output: (idCol, __sig array<long>, __shash).
    */
  def minhashHistorySignatures(df: DataFrame, idCol: String, textCol: String,
                               ngramN: Int = 5,
                               numHashes: Int = 32): DataFrame =
    df.select(col(idCol),
      graft.plans.TextExpressions.minhash(col(textCol), ngramN, numHashes)
        .as("__sig"),
      md5(to_json(array_sort(wordShingles(col(textCol), ngramN))))
        .as("__shash"))

  /** Near-duplicate screen of a NEW batch against a STORED history
    * band table — the minhash analog of [[dedupAgainstHistory]] (which
    * is exact-hash only): batch rows whose shingle profile near-matches
    * any history row are dropped. The history side is a
    * [[minhashHistorySignatures]] table — its text is NEVER reread or
    * re-shingled; its band keys re-derive from the stored signatures
    * with a map-side slice+hash loop, so the per-batch cost is
    * O(|batch| shingling + (|batch| + |history|) · bands shuffle), not
    * a history recompute.
    *
    * Verification per candidate pair:
    *  - `threshold >= 1.0`: EXACT — stored set-hash equality, which
    *    holds iff the shingle sets are equal (md5 collisions aside).
    *    Equal sets give equal signatures and agree on every band, so
    *    the screen provably drops every exact-shingle-set duplicate
    *    (the oracle-checkable contract, mirroring
    *    q_dedup_minhash_planted's argument).
    *  - `threshold < 1.0`: the standard minhash ESTIMATE — the
    *    fraction of agreeing signature components (an unbiased
    *    Jaccard estimator; ±1/sqrt(numHashes)-scale noise). Exact
    *    verification would need history shingle sets, which this
    *    operator deliberately does not store.
    *
    * The screen is per-ID: every batch row whose id near-matched is
    * dropped (duplicate batch ids drop together). Null-text rows can
    * never match (null signature emits no bands) and always survive —
    * the NOT-EXISTS null contract. Output: the surviving batch rows,
    * columns unchanged.
    */
  def minhashAgainstHistory(batch: DataFrame, historySigs: DataFrame,
                            idCol: String, textCol: String,
                            ngramN: Int = 5, numHashes: Int = 32,
                            bands: Int = 8, threshold: Double = 1.0,
                            maxBucketSize: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("b"), hash(slice(col("__sig"), j * r + 1, r)).as("h"))
    }
    def explodeBands(sigs: DataFrame, out: String): DataFrame = capBuckets(
      sigs.filter(col("__sig").isNotNull)
        .select(col(idCol), explode(array(bandStructs: _*)).as("__band"))
        .select(col(idCol).as(out),
          col("__band.b").as("__b"), col("__band.h").as("__h")),
      maxBucketSize)
    // consumed twice (band explode + the verify join) — unpersisted,
    // the batch's shingle+minhash pass runs twice. persistIfSmall:
    // cached at gate SFs, re-derived map-side past the budget (the
    // signatures are corpus-sized, exactly what a 100 TB run must not
    // cache — same contract as the pipeline screen step's input)
    val bsig = graft.GraftSession.persistIfSmall(
      minhashHistorySignatures(batch, idCol, textCol, ngramN, numHashes))
    val hsig = historySigs.select(col(idCol), col("__sig"),
      col("__shash"))
    val cand = explodeBands(bsig, "__bid")
      .join(explodeBands(hsig, "__hid"), Seq("__b", "__h"))
      .select(col("__bid"), col("__hid"))
      .distinct()
    val matched =
      if (threshold >= 1.0)
        cand
          .join(bsig.select(col(idCol).as("__bid"), col("__shash").as("__ha")),
            Seq("__bid"))
          .join(hsig.select(col(idCol).as("__hid"), col("__shash").as("__hb")),
            Seq("__hid"))
          .filter(col("__ha") === col("__hb"))
      else
        cand
          .join(bsig.select(col(idCol).as("__bid"), col("__sig").as("__sa")),
            Seq("__bid"))
          .join(hsig.select(col(idCol).as("__hid"), col("__sig").as("__sb")),
            Seq("__hid"))
          .withColumn("__est",
            aggregate(zip_with(col("__sa"), col("__sb"),
                (x, y) => when(x === y, 1).otherwise(0)),
              lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes))
          .filter(col("__est") >= threshold)
    batch.join(matched.select(col("__bid").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Hot-bucket guard shared by the banded LSH joins: a bucket of B
    * rows becomes B^2/2 candidate pairs, so ONE degenerate signature
    * (empty docs, boilerplate, a constant header) can go quadratic at
    * scale no matter how the bands are tuned. Standard LSH practice is
    * to drop buckets past a size cap — they carry near-zero information
    * per pair anyway. Exact duplicates should be removed with [[exact]]
    * BEFORE near-dup LSH (cheaper and lossless); with that done, a
    * capped bucket is overwhelmingly a degenerate-signature artifact,
    * not real signal. The count runs as a window over the bucket key
    * the self-join shuffles on anyway, so the guard adds no extra
    * exchange of the candidate frame.
    */
  private def capBuckets(exploded: DataFrame, maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) exploded
    else exploded
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("__b"), col("__h"))))
      .filter(col("__bn") <= maxBucketSize)
      .drop("__bn")

  // ---- SimHash -------------------------------------------------------

  /** 64-bit SimHash over the whitespace token multiset: bit b is set
    * when the sum of ±1 votes (tokens whose xxhash64 has bit b set
    * vote +1) is positive. Pure HOF expression, one map-side pass —
    * fine for scoring single columns; [[simhashSignatures]] is the
    * bulk path (HOF lambdas don't whole-stage-codegen).
    */
  def simhash(c: Column): Column = {
    val toks = split(trim(lower(c)), "\\s+")
    // hash each token once; each bit then folds over the hash array
    val hashes = transform(toks, t => xxhash64(t))
    val bitVals = (0 until 64).map { b =>
      val vote = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    // null text -> null signature (a bare otherwise(0) would hand null
    // docs signature 0, colliding with genuine all-negative-vote docs)
    when(c.isNotNull, bitVals.reduce(_ + _))
  }

  /** Bulk SimHash: the native codegen'd kernel
    * ([[graft.plans.SimHashF]]) — one tight per-row loop, zero
    * shuffle; the signature rides whatever scan the consumer plans.
    * The previous declarative bulk form (explode every token through a
    * 64-conditional-sum hash aggregation) shuffled ~64 longs per doc
    * AFTER materializing the corpus-sized token explode; the kernel is
    * spec-pinned bit-for-bit against both it and the per-column HOF
    * fold ([[simhash]]). Output: (idCol, __sig).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.plans.TextExpressions.simhash(col(textCol)).as("__sig"))

  /** The declarative explode + 64-conditional-sum formulation of
    * [[simhashSignatures]], kept as the cross-check reference for the
    * native kernel's parity spec.
    */
  private[graft] def simhashSignaturesAgg(df: DataFrame, idCol: String,
                                          textCol: String): DataFrame = {
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val exploded = df.select(col(idCol), explode(toks).as("__t"))
      .withColumn("__h", xxhash64(col("__t")))
    val voteSums = (0 until 64).map { b =>
      sum(when(col("__h").bitwiseAND(lit(1L << b)) =!= 0L, 1L).otherwise(-1L)).as(s"__v$b")
    }
    exploded.groupBy(col(idCol)).agg(voteSums.head, voteSums.tail: _*)
      .select(col(idCol),
        (0 until 64).map(b => when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("__sig"))
  }

  /** SimHash near-dup pairs: the 64-bit signature is cut into
    * `maxHamming + 1` bands, so by pigeonhole any pair within the
    * hamming budget MUST agree exactly on at least one band — complete
    * candidate generation for the declared contract (the previous fixed
    * 4x16-bit banding silently missed distance-4..6 pairs whose flipped
    * bits straddled all four bands). Wider budgets mean narrower bands
    * (coarser buckets, more candidates): keep maxHamming small, dedupe
    * exact matches first, and rely on the bucket cap for degenerate
    * signatures. Verified by exact hamming. Output: (id_a, id_b, hamming).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = 10000): DataFrame =
    // no persist (r15): the signature is the native graft_simhash
    // kernel — re-deriving the banded frame per self-join side is a
    // scan plus a cheap per-row loop, and the (b, h) shuffle both
    // sides need is planned once and reused; caching a corpus-sized
    // frame was only worth it when the signature aggregation was the
    // dominant cost
    hammingPairs(simhashSignatures(df, idCol, textCol), idCol, "__sig",
      maxHamming, maxBucketSize)

  /** Near-dup pairs from ANY 64-bit signature frame — the
    * signature-agnostic banding core behind [[simhashPairs]] and
    * [[graft.multimodal.Media.imageNearDup]] (r17). The signature is
    * cut into `maxHamming + 1` bands, so by pigeonhole any pair within
    * the hamming budget MUST agree exactly on at least one band —
    * complete candidate generation for the declared contract. Wider
    * budgets mean narrower bands (coarser buckets, more candidates):
    * keep maxHamming small, dedupe exact matches first, and rely on
    * the bucket cap for degenerate signatures. Null signatures
    * (undecodable/null input) are dropped pre-banding — they can never
    * satisfy the equality join, and filtering them early keeps them
    * out of the bucket-cap occupancy windows (the r16 minhash
    * junk-bucket lesson). Verified by exact hamming.
    * Output: (id_a, id_b, hamming).
    */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = 10000): DataFrame = {
    // band j covers [offset, offset+width): first `rem` bands get the
    // extra bit so the 64 bits are fully partitioned
    val bandStructs = hammingBandStructs(sigCol, maxHamming)
    val exploded = capBuckets(
      sigs.filter(col(sigCol).isNotNull)
        .select(col(idCol), col(sigCol).as("__sig"),
          explode(array(bandStructs: _*)).as("__band"))
        .select(col(idCol), col("__sig"), col("__band.b").as("__b"), col("__band.h").as("__h")),
      maxBucketSize)
    exploded.as("x").join(exploded.as("y"),
        col("x.__b") === col("y.__b") && col("x.__h") === col("y.__h") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        bit_count(col("x.__sig").bitwiseXOR(col("y.__sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup screen of NEW 64-bit signatures against a STORED
    * history signature table — the hamming analog of
    * [[minhashAgainstHistory]], and the crawl-ingest shape for
    * perceptual image hashes ([[graft.multimodal.Media
    * .imageAgainstHistory]]) and simhash text: batch rows whose
    * signature sits within `maxHamming` of ANY history signature are
    * dropped. Unlike the minhash estimate path, the verify here is
    * EXACT (bit_count over the stored signatures) and the banding is
    * pigeonhole-complete, so the contract is precise: a batch row
    * survives iff NO history signature is within the budget (modulo
    * the bucket cap — the same degenerate-signature tradeoff as every
    * banded join; dedupe exact matches first). Null batch signatures
    * can never match and always survive; null history signatures
    * screen nothing. History carries ONLY (idCol, sigCol) — 8-byte
    * signatures plus ids; pixels/text are never re-read.
    * `batchSigs` is the (idCol, sigCol) frame for the batch (the
    * caller derives it — decode hash, simhash kernel, ...); output is
    * the surviving `batch` rows, columns unchanged.
    */
  def hammingAgainstHistory(batch: DataFrame, batchSigs: DataFrame,
                            historySigs: DataFrame, idCol: String,
                            sigCol: String = "__sig",
                            maxHamming: Int = 3,
                            maxBucketSize: Int = 10000): DataFrame = {
    val bandStructs = hammingBandStructs(sigCol, maxHamming)
    def explodeSide(sigs: DataFrame, outId: String, outSig: String): DataFrame =
      capBuckets(
        sigs.filter(col(sigCol).isNotNull)
          .select(col(idCol).as(outId), col(sigCol).as(outSig),
            explode(array(bandStructs: _*)).as("__band"))
          .select(col(outId), col(outSig),
            col("__band.b").as("__b"), col("__band.h").as("__h")),
        maxBucketSize)
    val matched = explodeSide(batchSigs, "__bid", "__sa")
      .join(explodeSide(historySigs, "__hid", "__sb"), Seq("__b", "__h"))
      .filter(bit_count(col("__sa").bitwiseXOR(col("__sb"))) <= maxHamming)
      .select(col("__bid").as(idCol))
      .distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup screen of a NEW text batch against a STORED
    * simhash history table ([[simhashSignatures]] output, appended per
    * accepted batch) — [[hammingAgainstHistory]] specialized to the
    * token-multiset signature: batch docs whose simhash sits within
    * `maxHamming` of any history signature drop; history text is
    * never re-tokenized. Complements [[minhashAgainstHistory]]: the
    * simhash screen is cheaper (one 8-byte signature, no shingle
    * storage) and catches token-multiset similarity; the minhash one
    * carries the exact shingle-set verification. Null-text batch rows
    * survive (null signature).
    */
  def simhashAgainstHistory(batch: DataFrame, historySigs: DataFrame,
                            idCol: String, textCol: String,
                            maxHamming: Int = 3,
                            maxBucketSize: Int = 10000): DataFrame =
    hammingAgainstHistory(batch,
      simhashSignatures(batch, idCol, textCol), historySigs, idCol,
      "__sig", maxHamming, maxBucketSize)

  /** The `maxHamming + 1` band keys of a 64-bit signature (pigeonhole:
    * any pair within the budget agrees exactly on some band) — shared
    * by [[hammingPairs]] and [[hammingAgainstHistory]].
    */
  private def hammingBandStructs(sigCol: String, maxHamming: Int): Seq[Column] = {
    require(maxHamming >= 0 && maxHamming < 32, "need bands of >= 2 bits")
    val bands = maxHamming + 1
    val base = 64 / bands
    val rem = 64 % bands
    (0 until bands).map { j =>
      val width = base + (if (j < rem) 1 else 0)
      val offset = j * base + math.min(j, rem)
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(j).as("b"),
        shiftrightunsigned(col(sigCol), offset).bitwiseAND(lit(mask)).as("h"))
    }
  }

  // ---- embedding near-dup --------------------------------------------

  /** Embedding-cosine near-duplicate pairs within a blocking key
    * (source, shard, LSH bucket, ...). Output: (id_a, id_b, sim).
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, threshold: Double = 0.9): DataFrame = {
    // per-vector norms precomputed once per side, not once per pair
    val v = df.select(col(idCol), col(blockCol), col(vecCol))
      .withColumn("__n", Similarity.norm(col(vecCol)))
    val a = v.select(col(blockCol), col(idCol).as("id_a"),
      col(vecCol).as("__va"), col("__n").as("__na"))
    val b = v.select(col(blockCol), col(idCol).as("id_b"),
      col(vecCol).as("__vb"), col("__n").as("__nb"))
    val denom = col("__na") * col("__nb")
    a.join(b, Seq(blockCol))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim",
        when(denom =!= 0.0, round(Similarity.dot(col("__va"), col("__vb")) / denom, 6)))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Unblocked embedding near-dup at scale: block by deterministic
    * hyperplane bucket first (recall < 1, measured in specs).
    *
    * `hotBucketCap` (> 0 to enable) bounds the densest bucket the way
    * real embedding corpora demand — planesFor holds the MEAN
    * occupancy, but clustered corpora skew hard (the LOF sf10
    * measurement: median 91, max 10,688 — one bucket owning a
    * single-task quadratic pair explosion). Buckets above the cap are
    * REFINED WITH EXTRA HYPERPLANES (ceil(log2(occ / cap)) fresh
    * planes from [[graft.llm.Similarity.hyperplaneBucketSlice]]), NOT
    * id-hash-split: near-dup pairs must stay together, and similar
    * vectors agree on each fresh plane with the usual 1 − θ/π odds —
    * so refinement can only DROP pairs (sub-buckets partition the
    * bucket), never invent them, and EXACT duplicates can never be
    * lost (identical vectors agree on every plane). Residual: a mass
    * of truly identical vectors never separates — correctly, since
    * every pair among them IS a near-dup pair and the quadratic
    * output is the answer (collapse clusters downstream via
    * [[nearDupClusters]] when that is the real question).
    */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                          planes: Int = 8, threshold: Double = 0.9,
                          hotBucketCap: Int = 0): DataFrame = {
    val bucketed = df.withColumn("__bucket",
      Similarity.hyperplaneBucket(col(vecCol), planes))
    val refined =
      if (hotBucketCap <= 0 || planes <= 0) bucketed
      else {
        // no persist (r15): the projection is the native codegen
        // kernel, so each consumer (occupancy agg, hot join, pair
        // stage) re-derives with a scan + cheap per-row loop instead
        // of reading a corpus-sized cache
        val b = bucketed
        val hot = broadcast(
          b.groupBy(col("__bucket")).agg(count(lit(1)).as("__occ"))
            .filter(col("__occ") > hotBucketCap)
            .select(col("__bucket"),
              least(lit(16.0), ceil(log2(col("__occ").cast("double") / hotBucketCap)))
                .cast("int").as("__extra")))
        val ext = Similarity.hyperplaneBucketSlice(col(vecCol), 16, planes)
        b.join(hot, Seq("__bucket"), "left")
          .withColumn("__bucket",
            when(col("__extra").isNull, col("__bucket"))
              .otherwise(col("__bucket") +
                (pmod(ext, pow(lit(2.0), col("__extra")).cast("long")) + 1L) *
                  lit(1L << math.min(planes, 45))))
          .drop("__extra")
      }
    embeddingNearDup(refined, idCol, vecCol, "__bucket", threshold)
  }

  /** [[embeddingNearDupLsh]] with `planes` sized from the corpus (one
    * count() scan) and the hot-bucket refinement on at 4× the target:
    * in-bucket all-pairs cost stays n·targetBucketSize/2 as the corpus
    * grows — a FIXED plane count instead grows bucket occupancy, and
    * with it the pair count, linearly (the same quadratic-in-bucket
    * hazard [[graft.quality.Lof]] measured before its r12 adaptive
    * flip) — and the cap handles the skew tail the mean cannot see.
    */
  def embeddingNearDupLshAuto(df: DataFrame, idCol: String, vecCol: String,
                              targetBucketSize: Int = 512,
                              threshold: Double = 0.9): DataFrame =
    embeddingNearDupLsh(df, idCol, vecCol,
      planes = Similarity.planesFor(df.count(), targetBucketSize), threshold,
      hotBucketCap = 4 * targetBucketSize)

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding corpus (the IVF
    * cell build), then emit within-cell pairs with rounded cosine
    * >= threshold — the LEARNED counterpart of
    * [[embeddingNearDupLsh]]'s data-blind hyperplane blocking (the
    * registered recall telemetry says learned partitions group
    * semantically-close vectors far better per candidate:
    * q_sim_ivf_recall 0.79 vs q_sim_lsh_recall 0.23 at the sf10 gate).
    * Output contract matches the other near-dup generators:
    * (id_a, id_b, sim), each pair emitted once (cells partition the
    * corpus — no multi-band duplication, no distinct needed). Recall
    * < 1: a near-dup pair straddling a cell boundary is missed
    * (measured against the exact form in the spec); EXACT duplicates
    * can never be lost — identical vectors take identical argmax
    * cells and agree on every refinement plane.
    *
    * Scale shape: the cell build is
    * [[graft.llm.Ivf.buildIndexSampled]] (bounded deterministic Lloyd
    * sample, ONE map-side native-kernel assignment pass over the
    * corpus); the within-cell self-join costs n·occupancy/2 dots; and
    * cells above `hotCellCap` are refined with fresh hyperplanes
    * exactly like the LSH form's hot buckets — refinement partitions
    * a cell, so it can only DROP pairs, never invent them. nlist=1
    * with no cap degenerates to the exact unblocked all-pairs form —
    * the oracle anchor (q_dedup_semantic_exact).
    */
  def semanticNearDupAt(df: DataFrame, idCol: String, vecCol: String,
                        nlist: Int, threshold: Double = 0.9,
                        hotCellCap: Int = 0, iters: Int = 2): DataFrame =
    semanticNearDupIndexed(
      Ivf.buildIndexSampled(
        df.select(col(idCol), col(vecCol)), idCol, vecCol, nlist, iters),
      idCol, vecCol, threshold, hotCellCap)

  /** [[semanticNearDupAt]] over a PRE-ASSIGNED cell index (id, vec,
    * __cid) — the reuse seam: a quantizer trained once
    * ([[graft.llm.Ivf.trainIndex]]/[[graft.llm.Ivf.trainAutoCached]])
    * attaches to the corpus with one map-side kernel pass, and the
    * pair stage runs here unchanged.
    */
  def semanticNearDupIndexed(indexed: DataFrame, idCol: String,
                             vecCol: String, threshold: Double = 0.9,
                             hotCellCap: Int = 0): DataFrame = {
    val bucketed = indexed.withColumn("__bucket", col("__cid").cast("long"))
      .drop("__cid")
    val refined =
      if (hotCellCap <= 0) bucketed
      else {
        val hot = broadcast(
          bucketed.groupBy(col("__bucket")).agg(count(lit(1)).as("__occ"))
            .filter(col("__occ") > hotCellCap)
            .select(col("__bucket"),
              least(lit(16.0), ceil(log2(col("__occ").cast("double") / hotCellCap)))
                .cast("int").as("__extra")))
        // fresh planes at offset 0 are independent of the base
        // grouping here (cells are k-means, not planes); sub-buckets
        // land above bit 32, so refined and unrefined cell ids can
        // never collide (cid < 2^31, sub+1 >= 1)
        val ext = Similarity.hyperplaneBucketSlice(col(vecCol), 16, 0)
        bucketed.join(hot, Seq("__bucket"), "left")
          .withColumn("__bucket",
            when(col("__extra").isNull, col("__bucket"))
              .otherwise(col("__bucket") +
                (pmod(ext, pow(lit(2.0), col("__extra")).cast("long")) + 1L) *
                  lit(1L << 32)))
          .drop("__extra")
      }
    embeddingNearDup(refined, idCol, vecCol, "__bucket", threshold)
  }

  /** [[semanticNearDupAt]] at the adaptive operating point: nlist on
    * the ANN sqrt rule (per-row assignment cost is nlist·dim, so the
    * occupancy-stable nlist = n/target sizing the LSH form uses would
    * send the one full-corpus assignment pass superlinear; the
    * hot-cell refinement carries the within-cell occupancy bound
    * instead) and hot cells refined at 4× the target, mirroring
    * [[embeddingNearDupLshAuto]].
    */
  def semanticNearDup(df: DataFrame, idCol: String, vecCol: String,
                      targetCellSize: Int = 512,
                      threshold: Double = 0.9,
                      indexKey: Option[String] = None): DataFrame =
    indexKey match {
      case None =>
        semanticNearDupAt(df, idCol, vecCol,
          nlist = Ivf.nlistFor(df.count()), threshold,
          hotCellCap = 4 * targetCellSize)
      case Some(key) =>
        // memoized quantizer (see Ivf.trainAutoCached's invalidation
        // contract): same sqrt-rule nlist, same sampled Lloyd, so the
        // assignment — and thus the pair output — is bit-identical to
        // the unkeyed form (spec-pinned); the Lloyd training is shared
        // with every other IVF consumer using this key
        val (_, cents) = Ivf.trainAutoCached(df, idCol, vecCol,
          iters = 2, cacheKey = key)
        semanticNearDupIndexed(
          Ivf.assignToCentroids(df.select(col(idCol), col(vecCol)),
            idCol, vecCol, cents, "__cid", "__cvec"),
          idCol, vecCol, threshold, hotCellCap = 4 * targetCellSize)
    }

  /** The persistable CELL-ASSIGNED embedding table a semantic ingest
    * pipeline STORES for its history (r18 — the embedding member of
    * the history-screen family beside [[dedupAgainstHistory]] exact,
    * [[minhashAgainstHistory]], [[simhashAgainstHistory]], and
    * [[graft.multimodal.Media.imageAgainstHistory]]): one row per
    * ingested document — id, embedding, and its IVF cell under the
    * pipeline's persisted quantizer ([[graft.llm.Ivf.trainIndex]] /
    * [[graft.llm.Ivf.loadIndex]] — the same artifact every ANN probe
    * reuses). Append each screened batch's survivors (their cells are
    * already assigned by the screen) and the next batch screens
    * against the union WITHIN CELLS — history is never re-assigned,
    * re-paired, or scanned all-pairs. Output: (idCol, vecCol, __cid)
    * plus, when `indexVersion` is given, the `__iv` QUANTIZER-VERSION
    * stamp (r19): the [[graft.llm.Ivf.saveIndex]] payload version
    * ([[graft.llm.Ivf.liveIndexVersion]]) these cell ids were assigned
    * under. Stamped history lets [[semanticAgainstHistory]] refuse
    * loudly when a retrain has changed the cell geometry instead of
    * silently missing near-dups, and [[reassignSemanticHistory]]
    * restores it after a retrain.
    */
  def semanticHistorySignatures(df: DataFrame, idCol: String, vecCol: String,
                                centroids: DataFrame,
                                centIdCol: String = "__cid",
                                centVecCol: String = "__cvec",
                                indexVersion: Option[Long] = None): DataFrame = {
    val assigned = Ivf.assignToCentroids(df.select(col(idCol), col(vecCol)),
      idCol, vecCol, centroids, centIdCol, centVecCol)
    indexVersion.fold(assigned)(v => assigned.withColumn("__iv", lit(v)))
  }

  /** Incremental SEMANTIC (embedding) history screen — the SemDeDup
    * ingest shape: drop every batch row whose rounded cosine against
    * ANY already-ingested history embedding reaches `threshold`;
    * survivors pass through with columns unchanged. `historyVecs` is a
    * [[semanticHistorySignatures]] table (id, vec, __cid): the batch
    * assigns to the SAME quantizer's cells (nprobe=1 rides the
    * map-side native argmax kernel — zero shuffle; nprobe>1 ranks
    * cells per row through the broadcast probe join, the standard IVF
    * recall knob for near-dups straddling a cell boundary) and the
    * verify join is EQUI ON THE CELL ID — per-batch cost is
    * O(|batch|·nlist·dim) assignment + within-cell pairs, never
    * |batch|×|history| all-pairs, and history vectors are read but
    * never re-assigned.
    *
    * Correctness contract (mirrors the family):
    *  - EXACT duplicates can never be lost at any nprobe ≥ 1:
    *    identical vectors take the identical argmax cell and cosine 1.
    *  - Near-dups in a probed cell are verified with the TRUE rounded
    *    cosine on stored vectors — unlike the minhash estimate, the
    *    decision is exact arithmetic, so with FIXED reference
    *    centroids the whole screen is oracle-expressible
    *    (q_dedup_semantic_incr replays assignment + screen in SQL).
    *  - Recall < 1 for straddlers beyond `nprobe` cells — the
    *    documented SemDeDup trade; raise nprobe toward nlist to
    *    converge on the exact screen (spec-pinned).
    *  - Unscorable batch rows (null / zero-norm vectors) carry a null
    *    similarity and always SURVIVE — the NOT-EXISTS null contract
    *    shared by every screen in the family.
    * The screen is per-ID: duplicate batch ids drop together.
    */
  def semanticAgainstHistory(batch: DataFrame, historyVecs: DataFrame,
                             centroids: DataFrame,
                             idCol: String, vecCol: String,
                             threshold: Double = 0.9, nprobe: Int = 1,
                             centIdCol: String = "__cid",
                             centVecCol: String = "__cvec",
                             indexVersion: Option[Long] = None): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // QUANTIZER-VERSION handshake (r19 — the r18 verdict's composition
    // hazard): cell-equi screening is only sound when batch and history
    // were assigned under the SAME quantizer payload. When the caller
    // names the version its `centroids` came from
    // ([[graft.llm.Ivf.loadIndexVersioned]]), refuse LOUDLY on any
    // stale/unstamped history instead of silently missing near-dups
    // after a retrain. Cost: one limit-1 probe — parquet min/max stats
    // prune every row group whose stamp uniformly matches, so a healthy
    // history answers from footer metadata.
    indexVersion.foreach { v =>
      if (!historyVecs.columns.contains("__iv"))
        throw new IllegalStateException(
          s"semanticAgainstHistory: quantizer version $v expected but the " +
          "history carries no __iv stamp — it predates the versioned " +
          "contract or was written unstamped; rebuild it via " +
          "semanticHistorySignatures(indexVersion = ...) or run " +
          "Dedup.reassignSemanticHistory against the index dir")
      val stale = historyVecs
        .filter(col("__iv").isNull || col("__iv") =!= v).limit(1).count() > 0
      if (stale)
        throw new IllegalStateException(
          s"semanticAgainstHistory: history cell ids were assigned under a " +
          s"DIFFERENT quantizer payload than version $v (retrained since?) " +
          "— screening would silently miss near-dups; run " +
          "Dedup.reassignSemanticHistory (or Ivf.maintainIndex with " +
          "semanticHistoryRoots) to re-assign the history first")
    }
    val cents0 = centroids.select(
      col(centIdCol).as("__cid"), col(centVecCol).as("__cvec"))
    val probed =
      if (nprobe == 1)
        Ivf.assignToCentroids(batch.select(col(idCol), col(vecCol)),
            idCol, vecCol, cents0, "__cid", "__cvec")
          .select(col(idCol).as("__bid"), col(vecCol).as("__bvec"),
            col("__cid"))
      else {
        val cents = broadcast(
          cents0.withColumn("__nc", Similarity.norm(col("__cvec"))))
        val probeDenom = col("__nq") * col("__nc")
        // the probe window ranks each ROW's nlist centroid sims, so it
        // must partition on a per-row key, not the user id: duplicate
        // batch ids would otherwise share one nprobe budget and one
        // vector's cells could crowd out the other's (the final
        // left_anti below keeps the per-ID drop semantics regardless).
        // The key is DETERMINISTIC (xxhash64 of id + vector — ADVICE
        // r19: monotonically_increasing_id here had assignDistributed's
        // task-retry remap hazard), so a recomputed upstream partition
        // re-derives the same key and can never duplicate/drop probe
        // rows across the window shuffle. Fully identical (id, vector)
        // rows share a key by construction; dense_rank (not row_number)
        // keeps the budget correct there — the d copies of each cell
        // row tie on (__csim, __cid), so the top nprobe DISTINCT cells
        // survive for every copy instead of the copies crowding the
        // budget down to nprobe/d cells.
        val w = Window.partitionBy(col("__rk"))
          .orderBy(col("__csim").desc, col("__cid").asc)
        batch.select(col(idCol).as("__bid"), col(vecCol).as("__bvec"))
          .withColumn("__rk", xxhash64(col("__bid"), col("__bvec")))
          .withColumn("__nq", Similarity.norm(col("__bvec")))
          .crossJoin(cents)
          .withColumn("__csim", when(probeDenom =!= 0.0,
            round(Similarity.dot(col("__bvec"), col("__cvec")) / probeDenom, 6)))
          .withColumn("__rn", dense_rank().over(w))
          .filter(col("__rn") <= nprobe)
          .select(col("__bid"), col("__bvec"), col("__cid"))
      }
    val hist = historyVecs.select(col("__cid"), col(vecCol).as("__hvec"))
      .withColumn("__nh", Similarity.norm(col("__hvec")))
    val simDenom = col("__nb") * col("__nh")
    val matched = probed
      .withColumn("__nb", Similarity.norm(col("__bvec")))
      .join(hist, Seq("__cid"))
      .withColumn("__sim", when(simDenom =!= 0.0,
        round(Similarity.dot(col("__bvec"), col("__hvec")) / simDenom, 6)))
      .filter(col("__sim") >= threshold)
      .select(col("__bid").as(idCol))
      .distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /** Re-assign a STORED semantic-history table to the quantizer
    * currently published under `indexDir` and re-stamp it with that
    * payload version (r19 — the repair arm of the version handshake:
    * after [[graft.llm.Ivf.maintainIndex]] retrains, stored `__cid`s
    * mean v1 cells while new batches assign v2 cells, and the
    * version-checked [[semanticAgainstHistory]] refuses; this restores
    * the screen without re-embedding anything). `historyRoot` is either
    * a plain parquet dir of [[semanticHistorySignatures]] rows or a
    * `batch_id=`-sliced streaming root
    * ([[graft.streaming.Streams.ingestScreenStream]] layout, run
    * while the stream is STOPPED); vectors live under `vecCol`.
    *
    * Per slice: heal a torn swap, read, drop the old `__cid`/`__iv`,
    * ONE map-side argmax-kernel pass over the stored vectors
    * ([[graft.llm.Ivf.assignToCentroids]] — zero shuffle, no pairing),
    * re-stamp, and publish back via the atomic staged swap
    * ([[graft.Recovery.idempotentWrite]]). Slice structure (and so the
    * stream's replay-exclusion contract) is preserved. A crash mid-run
    * leaves a mix of v1/v2 slices — the screen's version check refuses
    * exactly that state, and re-running completes the repair
    * (idempotent). Returns the number of slices rewritten.
    */
  def reassignSemanticHistory(spark: org.apache.spark.sql.SparkSession,
                              historyRoot: String, indexDir: String,
                              vecCol: String): Int = {
    val (cents, v) = Ivf.loadIndexVersioned(spark, indexDir)
    val targets = graft.Recovery.slicesOrRoot(spark, historyRoot, "batch_id")
    targets.foreach { p =>
      val keep = spark.read.parquet(p).drop("__cid", "__iv")
      // assignToCentroids appends __cid per row, preserving every
      // other column — id column name irrelevant to the kernel
      val re = Ivf.assignToCentroids(keep, keep.columns.head, vecCol,
          cents, "__cid", "__cvec")
        .withColumn("__iv", lit(v))
      graft.Recovery.idempotentWrite(re, p)
    }
    targets.size
  }

  // ---- benchmark decontamination -------------------------------------

  /** Benchmark decontamination: flag corpus documents sharing any word
    * `n`-gram with a benchmark/eval set (the standard test-set-overlap
    * screen before training — e.g. GPT-3 appendix C, PaLM sec. 8).
    *
    * Scale shape: benchmark suites are tiny (10^4..10^6 grams) next to
    * a 100 TB corpus, so the benchmark gram set is DISTINCT'd and
    * broadcast — corpus grams stream map-side through a broadcast hash
    * semi-probe, no corpus shuffle before the per-doc count. Output:
    * (doc_id per `idCol`, n_shared = distinct grams hit). Docs with
    * zero overlap don't appear (inner join) — callers anti-join to
    * drop contaminated docs.
    */
  def ngramContamination(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 5): DataFrame = {
    val benchGrams = bench
      .select(explode(wordShingles(col(textCol), n)).as("__g")).distinct()
    val corpusGrams = corpus
      // wordShingles is per-doc distinct already: count(*) == distinct count
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("__g"))
    corpusGrams.join(broadcast(benchGrams), "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-benchmark contamination REPORT — the measurement counterpart
    * of [[ngramContamination]]: for each benchmark set (named by
    * `benchNameCol` in `bench`), how many corpus docs share at least
    * one word n-gram and how much gram mass overlaps — the number a
    * data release publishes per eval suite before/after
    * decontamination. Output one row per benchmark, zero-filled for
    * clean ones: (bench_name, n_docs, n_gram_hits, n_bench_grams).
    * Scale shape: benchmark grams are eval-suite-sized (broadcast);
    * corpus grams stream map-side into the join and collapse in one
    * hash agg — same plan family as the removal path.
    */
  def contaminationReport(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String,
                          benchNameCol: String, n: Int = 5): DataFrame = {
    // consumed twice (sizes agg + the broadcast join build): pinned so
    // the shingling runs once; the returned frame is lazy, so the pin is
    // the caller's scope's, else the session's (GraftSession.releaseAll)
    val benchGrams = graft.GraftSession.pin(bench
      .select(col(benchNameCol).as("bench_name"),
        explode(wordShingles(col(textCol), n)).as("__g"))
      .distinct())
    val sizes = benchGrams.groupBy("bench_name")
      .agg(count(lit(1)).as("n_bench_grams"))
    val corpusGrams = corpus
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("__g"))
    val hits = corpusGrams.join(broadcast(benchGrams), "__g")
      .groupBy(col("bench_name"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_gram_hits"))
    sizes.join(hits, Seq("bench_name"), "left_outer")
      .select(col("bench_name"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"),
        col("n_bench_grams"))
  }

  /** [[ngramContamination]] with a Bloom-filter pre-prune — the 100 TB
    * form. The benchmark grams build ONE Bloom filter (Spark's own
    * BloomFilterAggregate, registered by GraftExtensions), whose bytes
    * ship to every corpus task as a literal; corpus grams that miss the
    * filter are dropped MAP-SIDE, inside whole-stage codegen, before
    * anything shuffles — at a 10^-2 false-positive rate that is ~99%
    * of an uncontaminated corpus never leaving its scan task. The
    * survivors then join the exact benchmark gram set, which removes
    * Bloom false positives, so the OUTPUT is bit-identical to
    * [[ngramContamination]] (oracle-checkable); the filter only ever
    * narrows where the join looks, never what it returns. The verify
    * join carries no broadcast hint: AQE picks BHJ for a small bench
    * and an honest shuffle join when the benchmark itself is huge
    * (where the broadcast of [[ngramContamination]] would OOM — the
    * case this variant exists for; the Bloom bytes stay
    * numBits/8 ≈ megabytes either way).
    *
    * The filter is SIZED FROM the actual benchmark gram count (one
    * count on the already-persisted gram frame): ~10 bits/item ≈ 1%
    * fpp. Fixed oversized defaults are a trap — every partition's
    * partial aggregate buffer is the FULL filter width, so a 32 MB
    * "safe" filter costs |partitions| × 32 MB of merge traffic to
    * index a few thousand grams (measured 12.9 s vs 1.4 s at sf0.1).
    * Pass `numBitsOverride` to pin the size when the count is known.
    */
  def ngramContaminationBloom(corpus: DataFrame, bench: DataFrame,
                              idCol: String, textCol: String,
                              n: Int = 5,
                              bitsPerItem: Double = 10.0,
                              numBitsOverride: Long = -1L): DataFrame = {
    // consumed thrice (sizing count + filter build + verify join)
    val benchGrams = graft.GraftSession.pin(bench
      .select(explode(wordShingles(col(textCol), n)).as("__g")).distinct())
    val corpusGrams = corpus
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("__g"))
    val items = benchGrams.count()
    if (items == 0L) { // empty benchmark → nothing can be contaminated
      benchGrams.unpersist(blocking = false) // no plan consumes it here
      return corpusGrams.filter(lit(false))
        .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
    }
    val numBits = if (numBitsOverride > 0) numBitsOverride
      else math.max(1L << 16, (items * bitsPerItem).toLong)
    val bf = benchGrams
      .agg(call_function("graft_bloom_agg", xxhash64(col("__g")),
        lit(items), lit(numBits)).as("__bf")).head().getAs[Array[Byte]](0)
    corpusGrams
      .filter(call_function("graft_might_contain", lit(bf), xxhash64(col("__g"))))
      .join(benchGrams, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  // ---- line-level boilerplate removal --------------------------------

  /** Corpus-wide line deduplication: drop every line that occurs in at
    * least `minDocs` DISTINCT documents (headers, footers, nav chrome,
    * cookie banners — the C4/RefinedWeb line-dedup screen), keeping
    * each survivor line in its original position.
    *
    * Scale shape: lines explode map-side; the global per-line document
    * frequency is one hash aggregation keyed by the line (partial
    * map-side combine does the heavy lifting — a boilerplate line
    * collapses to one row per upstream partition before the shuffle).
    * The count frame joins back on the line key — big-big on purpose
    * (both sides are corpus-lines-sized; this is the same honest
    * shuffle as exact dedup), then one groupBy(doc) rebuilds documents.
    * Output: (idCol, clean, n_kept, n_dropped).
    */
  def dropBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                           minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would drop every line")
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val freq = lines.select(col(idCol), col("__line")).distinct()
      .groupBy("__line").agg(count(lit(1)).as("__docs"))
    lines.join(freq, "__line")
      .groupBy(col(idCol))
      .agg(
        concat_ws("\n",
          transform(
            array_sort(collect_list(
              when(col("__docs") < minDocs, struct(col("__pos"), col("__line"))))),
            s => s.getField("__line"))).as("clean"),
        count(when(col("__docs") < minDocs, 1)).cast("int").as("n_kept"),
        count(when(col("__docs") >= minDocs, 1)).cast("int").as("n_dropped"))
  }

  /** Windowed exact-substring duplication stats — the scalable
    * approximation of suffix-array substring dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"):
    * slide a `windowLen`-char window at `stride` over every document,
    * hash each full window, and count corpus-wide occurrences; a
    * window seen >= `minOccurrences` times marks a duplicated span.
    * Unlike line-level boilerplate removal this catches repeats at ANY
    * alignment (licenses, templates, quoted passages). Per doc:
    * window count, duplicated-window count, duplicated fraction.
    *
    * Scale: the explode emits len/stride windows per doc (16-byte
    * hashes — bounded, tunable via stride); occurrence counting is one
    * hash agg with map-side partials; the join back is an equi-join on
    * the window hash. Never all-pairs.
    * Output: (idCol, n_windows, n_dup, dup_frac).
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   windowLen: Int = 16, stride: Int = 8,
                   minOccurrences: Int = 2): DataFrame = {
    require(windowLen >= 2 && stride >= 1 && minOccurrences >= 2,
      s"need windowLen >= 2, stride >= 1, minOccurrences >= 2")
    val starts = sequence(lit(1),
      greatest(length(col(textCol)) - lit(windowLen - 1), lit(1)), lit(stride))
    // spans feeds the occurrence agg AND the join-back, and the two
    // subtrees prune different columns, so ReuseExchange cannot dedupe
    // them (the tfidf/bm25 case) — pin it or the corpus is exploded+
    // hashed twice. The caller's scope owns it, as in Lof.scores.
    val spans = graft.GraftSession.pin(df
      .select(col(idCol), explode(starts).as("__start"), col(textCol))
      .select(col(idCol),
        md5(substring(col(textCol), col("__start").cast("int"), lit(windowLen))).as("__h"),
        (length(col(textCol)) - col("__start") + 1 >= windowLen).as("__full"))
      // partial tail windows don't count; docs shorter than windowLen
      // emit no rows at all
      .filter(col("__full"))
      .select(col(idCol), col("__h")))
    val occ = spans.groupBy(col("__h")).agg(count(lit(1)).as("__occ"))
    spans.join(occ, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__occ") >= minOccurrences, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_windows").cast("double"), 6))
  }

  /** Connected components over an undirected near-duplicate pair list
    * — the step that turns pairwise matches (from [[minhashLsh]],
    * [[simhashPairs]], [[ngramJaccardPairsAuto]], or
    * [[graft.operators.Relational.fuzzyPairs]]) into canonical dup
    * CLUSTERS. Min-label propagation: every node starts as its own
    * label; each round takes the min of its own and its neighbours'
    * labels; converges in diameter(G) rounds, which for near-dup
    * graphs is tiny (clusters are stars/short chains around a shared
    * template). Each round is two equi-join shuffles on the node key;
    * rounds persist their (node, label) frame — bounded at one row per
    * distinct node — and the loop stops early on a fixpoint, checked
    * with a cheap existence probe. For adversarial long-path graphs
    * raise `maxIters` (or use a doubling scheme); this is the same
    * contract as GraphX's iterative CC without the RDD detour.
    * Output: (node, component) where component = min node id reachable.
    */
  def componentLabels(edges: DataFrame, srcCol: String, dstCol: String,
                      maxIters: Int = 20): DataFrame = {
    require(maxIters >= 1, "need at least one iteration")
    // The label frame feeds TWO references per round (neighbour join +
    // fold-in join), so without lineage truncation the logical plan
    // doubles every iteration — eager localCheckpoint flattens each
    // round to a materialized LogicalRDD (the same device GraphFrames
    // uses for its iterative algorithms). Trade-off: localCheckpoint
    // blocks live in executor-local storage WITHOUT lineage, so losing
    // an executor mid-run fails the job (rerun it) — on preemptible
    // clusters switch to reliable `checkpoint` with a checkpoint dir.
    // Superseded rounds are released as soon as the convergence probe
    // has consumed them — peak checkpoint storage is 2 label frames,
    // not maxIters of them (only the final frame outlives the call,
    // owned like a pin: GraftSession.releaseAll).
    // the undirected edge frame is consumed once per ROUND (neighbour
    // join) plus the label init — unmaterialized, every consumption
    // re-ran the caller's pair derivation (diameter+1 evaluations of a
    // banding/levenshtein join). Materialize it ONCE (r21, the same
    // localCheckpoint device the label rounds already use; its blocks
    // back the loop only and are released before the call returns).
    val und = edges.select(col(srcCol).as("__u"), col(dstCol).as("__v"))
      .union(edges.select(col(dstCol).as("__u"), col(srcCol).as("__v")))
      .localCheckpoint()
    var labels = und.select(col("__u").as("node")).distinct()
      .withColumn("component", col("node")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbrMin = und
        .join(labels.select(col("node").as("__v"), col("component").as("__cv")), Seq("__v"))
        .groupBy(col("__u")).agg(min(col("__cv")).as("__nbmin"))
        .select(col("__u").as("node"), col("__nbmin"))
      val next = labels.join(nbrMin, Seq("node"))
        .select(col("node"), least(col("component"), col("__nbmin")).as("component"))
        .localCheckpoint()
      converged = next
        .join(labels.withColumnRenamed("component", "__prev"), Seq("node"))
        .filter(col("component") =!= col("__prev"))
        .isEmpty
      graft.GraftSession.releaseCheckpoint(labels)
      labels = next
      i += 1
    }
    // an unconverged labelling is WRONG (one component reported as
    // several) — fail loudly rather than hand back plausible garbage
    if (!converged)
      throw new IllegalStateException(
        s"componentLabels did not converge in $maxIters iterations — " +
          "the pair graph has a longer path than expected; raise maxIters")
    // the returned labels frame is its own checkpoint, owned like a
    // pin; the edge
    // materialization served only the loop — release it so exactly one
    // checkpoint outlives the call (the leak contract the specs pin)
    graft.GraftSession.releaseCheckpoint(und)
    graft.GraftSession.ownCheckpoint(labels)
  }

  /** Connected components by the alternating large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the O(log n)-round alternative to
    * [[componentLabels]]'s O(diameter) min-label propagation. Use it
    * when the pair graph can contain long chains (boilerplate
    * gradients, sliding near-dup runs) that would exceed a sane
    * propagation `maxIters`; for the star-shaped clusters typical of
    * template near-dups both converge in a handful of rounds and
    * propagation's cheaper rounds win.
    *
    * Small graphs skip the rounds. The canonical edge set is
    * materialized once and COUNTED; at or below [[DriverEdgeLimit]]
    * edges it is collected and labelled by one driver-side union-find
    * pass, and the labels come back as a local frame. A star round is
    * about a dozen Spark jobs whatever the edge count, so on a few
    * hundred near-dup pairs the rounds' scheduling, not their data,
    * set the cost. The decision is a measured row count, so every JVM
    * and host picks the same path for the same graph. Id types whose
    * values Spark does not compare by plain value equality (floating
    * point, binary, collated strings, complex types) always take the
    * rounds.
    *
    * Each round rewrites the edge set twice, keeping every edge
    * oriented (larger, smaller):
    *  - large-star: every strictly-larger neighbor of u re-points to
    *    min(N(u) ∪ u) — two shuffles on node id;
    *  - small-star: every smaller neighbor of u (and u itself)
    *    re-points to its minimum — one shuffle.
    * The edge set only ever shrinks toward one star per component, so
    * per-round cost is bounded by the input edge count. Convergence is
    * detected by an O(1)-width hash fingerprint (count + hash sum) and
    * CONFIRMED by an exact anti-join before the loop exits — a
    * fingerprint collision can cost one extra round, never a wrong
    * labelling. Rounds localCheckpoint like componentLabels (same
    * lineage-doubling reason, same eager release of superseded
    * frames). `maxIters` bounds only the rounds: the driver pass has
    * no iteration count and never fails to converge.
    *
    * Output: (node, component), component = min reachable id under
    * Spark's ordering of the id type — identical to componentLabels on
    * any input, and identical on both paths. A pair whose ids are both
    * null yields one (null, null) row; a pair with one null id is a
    * self-loop of the other id.
    *
    * Storage left behind: the rounds return their (node, component)
    * checkpoint, the one checkpoint that outlives the call, owned like a
    * pin (GraftSession.releaseAll). The driver path
    * returns a local frame and leaves no persistent RDD at all.
    */
  def componentLabelsStar(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 25): DataFrame = {
    require(maxIters >= 1, "need at least one iteration")
    val canon0 = canonicalEdges(edges, srcCol, dstCol)
    if (driverPassSupports(canon0.schema("__u").dataType) &&
        canon0.count() <= DriverEdgeLimit) {
      val out = starLabelsOnDriver(canon0)
      graft.GraftSession.releaseCheckpoint(canon0)
      out
    } else starRounds(canon0, maxIters)
  }

  /** Canonical edge count at or below which [[componentLabelsStar]]
    * labels components in one driver union-find pass instead of star
    * rounds. Measured in one sitting on a 4-core, 16 GB host (local[4],
    * 3 GB heap, 4 shuffle partitions): random graphs with as many Long
    * ids as edges, each path including the edge checkpoint and one
    * collapse-style read of its labels; median of 3 runs. Heap is the
    * JVM-wide peak above the post-GC baseline, garbage included, so in
    * local mode it also counts the executor side of the work.
    *
    * | edges | driver pass | star rounds | heap, driver | heap, rounds |
    * |------:|------------:|------------:|-------------:|-------------:|
    * |  10^3 |      0.52 s |      3.98 s |       203 MB |       561 MB |
    * |  10^4 |      0.65 s |      4.64 s |       165 MB |       672 MB |
    * |  10^5 |      1.70 s |      9.48 s |       334 MB |      1133 MB |
    * |  10^6 |      9.53 s |     37.81 s |      1198 MB |      1925 MB |
    *
    * The driver pass wins at every size on one host, so heap sets the
    * limit, not speed: 2^17 keeps the pass within a few hundred MB of
    * driver heap, while at 10^6 edges it needs over 1 GB, more than a
    * default driver has, and on a cluster the rounds spread over the
    * executors where the driver pass cannot. A fixed constant, not an
    * option: a host-derived or configurable threshold would let two
    * JVMs run different plans for one graph.
    */
  private val DriverEdgeLimit: Long = 1L << 17

  /** [[componentLabelsStar]] forced onto its distributed star rounds,
    * whatever the edge count — the loop the driver pass must equal. */
  private[graft] def componentLabelsStarRounds(edges: DataFrame, srcCol: String,
                                               dstCol: String,
                                               maxIters: Int = 25): DataFrame = {
    require(maxIters >= 1, "need at least one iteration")
    starRounds(canonicalEdges(edges, srcCol, dstCol), maxIters)
  }

  // ONE evaluation of the caller's edge derivation (r21): the edge
  // input used to be consumed twice — canonical orientation + the
  // final all-nodes union — and each evaluation re-ran the caller's
  // pair derivation (for the collapse family: the banded levenshtein
  // join, twice per query). A stats-gated persistIfSmall can never
  // engage here (join-output size estimates exceed any sane budget),
  // so materialize the canonicalized id-pair projection ONCE as a
  // localCheckpoint — the same edge-sized frame class the round loop
  // already checkpoints every iteration, so no new scale hazard —
  // KEEPING self-loops so the final node set derives from the
  // checkpoint too ({greatest,least} of each pair is exactly
  // {src,dst}, so the node set is unchanged). The loop seed filters
  // self-loops out lazily. Both paths release this checkpoint before
  // they return.
  private def canonicalEdges(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame =
    edges
      .select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .select(greatest(col("__a"), col("__b")).as("__u"),
        least(col("__a"), col("__b")).as("__v"))
      .distinct()
      .localCheckpoint()

  // id types whose catalyst values compare and hash by value exactly
  // as Spark's grouping and join keys do. Floating point is out
  // (grouping normalizes -0.0 and NaN), and so are binary (no value
  // equality on arrays), collated strings and nested types.
  private def driverPassSupports(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | _: DecimalType => true
      case s: StringType => s == StringType
      case _ => false
    }
  }

  // One union-find pass over the collected canonical edges. Ids are
  // keyed by their catalyst value (UTF8String for strings) and each
  // root is the minimum of its set under Spark's own ordering of the
  // type, so strings compare as UTF-8 bytes, as greatest/least and the
  // rounds' min aggregates compare them, not by String.compareTo.
  private def starLabelsOnDriver(canon0: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.types.PhysicalDataType
    import org.apache.spark.sql.types.{StructField, StructType}
    val dt = canon0.schema("__u").dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val ord = PhysicalDataType.ordering(dt)
    val index = new java.util.HashMap[Any, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any] // external values
    val keys = scala.collection.mutable.ArrayBuffer.empty[Any] // catalyst values
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def node(v: Any): Int = {
      val k = toCatalyst(v)
      val i = index.get(k)
      if (i != null) i.intValue else {
        val n = ids.length
        index.put(k, n); ids += v; keys += k; parent += n
        n
      }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    // greatest/least skip nulls: __u is null only when both ids were,
    // and then __v is null too
    var nullNode = false
    canon0.collect().foreach { r =>
      if (r.isNullAt(0)) nullNode = true
      else {
        val a = find(node(r.get(0)))
        val b = find(node(r.get(1)))
        if (a != b) {
          if (ord.lt(keys(a), keys(b))) parent(b) = a else parent(a) = b
        }
      }
    }
    val rows = new java.util.ArrayList[Row](ids.length + 1)
    ids.indices.foreach(i => rows.add(Row(ids(i), ids(find(i)))))
    if (nullNode) rows.add(Row(null, null))
    // the rounds' output nullability: node and component are nullable
    // exactly when the canonical ids are
    val nullable = canon0.schema.fields.exists(_.nullable)
    canon0.sparkSession.createDataFrame(rows, StructType(Seq(
      StructField("node", dt, nullable), StructField("component", dt, nullable))))
  }

  private def starRounds(canon0: DataFrame, maxIters: Int): DataFrame = {
    // orient (larger, smaller), drop self-loops; self-loop-only nodes
    // re-enter via the final all-nodes join
    val canon = canon0.filter(col("__u") =!= col("__v"))
    def largeStar(cur: DataFrame): DataFrame = {
      val und = cur.union(cur.select(col("__v").as("__u"), col("__u").as("__v")))
      val m = und.groupBy(col("__u")).agg(min(col("__v")).as("__mn"))
        .select(col("__u"), least(col("__mn"), col("__u")).as("__m"))
      // (v, m) for v > u: m <= u < v, so orientation and no-self-loop hold
      und.filter(col("__v") > col("__u"))
        .join(m, Seq("__u"))
        .select(col("__v").as("__u"), col("__m").as("__v"))
        .distinct()
    }
    def smallStar(cur: DataFrame): DataFrame = {
      val m = cur.groupBy(col("__u")).agg(min(col("__v")).as("__m"))
      val repointed = cur.join(m, Seq("__u"))
        .select(col("__v").as("__u"), col("__m").as("__v"))
        .filter(col("__u") =!= col("__v"))
      repointed.union(m.select(col("__u"), col("__m").as("__v"))).distinct()
    }
    def fingerprint(d: DataFrame): (Long, String) = {
      // hash sum in decimal: a long sum of xxhash64 values overflows
      // (ANSI error) already at a handful of edges
      val r = d.agg(count(lit(1)),
        sum(xxhash64(col("__u"), col("__v"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      (r.getLong(0),
        Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
    }
    // cur starts as a lazy self-loop filter over canon0's checkpoint —
    // no second materialization; round 1's releaseCheckpoint(cur) is then
    // a safe no-op (not a LogicalRDD) and canon0 survives for the final
    // node union below
    var cur: DataFrame = canon
    var sig = fingerprint(cur)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val ls = largeStar(cur).localCheckpoint()
      val next = smallStar(ls).localCheckpoint()
      graft.GraftSession.releaseCheckpoint(ls)
      val nextSig = fingerprint(next)
      if (nextSig == sig) {
        // exact confirmation — a 2^-64 fingerprint collision must cost
        // a round, not a wrong labelling
        converged = next.join(cur, Seq("__u", "__v"), "left_anti").isEmpty
      }
      sig = nextSig
      graft.GraftSession.releaseCheckpoint(cur)
      cur = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"componentLabelsStar did not converge in $maxIters rounds — " +
          "pathological input; raise maxIters")
    // at fixpoint the edge set is one star per component: (child, root).
    // Defensive min-agg keeps the labelling a function even if an input
    // quirk ever left a duplicate edge; roots and singleton nodes label
    // themselves.
    val starMap = cur.groupBy(col("__u").as("node"))
      .agg(min(col("__v")).as("__comp"))
    val nodes = canon0.select(col("__u").as("node"))
      .union(canon0.select(col("__v").as("node"))).distinct()
    // materialize the (node, component) result — node-sized, the same
    // class as the fixpoint frame — so BOTH edge-sized checkpoints
    // (canon0 and the final round) release here. On this path exactly
    // one checkpoint, the returned one (owned like a pin), outlives the
    // call; the driver path leaves none (the leak contracts the specs
    // pin). Callers consume the result at least once, so the eager
    // pass is moved work, not added work
    val out = nodes.join(starMap, Seq("node"), "left")
      .select(col("node"), coalesce(col("__comp"), col("node")).as("component"))
      .localCheckpoint()
    graft.GraftSession.releaseCheckpoint(canon0)
    graft.GraftSession.releaseCheckpoint(cur)
    graft.GraftSession.ownCheckpoint(out)
  }

  /** Collapse near-duplicate clusters to one canonical row each: given
    * the pair list, keep exactly the rows whose id is its component's
    * minimum (unpaired rows are their own singleton component and
    * always survive). One components run + one broadcast-or-shuffled
    * left join against the (distinct-node-sized) label frame.
    *
    * Components come from [[componentLabelsStar]]: one driver
    * union-find pass on a small pair graph, otherwise O(log n) star
    * rounds with no diameter bound, so an adversarial chain-shaped pair
    * graph (boilerplate gradients, sliding near-dup runs) cannot blow
    * the iteration budget. `maxIters` bounds only those rounds. What
    * outlives the call is componentLabelsStar's: the label checkpoint
    * when the rounds ran, nothing when the driver pass did.
    */
  def collapseNearDups(df: DataFrame, idCol: String, pairs: DataFrame,
                       idACol: String = "id_a", idBCol: String = "id_b",
                       maxIters: Int = 25): DataFrame = {
    val comp = componentLabelsStar(pairs, idACol, idBCol, maxIters)
      .withColumnRenamed("node", idCol)
    df.join(comp, Seq(idCol), "left")
      .filter(col("component").isNull || col("component") === col(idCol))
      .drop("component")
  }

  /** [[collapseNearDups]] keeping the BEST row of each near-dup
    * cluster instead of the smallest id — the production training-data
    * policy (duplicates differ in OCR noise/truncation; keep the copy
    * with the highest quality score, e.g.
    * [[graft.llm.Text.qualityScore]]). Canonical per component =
    * max(priority), ties broken by the LARGEST id (struct ordering —
    * one total, deterministic criterion in a single hash agg). Rows
    * in no cluster survive unchanged. Scale shape: the component
    * frame is edge-sized; selection is one grouped struct-max on it —
    * the corpus never shuffles. Components, `maxIters` and what
    * outlives the call are as in [[collapseNearDups]].
    */
  def collapseNearDupsBy(df: DataFrame, idCol: String, priorityCol: String,
                         pairs: DataFrame,
                         idACol: String = "id_a", idBCol: String = "id_b",
                         maxIters: Int = 25): DataFrame = {
    val comp = componentLabelsStar(pairs, idACol, idBCol, maxIters)
      .withColumnRenamed("node", idCol)
    val tagged = df.join(comp, Seq(idCol), "left")
    // per-component winner via one struct-max: priority first, id as
    // the deterministic tie-break (struct comparison is field-ordered)
    val clustered = tagged.filter(col("component").isNotNull)
    val winners = clustered
      .groupBy(col("component"))
      .agg(max(struct(col(priorityCol).as("p"), col(idCol).as("i"))).as("__best"))
      .select(col("component"), col("__best.i").as("__winner"))
    // no broadcast hint: winners is one row per CLUSTER — unbounded
    // on a web-scale corpus. Both join sides are component-keyed and
    // edge-frame-sized; AQE picks broadcast when it actually fits
    val keptClustered = clustered
      .join(winners, Seq("component"))
      .filter(col(idCol) === col("__winner"))
      .drop("component", "__winner")
    tagged.filter(col("component").isNull).drop("component")
      .unionByName(keptClustered)
  }
}
