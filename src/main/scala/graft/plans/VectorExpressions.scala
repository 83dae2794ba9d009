package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding hot path. Spark's
  * higher-order functions (`zip_with`/`aggregate`) run INTERPRETED —
  * each element evaluation walks a lambda expression tree — which
  * dominates cost when a dot product runs per candidate pair.
  * [[DotProductF]] generates a tight primitive loop inside whole-stage
  * codegen instead.
  *
  * Semantics mirror the HOF formulation exactly (see
  * [[graft.llm.Similarity.dot]]): elements widened to double,
  * accumulated left-to-right, null if either side is null, lengths
  * differ (zip_with pads with null, which nulls the HOF sum), or any
  * ELEMENT is null (the null product poisons the HOF sum the same
  * way) — so the two implementations are interchangeable under the
  * DuckDB oracle. The element null-check is emitted only when a
  * side's schema has `containsNull = true`.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_product needs two array<float> args, got " +
            s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** Whether either side's schema admits null ELEMENTS. A null element
    * nulls the whole product (zip_with's null product poisons the HOF
    * sum), so the loop must check null bits — but only when the schema
    * says nulls can occur; `containsNull = false` arrays keep the
    * branch-free loop.
    */
  private def elementsNullable: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, ln), ArrayType(_, rn)) => ln || rn
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val checked = elementsNullable
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (checked && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** Count of common elements between two SORTED long arrays (a
  * merge-walk — no per-call hash set, unlike `array_intersect`, whose
  * per-pair setup cost dominates set-similarity joins). Inputs must be
  * sorted ascending and distinct (use `array_sort(array_distinct(...))`
  * upstream); null if either side is null.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count needs two array<bigint> args, got " +
            s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |int $n = $a.numElements(); int $m = $b.numElements();
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sorted_intersect_count"
}

/** Native random-hyperplane bucket id — the codegen'd form of
  * [[graft.llm.Similarity.hyperplaneBucketSlice]]'s HOF projection,
  * which evaluated an interpreted zip_with/aggregate lambda chain PLUS
  * a per-element two-arg xxhash64 for every (row × plane × dimension).
  * Bit-for-bit parity contract (spec-enforced):
  *  - plane/dim sign = ±1 from Spark's two-arg xxhash64(plane, dim)
  *    (seed 42, int args hashed in sequence — replicated via chained
  *    XXH64.hashInt), pmod 2;
  *  - projection folds x_d·sign_d left-to-right in double (elements
  *    widened like `cast("double")`); a null element poisons the
  *    plane's projection (HOF aggregate semantics) → bit 0;
  *  - bit p set when projection > 0; null/empty vectors → bucket 0
  *    (every HOF bit's `otherwise(0)`).
  */
case class HyperplaneBitsF(child: Expression, planes: Int, offset: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) if planes >= 1 && offset >= 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs planes >= 1 and offset >= 0, got $planes/$offset")
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs an array<float> argument, got ${other.simpleString}")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else VectorExpressions.hyperplaneBits(
      v.asInstanceOf[ArrayData], planes, offset)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val resultCode =
      s"""
         |${childGen.code}
         |long ${ev.value} = ${childGen.isNull}
         |  ? 0L
         |  : graft.plans.VectorExpressions.hyperplaneBits(
         |      ${childGen.value}, $planes, $offset);
       """.stripMargin
    ev.copy(
      code = org.apache.spark.sql.catalyst.expressions.codegen.Block
        .BlockHelper(new StringContext(resultCode)).code(),
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBitsF =
    copy(child = newChild)

  override def prettyName: String = "graft_hyperplane_bits"
}

/** Native nearest-centroid argmax — the codegen'd form of the IVF
  * assignment's broadcast-array UDF ([[graft.llm.Ivf]] pre-r16), the
  * last interpreted per-row loop on the index-build hot path (nlist×dim
  * boxed work per corpus row in every Lloyd iteration AND the final
  * full-corpus assignment). The centroid matrix is a constructor
  * parameter (plan-embedded; task binaries are torrent-broadcast once
  * per stage, so this ships like the old explicit broadcast did), and
  * per-centroid norms are folded ONCE at construction instead of per
  * row.
  *
  * Parity contract (spec-pinned against the broadcast-join + max_by
  * formulation [[graft.llm.Ivf.assignToCentroids]] routes to for
  * non-integral ids):
  *  - cosine = dot/(|v|·|c|) in left-to-right double accumulation,
  *    rounded to 6 dp like Spark's `round` (BigDecimal HALF_UP);
  *  - centroids scan in ENTRY order (callers pass cids sorted
  *    ascending); strict improvement + Double.compare means ties and
  *    NaN rank exactly like the `max_by(struct(sim, -cid))` form
  *    (NaN greatest, ties to the lowest cid);
  *  - a null centroid vector, length mismatch, or zero denominator
  *    skips that cell (its join-form similarity is null, which loses
  *    to any scored cell);
  *  - a null vector or a null vector ELEMENT scores nothing — all
  *    join-form similarities null ([[DotProductF]] nulls on interior
  *    nulls) — and lands in the first (lowest-cid) cell, exactly
  *    where the join form's `max_by` tie-break puts an all-null row.
  */
case class ArgmaxCellF(child: Expression, cids: Array[Long],
                       cents: Array[Array[Float]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(cids.nonEmpty && cids.length == cents.length,
    s"graft_argmax_cell needs a non-empty centroid set with one id per " +
      s"vector, got ${cids.length} ids / ${cents.length} vectors")

  /** |c| per centroid, folded once (same double as the per-row
    * sqrt(dot(c, c)) the UDF recomputed). NaN marks a null centroid —
    * never read, the null check precedes the norm lookup.
    */
  @transient private lazy val cnorms: Array[Double] =
    cents.map { c =>
      if (c == null) Double.NaN
      else {
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i).toDouble * c(i).toDouble; i += 1 }
        math.sqrt(s)
      }
    }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs an array<float> argument, got ${other.simpleString}")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) cids(0)
    else VectorExpressions.argmaxCell(
      v.asInstanceOf[ArrayData], cids, cents, cnorms)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("argmaxCids", cids, "long[]")
    val centsRef = ctx.addReferenceObj("argmaxCents", cents, "float[][]")
    val normsRef = ctx.addReferenceObj("argmaxNorms", cnorms, "double[]")
    val childGen = child.genCode(ctx)
    val resultCode =
      s"""
         |${childGen.code}
         |long ${ev.value} = ${childGen.isNull}
         |  ? $cidsRef[0]
         |  : graft.plans.VectorExpressions.argmaxCell(
         |      ${childGen.value}, $cidsRef, $centsRef, $normsRef);
       """.stripMargin
    ev.copy(
      code = org.apache.spark.sql.catalyst.expressions.codegen.Block
        .BlockHelper(new StringContext(resultCode)).code(),
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ArgmaxCellF =
    copy(child = newChild)

  override def prettyName: String = "graft_argmax_cell"
}

object VectorExpressions {
  /** Column-level handle on the native expression, resolved through
    * the function registry (public API; the session must carry
    * [[GraftExtensions]], which [[graft.GraftSession]] configures).
    */
  def dotProduct(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)

  def hyperplaneBits(vec: Column, planes: Int, offset: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_hyperplane_bits",
      vec, org.apache.spark.sql.functions.lit(planes),
      org.apache.spark.sql.functions.lit(offset))

  private val Xxhash64DefaultSeed = 42L

  /** Runtime kernel for [[HyperplaneBitsF]] — see its parity contract. */
  def hyperplaneBits(vec: ArrayData, planes: Int, offset: Int): Long = {
    val n = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      // two-arg xxhash64(plane, dim): int args hash in sequence from
      // the default seed — the first link is dim-invariant, hoist it
      val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashInt(p + offset, Xxhash64DefaultSeed)
      var acc = 0.0
      var poisoned = false
      var d = 0
      while (d < n && !poisoned) {
        if (vec.isNullAt(d)) poisoned = true
        else {
          val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(d, h1)
          // pmod(h, 2) == 0 → +1 else -1 (pmod of a negative hash is
          // ((h % 2) + 2) % 2, so only evenness matters)
          val sign = if ((h & 1L) == 0L) 1.0 else -1.0
          acc += vec.getFloat(d).toDouble * sign
        }
        d += 1
      }
      if (!poisoned && acc > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_sorted_intersect_count", a, b)

  /** Column-level handle on [[ArgmaxCellF]]. `cids` must be sorted
    * ascending (the tie-break order) with one entry per centroid
    * vector; a null vector in `cents` is carried but never scored.
    * The centroid set rides the call as array literals and becomes a
    * plan-embedded constant of the expression.
    */
  def argmaxCell(vec: Column, cids: Array[Long],
                 cents: Array[Array[Float]]): Column = {
    import org.apache.spark.sql.functions.typedLit
    org.apache.spark.sql.functions.call_function("graft_argmax_cell",
      vec, typedLit(cids.toSeq),
      typedLit(cents.map(c => if (c == null) null else c.toSeq).toSeq))
  }

  /** Runtime kernel for [[ArgmaxCellF]] — see its parity contract.
    * `cnorms(i)` must hold sqrt(Σ cents(i)(d)²) (NaN for null
    * centroids, which are skipped before the lookup).
    */
  def argmaxCell(vec: ArrayData, cids: Array[Long],
                 cents: Array[Array[Float]], cnorms: Array[Double]): Long = {
    val n = vec.numElements()
    var d = 0
    while (d < n) {
      // a null element nulls every join-form similarity → lowest cid
      if (vec.isNullAt(d)) return cids(0)
      d += 1
    }
    var nv = 0.0
    d = 0
    while (d < n) {
      val x = vec.getFloat(d).toDouble; nv += x * x; d += 1
    }
    nv = math.sqrt(nv)
    var best = -1
    var bestSim = 0.0
    var i = 0
    while (i < cents.length) {
      val cv = cents(i)
      if (cv != null && cv.length == n) {
        val denom = nv * cnorms(i)
        if (denom != 0.0) {
          var acc = 0.0
          var j = 0
          while (j < n) { acc += vec.getFloat(j).toDouble * cv(j).toDouble; j += 1 }
          val sim = round6(acc / denom)
          if (best < 0 || java.lang.Double.compare(sim, bestSim) > 0) {
            best = i; bestSim = sim
          }
        }
      }
      i += 1
    }
    if (best < 0) cids(0) else cids(best)
  }

  /** Mirrors Spark's `round(x, 6)` on doubles (RoundBase: BigDecimal
    * HALF_UP via the toString-exact constructor; NaN/Inf pass through)
    * so the kernel ranks EXACTLY the similarities the join-form
    * expression would.
    *
    * Pure double arithmetic on the common path (r17): the BigDecimal
    * form allocated one BigDecimal + MathContext chain per
    * (row × centroid) — the dominant allocation on the engine's
    * hottest kernel, O(n·nlist) short-lived objects per assignment
    * pass. HALF_UP is sign-magnitude (halves round AWAY from zero),
    * so the fast path decides on |x|·10^6's fractional part and
    * falls back to the decimal-exact form only where double
    * arithmetic could disagree with the decimal digits:
    *  - within max(1e-9, 4·ulp(f)) of the .5 boundary, where
    *    f = |x|·10^6: the one multiply's rounding error is
    *    ≤ ulp(f)/2, so a band proportional to ulp(f) covers it with
    *    8× margin at EVERY magnitude (a fixed 1e-9 band is only valid
    *    for |x| ≲ 1 — at |x| ≈ 1.7e4 the multiply error alone is
    *    ~2e-6 and fast/exact genuinely diverge at decimal
    *    half-boundaries; Round6ParitySpec pins that case). The 1e-9
    *    floor keeps the tiny-f behavior of the original band;
    *  - at |x|·10^6 ≥ 2^52, where doubles no longer carry a
    *    fractional digit to decide with.
    * Everywhere else the two forms are bit-identical: the re-parsed
    * shortest decimal of x differs from x·10^6/10^6 by under the
    * boundary band, and the final r/10^6 division is the same
    * correctly-rounded double BigDecimal.toDouble produces
    * (Round6ParitySpec pins fast == exact across boundary lattices
    * and random sweeps, including the -0.0 normalization).
    */
  private[graft] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else {
      val a = math.abs(x)
      val f = a * 1e6
      if (f >= 4503599627370496.0) round6Exact(x) // 2^52
      else {
        val fl = math.floor(f)
        val frac = f - fl
        if (math.abs(frac - 0.5) < math.max(1e-9, 4.0 * math.ulp(f)))
          round6Exact(x)
        else {
          val r = if (frac > 0.5) fl + 1.0 else fl
          // BigDecimal has no signed zero: a negative value rounding
          // to magnitude 0 yields +0.0 there, so normalize here too
          // (Double.compare orders -0.0 < 0.0 — argmax would differ)
          if (r == 0.0) 0.0 else if (x < 0) -(r / 1e6) else r / 1e6
        }
      }
    }

  /** The decimal-exact reference (and ambiguous-band fallback). */
  private[graft] def round6Exact(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** SparkSessionExtensions hook: registers `graft_dot(a, b)` as a SQL
  * function. Enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * (done by [[graft.GraftSession]]).
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductF].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProductF(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "graft_sorted_intersect_count"),
      (children: Seq[Expression]) => SortedIntersectCount(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_media_features"),
      new ExpressionInfo(classOf[MediaFeaturesF].getName, "graft_media_features"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_media_features(bytes, dim) takes 2 args, got ${children.length}")
        // dim is part of the output SCHEMA (array width), so it must be
        // a compile-time literal, not a runtime column
        val dim = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(i: Int,
              org.apache.spark.sql.types.IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"graft_media_features(bytes, dim): dim must be an int literal, got $other")
        }
        MediaFeaturesF(children(0), dim)
      }))
    def intLit(children: Seq[Expression], fn: String): Int = {
      require(children.length == 2,
        s"$fn(arg, n) takes 2 args, got ${children.length}")
      children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(i: Int,
            org.apache.spark.sql.types.IntegerType) => i
        case other => throw new IllegalArgumentException(
          s"$fn(arg, n): n must be an int literal, got $other")
      }
    }
    ext.injectFunction((
      new FunctionIdentifier("graft_word_shingles"),
      new ExpressionInfo(classOf[WordShinglesF].getName, "graft_word_shingles"),
      (children: Seq[Expression]) =>
        WordShinglesF(children(0), intLit(children, "graft_word_shingles"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_word_shingle_hashes"),
      new ExpressionInfo(classOf[WordShingleHashesF].getName,
        "graft_word_shingle_hashes"),
      (children: Seq[Expression]) =>
        WordShingleHashesF(children(0), intLit(children, "graft_word_shingle_hashes"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_array_ngrams"),
      new ExpressionInfo(classOf[ArrayNgramsF].getName, "graft_array_ngrams"),
      (children: Seq[Expression]) =>
        ArrayNgramsF(children(0), intLit(children, "graft_array_ngrams"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_hyperplane_bits"),
      new ExpressionInfo(classOf[HyperplaneBitsF].getName, "graft_hyperplane_bits"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_hyperplane_bits(vec, planes, offset) takes 3 args, got ${children.length}")
        HyperplaneBitsF(children(0),
          intLit(Seq(children(0), children(1)), "graft_hyperplane_bits"),
          intLit(Seq(children(0), children(2)), "graft_hyperplane_bits"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_argmax_cell"),
      new ExpressionInfo(classOf[ArgmaxCellF].getName, "graft_argmax_cell"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_argmax_cell(vec, cids, cents) takes 3 args, got ${children.length}")
        // the centroid set is part of the generated code's constant
        // pool (one reference object per stage), so both arrays must
        // be CONSTANT (a Literal from the Column API's typedLit, or a
        // foldable array(...) construction from SQL), not runtime
        // columns
        def constArray(e: Expression, what: String): ArrayData = {
          require(e.foldable,
            s"graft_argmax_cell: $what must be a constant array, got $e")
          val v = e.eval()
          require(v != null, s"graft_argmax_cell: $what must not be null")
          v.asInstanceOf[ArrayData]
        }
        val cids = children(1).dataType match {
          case ArrayType(org.apache.spark.sql.types.LongType, _) =>
            constArray(children(1), "cids").toLongArray()
          case other => throw new IllegalArgumentException(
            s"graft_argmax_cell: cids must be array<bigint>, got ${other.simpleString}")
        }
        val cents = children(2).dataType match {
          case ArrayType(ArrayType(FloatType, _), _) =>
            val a = constArray(children(2), "cents")
            Array.tabulate(a.numElements()) { i =>
              if (a.isNullAt(i)) null
              else {
                val inner = a.getArray(i)
                Array.tabulate(inner.numElements()) { j =>
                  require(!inner.isNullAt(j),
                    "graft_argmax_cell: a centroid element is null — pass a " +
                      "null centroid VECTOR for an unscorable cell instead")
                  inner.getFloat(j)
                }
              }
            }
          case other => throw new IllegalArgumentException(
            s"graft_argmax_cell: cents must be array<array<float>>, got ${other.simpleString}")
        }
        ArgmaxCellF(children(0), cids, cents)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSigF].getName, "graft_minhash"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_minhash(text, n, numHashes) takes 3 args, got ${children.length}")
        MinHashSigF(children(0),
          intLit(children.take(2), "graft_minhash"),
          intLit(Seq(children(0), children(2)), "graft_minhash"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashF].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_simhash(text) takes 1 arg, got ${children.length}")
        SimHashF(children(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_doc_stats"),
      new ExpressionInfo(classOf[DocStatF].getName, "graft_doc_stats"),
      (children: Seq[Expression]) => DocStats.build(children)))
    // Spark ships Bloom filter build/probe expressions for its own
    // runtime join filtering but does not register them as SQL
    // functions; exposing them gives the 100 TB membership-prune
    // primitive (build once over the small side, probe map-side on the
    // big side) without reimplementing the sketch.
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_bloom_agg(xxhash64_col, est_items, num_bits) takes 3 args, got ${children.length}")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_vec_moments"),
      new ExpressionInfo(classOf[VecMomentsAgg].getName, "graft_vec_moments"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_vec_moments(vec) takes 1 arg, got ${children.length}")
        VecMomentsAgg(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_might_contain(bloom, xxhash64_col) takes 2 args, got ${children.length}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }))
  }
}
