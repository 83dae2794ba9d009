package graft.quality

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.JsonCfg
import graft.functions.Det

/** Anomaly detection: Spark-native re-expression of the reference's
  * `AnomalyManager` (reference: src/quality/anomaly_manager.py:110-345).
  *
  * Scale design: global statistics (mean/std/quartiles) are computed in
  * ONE aggregation and joined back via a broadcast cross-join — the
  * fact table is never shuffled to meet a one-row stats frame. Moving
  * averages run as partitioned window functions (shuffle scales with
  * series keys, not rows). All moments use the order-independent
  * decimal-exact [[graft.functions.Det]] forms so results reproduce
  * across engines and partition counts.
  */
object Anomaly {

  /** Config front-end — ref dq_engine.py:146-159 detect_anomalies
    * dispatches on a config dict `{"method": "zscore" | "iqr" |
    * "isolation_forest", ...}`; this parses the same shape and routes
    * to the corresponding operator, so a stored config document drives
    * anomaly detection exactly like [[DQ.rulesFromJson]] drives rules.
    * zscore: {method, column, threshold=3}; iqr: {method, column,
    * multiplier=1.5}; isolation_forest: {method, columns,
    * threshold=0.6} (the reference's sklearn `contamination` fraction
    * is deliberately replaced by the paper's deterministic score
    * cutoff — see [[IsolationForest.detect]]).
    */
  def fromJson(df: DataFrame, json: String): DataFrame =
    parseNode(JsonCfg.read(json, "anomaly config"))(df)

  /** Validate a config (method, its column(s), numeric knobs; an absent
    * knob takes its default) and return the detector it names, without
    * touching data.
    */
  private[graft] def parseNode(c: JsonNode): DataFrame => DataFrame = {
    val ctx = "anomaly config"
    def knob(f: String, dflt: Double): Double = JsonCfg.num.opt(c, f, ctx).getOrElse(dflt)
    // Locale.ROOT: dispatch on user config must not vary with JVM locale
    JsonCfg.str(c, "method", ctx).toLowerCase(java.util.Locale.ROOT) match {
      case "zscore" =>
        val (column, threshold) = (JsonCfg.str(c, "column", ctx), knob("threshold", 3.0))
        zscore(_, column, threshold)
      case "iqr" =>
        val (column, multiplier) = (JsonCfg.str(c, "column", ctx), knob("multiplier", 1.5))
        iqr(_, column, multiplier)
      case "isolation_forest" =>
        val (columns, threshold) =
          (JsonCfg.identifiers(c, "columns", ctx), knob("threshold", 0.6))
        IsolationForest.detect(_, columns, threshold = threshold)
      case other =>
        throw new IllegalArgumentException(s"unknown anomaly method '$other'")
    }
  }

  /** Z-score outliers — ref anomaly_manager.py:110-123.
    * Appends `z` and keeps rows with z > threshold.
    */
  def zscore(df: DataFrame, column: String, threshold: Double = 3.0,
             scale: Int = 6): DataFrame = {
    val stats = df.agg(
      Det.meanAt(col(column), scale).as("__mean"),
      Det.stddevAt(col(column), scale).as("__std"))
    df.crossJoin(broadcast(stats))
      .withColumn("z", when(col("__std") =!= 0.0,
        abs(col(column) - col("__mean")) / col("__std")))
      .filter(col("z") > threshold)
      .drop("__mean", "__std")
  }

  /** IQR outliers — ref anomaly_manager.py:125-144. Exact interpolated
    * quartiles via `Quantiles.exactQuantiles` — both probes share three
    * bounded scans (sketch bracket → rank count → sliver sort), so the
    * plan has no buffer-every-value single reducer and the SAME exact
    * values hold at any scale. Resolved eagerly; the returned frame is
    * a map-side filter against literal bounds. `conf` is the
    * reference's distance-from-center confidence:
    * |x - (Q1+Q3)/2| / (IQR/2).
    */
  def iqr(df: DataFrame, column: String, multiplier: Double = 1.5): DataFrame = {
    val qs = graft.functions.Quantiles
      .exactQuantiles(df, Seq(column -> 0.25, column -> 0.75)).map(_._2)
    (qs.head, qs.last) match {
      case (Some(q1), Some(q3)) =>
        val iqrV = q3 - q1
        df.filter(col(column) < lit(q1 - multiplier * iqrV) ||
                  col(column) > lit(q3 + multiplier * iqrV))
          .withColumn("conf", if (iqrV != 0.0)
            abs(col(column) - lit((q1 + q3) / 2.0)) / lit(iqrV / 2.0)
          else lit(null).cast("double"))
      case _ => // empty / all-null input: nothing to flag
        df.withColumn("conf", lit(null).cast("double")).filter(lit(false))
    }
  }

  /** Robust (MAD) z-score outliers: deviations measured against the
    * median in units of the median absolute deviation, scaled by the
    * standard 0.6745 consistency constant — immune to the masking that
    * lets extreme outliers inflate a plain z-score's stddev. When a
    * group's MAD is 0 (more than half its values identical) the scale
    * falls back to the MEAN absolute deviation — the standard screen
    * fallback; without it such a group could hide arbitrary outliers —
    * and a fully constant group (both scales 0) flags nothing. Two
    * exact aggregation passes by construction (the deviation median
    * needs the median first); each stats frame is group-count-sized
    * and broadcast back, the fact table never shuffles. The fallback
    * mean uses decimal-exact sums, so results stay order-independent.
    * Output: input columns + robust_z; rows with |z| > threshold.
    */
  def madZscore(df: DataFrame, column: String, groupCols: Seq[String],
                threshold: Double = 3.5): DataFrame = {
    val med = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile($column, 0.5D)").as("__med"))
    def joined(d: DataFrame, stats: DataFrame): DataFrame =
      if (groupCols.isEmpty) d.crossJoin(broadcast(stats))
      else d.join(broadcast(stats), groupCols)
    val withDev = joined(df, med)
      .withColumn("__dev", abs(col(column) - col("__med")))
    val mad = withDev.groupBy(groupCols.map(col): _*)
      .agg(expr("percentile(__dev, 0.5D)").as("__mad"),
        Det.meanAt(col("__dev"), 6).as("__meandev"))
    val scale = when(col("__mad") =!= 0.0, col("__mad")).otherwise(col("__meandev"))
    joined(withDev, mad)
      .withColumn("robust_z", when(scale =!= 0.0,
        round(lit(0.6745) * (col(column) - col("__med")) / scale, 6)))
      .filter(abs(col("robust_z")) > threshold)
      .drop("__med", "__dev", "__mad", "__meandev")
  }

  /** Moving-average deviation — ref anomaly_manager.py:146-160. The
    * rolling mean/std over the trailing `window` rows per series
    * (pandas `rolling(window)` semantics: only full windows emit).
    * Decimal-exact frame sums keep the rolling moments order-stable.
    */
  def movingAvg(df: DataFrame, column: String, partitionBy: Seq[String],
                orderBy: Seq[Column], window: Int = 7,
                threshold: Double = 2.0, scale: Int = 6): DataFrame = {
    // Direct bounded sliding-frame aggregates. The r7 cumulative-sum
    // rewrite (cum[i] - cum[i-w]) was re-measured in isolation at sf0.1
    // and lost: 3.4s vs 1.0s for this form — Spark's sliding-frame
    // executor already maintains the frame incrementally for
    // sum/count, so the "O(n*w) re-aggregation" the rewrite targeted
    // never happens, while the rewrite's extra lag pass and wider
    // decimal rows cost real time. Bounded frames also cannot overflow
    // DecimalType(28,scale): the cumulative sums grew with the whole
    // partition and could (ADVICE r7).
    //
    // r16: the two DECIMAL frame sums are the measured cost of the
    // remaining plan (sf10 solo 7.0 s vs 2.7 s with long micro-unit
    // sums — the frame executor updates a primitive long vs a Decimal
    // object per row). The long path is taken only when one cheap
    // map-combined max(|x|) probe proves BOTH frame sums stay ≤ 2^52
    // micro-units: below that a long cannot overflow AND the sum is
    // exactly representable in double, so long-sum.cast(double)/unit
    // and decimal-sum.cast(double) round the same exact rational to
    // the same double — bit-identical output on either route
    // (parity-spec'd). NaN/all-null probes route decimal. The probe
    // is one extra scan of the input; callers with expensive lineage
    // upstream should persist it first.
    val x = col(column)
    val unit = math.pow(10.0, scale)
    val a = math.pow(2.0, 52) / (unit * window)
    val cutoff = math.min(a, math.sqrt(a))
    val maxAbs = Option(df.agg(max(abs(x.cast("double"))).as("__m"))
      .head().getAs[java.lang.Double]("__m")).map(_.doubleValue())
    movingAvgPath(df, column, partitionBy, orderBy, window, threshold,
      scale, useLong = maxAbs.exists(m => m <= cutoff))
  }

  /** The frame arithmetic behind [[movingAvg]] on an explicit route:
    * `useLong = true` sums exact micro-units in a primitive long
    * (valid only when the caller has proven the 2^52 bound — public
    * callers go through [[movingAvg]]'s probe), `false` keeps the
    * always-safe decimal sums. Exposed at package level so the parity
    * spec can pin both routes row-identical on one input.
    */
  private[graft] def movingAvgPath(df: DataFrame, column: String,
                                   partitionBy: Seq[String],
                                   orderBy: Seq[Column], window: Int,
                                   threshold: Double, scale: Int,
                                   useLong: Boolean): DataFrame = {
    val x = col(column)
    val dec = DecimalType(28, scale)
    val unit = math.pow(10.0, scale)
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    val n = count(x).over(w).cast("double")
    val (s, s2) =
      if (useLong)
        (sum((x.cast(dec) * lit(unit.toLong)).cast("long")).over(w)
           .cast("double") / lit(unit),
         sum(((x * x).cast(dec) * lit(unit.toLong)).cast("long")).over(w)
           .cast("double") / lit(unit))
      else
        (sum(x.cast(dec)).over(w).cast("double"),
         sum((x * x).cast(dec)).over(w).cast("double"))
    val ma = s / n
    val std = sqrt(greatest(lit(0.0), (s2 - s * s / n) / (n - lit(1.0))))
    df.withColumn("__n", n)
      .withColumn("z", when(std =!= 0.0, abs(x - ma) / std))
      .filter(col("__n") === window && col("z") > threshold)
      .drop("__n")
  }

  /** Seasonal-residual outliers (STL-ish stand-in) — ref
    * anomaly_manager.py:262 stl_decomposition_detection. The seasonal
    * component is the per-season-key group mean; a row is anomalous
    * when its residual z-score within its season group exceeds the
    * threshold. Group stats come from one partial agg, joined back —
    * the join key is the (small) season key, broadcast-sized.
    */
  def seasonalResidual(df: DataFrame, column: String, seasonKey: Column,
                       threshold: Double = 3.0, scale: Int = 6): DataFrame = {
    val keyed = df.withColumn("__season", seasonKey)
    val stats = keyed.groupBy(col("__season")).agg(
      Det.meanAt(col(column), scale).as("__mean"),
      Det.stddevAt(col(column), scale).as("__std"))
    keyed.join(broadcast(stats), Seq("__season"))
      .withColumn("z", when(col("__std") =!= 0.0,
        abs(col(column) - col("__mean")) / col("__std")))
      .filter(col("z") > threshold)
      .withColumnRenamed("__season", "season")
      .drop("__mean", "__std")
  }

  /** Full seasonal decomposition (the STL shape, moving-average
    * flavor) — ref anomaly_manager.py:262 keeps only the residual
    * screen ([[seasonalResidual]]); this exposes all three
    * components: trend = centered rolling mean over ±`halfWindow`
    * rows (partial at series edges, like any ROWS frame), seasonal =
    * decimal-exact per-season mean of the detrended series, resid =
    * value − trend − seasonal. Scale shape: ONE WindowExec over the
    * partition sort, one small seasonal aggregate broadcast back.
    */
  def decompose(df: DataFrame, column: String, partitionCols: Seq[String],
                orderBy: Seq[Column], seasonKey: Column,
                halfWindow: Int = 3, scale: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderBy: _*).rowsBetween(-halfWindow, halfWindow)
    val trend = (sum(col(column).cast(DecimalType(28, scale))).over(w)
      .cast("double") / count(col(column)).over(w))
    val t1 = df.withColumn("__trend", trend).withColumn("__season", seasonKey)
    val seas = t1.groupBy(col("__season"))
      .agg(Det.meanAt(col(column) - col("__trend"), scale).as("__seasonal"))
    t1.join(broadcast(seas), Seq("__season"))
      .withColumn("trend", round(col("__trend"), scale))
      .withColumn("seasonal", round(col("__seasonal"), scale))
      .withColumn("resid",
        round(col(column) - col("__trend") - col("__seasonal"), scale))
      .drop("__trend", "__seasonal")
      .withColumnRenamed("__season", "season")
  }

  /** Grid-density outliers (DBSCAN-ish stand-in) — ref
    * anomaly_manager.py:162 dbscan_detection. Numeric space is bucketed
    * into fixed-width grid cells; rows in cells holding fewer than
    * `minPts` rows are flagged. One agg for cell counts (broadcast
    * back), no pairwise distances — O(n) at any scale.
    */
  def gridDensity(df: DataFrame, columns: Seq[(String, Double)],
                  minPts: Long = 5): DataFrame = {
    val cells = columns.map { case (c, width) =>
      floor(col(c) / lit(width)).as(s"__cell_$c")
    }
    val keyed = df.select(col("*") +: cells: _*)
    val cellCols = columns.map { case (c, _) => col(s"__cell_$c") }
    val counts = keyed.groupBy(cellCols: _*).agg(count(lit(1)).as("__cell_n"))
    keyed.join(broadcast(counts), columns.map { case (c, _) => s"__cell_$c" })
      .filter(col("__cell_n") < minPts)
      .withColumn("cell_n", col("__cell_n"))
      .drop(columns.map { case (c, _) => s"__cell_$c" } :+ "__cell_n": _*)
  }

  /** Mean-shift changepoint scan — ref anomaly_manager.py:304
    * changepoint_detection (the reference wraps an offline PELT-style
    * library; the engine-native equivalent is the classic binary-
    * segmentation score). Each row scores the boundary BETWEEN the
    * trailing and leading `window` rows with the two-sample t statistic
    *   |mean_R - mean_L| / sqrt(s2_pooled * (1/nL + 1/nR))
    * computed from decimal-exact frame sums (order-stable across
    * partitionings). Only rows with both windows full emit; rows with
    * zero pooled variance (flat series) are not changepoints. A
    * partitioned window plan: shuffle scales with series keys, never a
    * driver-side loop over the series.
    */
  def changepoints(df: DataFrame, column: String, partitionBy: Seq[String],
                   orderBy: Seq[Column], window: Int = 20,
                   threshold: Double = 3.0, scale: Int = 6): DataFrame = {
    // Frame moments come from DIFFERENCES OF CUMULATIVE decimal sums
    // (three O(rows) running aggregates + O(1) lag/leads), not six
    // sliding-frame aggregates: Spark's WindowExec re-aggregates the
    // whole frame per row for bounded frames (sum has no retraction),
    // an O(rows x window) decimal cost that made this the slowest
    // bench query. Decimal subtraction is exact, so each derived frame
    // sum is bit-identical to the direct frame aggregate.
    val base = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    val dec = DecimalType(28, scale)
    val score = cpScore(base, dec, window)
    cumFrame(df, column, base, dec)
      .withColumn("__nl", score.nl).withColumn("__nr", score.nr)
      .withColumn("score", score.t)
      .filter(col("__nl") === window && col("__nr") === window &&
        col("score") > threshold)
      .drop("__nl", "__nr", "__cn", "__cs", "__cs2")
  }

  /** Multi-scale changepoint scan: the boundary score at several
    * window sizes in ONE pass — short windows localize abrupt shifts,
    * long windows surface slow drifts a short frame can't separate
    * from noise. All scales share the same cumulative-sum columns and
    * window spec, so Spark plans a single sort + WindowExec regardless
    * of how many scales are requested (per-scale cost is a handful of
    * O(1) lag/lead reads, not another shuffle). Output: one row per
    * (row, win) whose score clears the threshold.
    */
  def changepointsMultiScale(df: DataFrame, column: String,
                             partitionBy: Seq[String], orderBy: Seq[Column],
                             windows: Seq[Int] = Seq(10, 20, 40),
                             threshold: Double = 3.0,
                             scale: Int = 6): DataFrame = {
    require(windows.nonEmpty, "need at least one window size")
    val base = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    val dec = DecimalType(28, scale)
    // window expressions must land as REAL columns before the generator:
    // struct-of-window-expr inside explode gets field-collapsed by the
    // optimizer back into the post-generate filter, which is illegal
    val idx = windows.indices
    val withScores = idx.foldLeft(cumFrame(df, column, base, dec)) { (d, i) =>
      val s = cpScore(base, dec, windows(i))
      d.withColumn(s"__nl_$i", s.nl).withColumn(s"__nr_$i", s.nr)
        .withColumn(s"__t_$i", s.t)
    }
    val tmp = idx.flatMap(i => Seq(s"__nl_$i", s"__nr_$i", s"__t_$i"))
    // filter INSIDE the per-row scale array, then explode survivors:
    // exploding first materializes n·|windows| full-width rows (30M at
    // sf10) only to keep the handful that clear the threshold — the
    // array filter evaluates the same null-dropping predicate on
    // |windows| elements per row and the generator emits survivors
    // only. Wall-neutral at sf10 (the WindowExec frame processors
    // dominate, PLANS.md r15) but strictly less row materialization —
    // the shape that matters when payloads widen. Window expressions
    // still land as real columns first (the generator-collapse hazard
    // the comment above describes).
    val scales = array(idx.map(i => struct(
      lit(windows(i)).as("win"), col(s"__nl_$i").as("nl"),
      col(s"__nr_$i").as("nr"), col(s"__t_$i").as("score"))): _*)
    withScores
      .withColumn("__s", explode(filter(scales, s =>
        s("nl") === s("win") && s("nr") === s("win") &&
          s("score") > threshold)))
      .withColumn("win", col("__s.win"))
      .withColumn("score", col("__s.score"))
      .drop("__s" +: "__cn" +: "__cs" +: "__cs2" +: tmp: _*)
  }

  /** Cumulative count / sum / sum-of-squares columns over `base` —
    * the shared input for cumulative-difference frame moments.
    */
  private def cumFrame(df: DataFrame, column: String,
                       base: org.apache.spark.sql.expressions.WindowSpec,
                       dec: DecimalType): DataFrame = {
    val wc = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = col(column)
    df.withColumn("__cn", count(x).over(wc))
      .withColumn("__cs", sum(x.cast(dec)).over(wc))
      .withColumn("__cs2", sum((x * x).cast(dec)).over(wc))
  }

  private final case class CpScore(nl: Column, nr: Column, t: Column)

  /** Two-sample t statistic for the boundary between the trailing and
    * leading `window` rows, from differences of the cumulative columns:
    * frame [row-back, row+fwd] sum = cum(row+fwd) - cum(row-back-1); a
    * lag past the partition start is the empty prefix (zero), a lead
    * past the end leaves null so clipped frames filter out.
    */
  private def cpScore(base: org.apache.spark.sql.expressions.WindowSpec,
                      dec: DecimalType, window: Int): CpScore = {
    // left frame [i-window, i-1], right frame [i, i+window-1]
    val nl = (coalesce(lag(col("__cn"), 1).over(base), lit(0L)) -
      coalesce(lag(col("__cn"), window + 1).over(base), lit(0L))).cast("double")
    val nr = (lead(col("__cn"), window - 1).over(base) -
      coalesce(lag(col("__cn"), 1).over(base), lit(0L))).cast("double")
    val sl = (coalesce(lag(col("__cs"), 1).over(base), lit(0).cast(dec)) -
      coalesce(lag(col("__cs"), window + 1).over(base), lit(0).cast(dec))).cast("double")
    val s2l = (coalesce(lag(col("__cs2"), 1).over(base), lit(0).cast(dec)) -
      coalesce(lag(col("__cs2"), window + 1).over(base), lit(0).cast(dec))).cast("double")
    val sr = (lead(col("__cs"), window - 1).over(base) -
      coalesce(lag(col("__cs"), 1).over(base), lit(0).cast(dec))).cast("double")
    val s2r = (lead(col("__cs2"), window - 1).over(base) -
      coalesce(lag(col("__cs2"), 1).over(base), lit(0).cast(dec))).cast("double")
    // every division sits under the full-frames guard: ANSI divide
    // throws on zero EVEN FOR DOUBLES, and relying on the caller's
    // nl/nr filter being pushed below this projection is fragile (the
    // multi-scale generator provably blocks that pushdown)
    val full = nl === lit(window.toDouble) && nr === lit(window.toDouble)
    val pooled = (greatest(lit(0.0), s2l - sl * sl / nl) +
      greatest(lit(0.0), s2r - sr * sr / nr)) / (nl + nr - lit(2.0))
    val denom = sqrt(pooled * (lit(1.0) / nl + lit(1.0) / nr))
    CpScore(nl, nr,
      when(full, round(when(denom =!= 0.0, abs(sr / nr - sl / nl) / denom), 6)))
  }

  /** AR(1)-residual outliers — ref anomaly_manager.py:238
    * arima_detection (the reference wraps statsmodels ARIMA; the
    * engine-native stand-in fits the AR(1) model x_t = c + phi*x_{t-1}
    * per series by least squares, closed-form from decimal-exact
    * moments — same role seasonalResidual plays for STL).
    *
    * One aggregation computes all five moments per series (map-side
    * partial), phi/intercept/residual-variance derive algebraically
    * from them (SSR expands into the same moments — no second pass),
    * and the stats frame joins back broadcast. Rows whose residual
    * z-score exceeds `threshold` flag; each series' first row has no
    * lag and is excluded (as in the reference's differenced models).
    */
  def arResidual(df: DataFrame, column: String, partitionBy: Seq[String],
                 orderBy: Seq[Column], threshold: Double = 3.0,
                 scale: Int = 6): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    val x = col(column)
    val lagged = df.withColumn("__xl", lag(x, 1).over(w)).filter(col("__xl").isNotNull)
    val stats = lagged.groupBy(partitionBy.map(col): _*).agg(
      count(lit(1)).cast("double").as("__n"),
      Det.sumAt(x, scale).as("__sx"),
      Det.sumAt(col("__xl"), scale).as("__sxl"),
      Det.sumAt(x * x, scale).as("__sxx"),
      Det.sumAt(x * col("__xl"), scale).as("__sxy"),
      Det.sumAt(col("__xl") * col("__xl"), scale).as("__sxlxl"))
    val phiDen = col("__n") * col("__sxlxl") - col("__sxl") * col("__sxl")
    val fitted = stats
      .withColumn("__phi", when(phiDen =!= 0.0,
        (col("__n") * col("__sxy") - col("__sx") * col("__sxl")) / phiDen))
      .withColumn("__c", (col("__sx") - col("__phi") * col("__sxl")) / col("__n"))
      // SSR expands into the moments already in hand — exact algebra,
      // keep this operand ORDER mirrored in the SQL oracle
      .withColumn("__ssr", greatest(lit(0.0),
        col("__sxx") - lit(2.0) * col("__c") * col("__sx") -
          lit(2.0) * col("__phi") * col("__sxy") +
          col("__c") * col("__c") * col("__n") +
          lit(2.0) * col("__c") * col("__phi") * col("__sxl") +
          col("__phi") * col("__phi") * col("__sxlxl")))
      .withColumn("__std", sqrt(col("__ssr") / (col("__n") - lit(1.0))))
      .select(partitionBy.map(col) :+ col("__phi") :+ col("__c") :+ col("__std"): _*)
    lagged.join(broadcast(fitted), partitionBy)
      .withColumn("z", round(when(col("__std") =!= 0.0,
        abs(x - col("__c") - col("__phi") * col("__xl")) / col("__std")), 6))
      .filter(col("z") > threshold)
      .drop("__xl", "__phi", "__c", "__std")
  }

  /** Elliptic (robust Mahalanobis) boundary — ref anomaly_manager.py:221
    * ocsvm_detection (the reference wraps sklearn OneClassSVM; the
    * engine-native stand-in is the classic elliptic-envelope decision
    * boundary, the same role the AR(1) closed form plays for ARIMA).
    * The 2-D squared Mahalanobis distance on standardized coordinates,
    *   md2 = (zx^2 - 2*rho*zx*zy + zy^2) / (1 - rho^2),
    * comes from ONE decimal-exact moment pass (n, sums, cross-moments)
    * broadcast back; the boundary is the (1-nu) exact quantile of the
    * rounded distances (OneClassSVM's nu = the trained outlier
    * fraction), a second 1-row broadcast. Rows strictly beyond the
    * boundary flag. Degenerate inputs (zero variance on either axis,
    * |rho| = 1) yield null md2 and flag nothing. The fact table never
    * shuffles; both aggregation passes are map-side partial. Keep the
    * operand ORDER mirrored in the SQL oracle.
    */
  def ellipticBoundary(df0: DataFrame, xCol: String, yCol: String,
                       nu: Double = 0.1, scale: Int = 6): DataFrame = {
    require(nu > 0.0 && nu < 1.0, "nu must be in (0, 1)")
    // the moment agg, the quantile machinery's three scans and the
    // output filter all map over this frame — and the small-frame
    // cache below inherits its partitioning — so a one-row-group
    // input would run every decimal sum on one core (guide §2.5).
    // Gated on the CACHE decision, not just narrowness: fanning pays
    // only because the fanned frame is re-consumed from cache; past
    // the small-frame budget the repartition would instead insert a
    // full-row exchange in front of every pass (measured r20-opt:
    // sf10's ~16-partition scan triggered the narrowness test alone
    // and read 1.4x — the exchange shipped 60M rows per pass with no
    // cache to amortize it).
    val df = if (graft.GraftSession.isSmall(df0))
      graft.operators.Ops.fanOutIfNarrow(df0) else df0
    val x = col(xCol); val y = col(yCol)
    // ONE bounded 1-row collect of the moment sums, inlined as literal
    // doubles: every later pass over md2 (the quantile machinery's
    // scans, the output filter) is then a pure column-pruned codegen
    // scan — no aggregation subtree re-runs per pass, and nothing
    // corpus-sized is ever cached (the previous persist held the whole
    // scored fact table, which is exactly the frame you cannot cache
    // at 100 TB). Same doubles, same downstream arithmetic.
    val sRow = df.agg(
      count(lit(1)).cast("double").as("__n"),
      Det.sumAt(x, scale).as("__sx"),
      Det.sumAt(y, scale).as("__sy"),
      Det.sumAt(x * x, scale).as("__sxx"),
      Det.sumAt(y * y, scale).as("__syy"),
      Det.sumAt(x * y, scale).as("__sxy")).head()
    def statLit(name: String): Column = {
      val i = sRow.fieldIndex(name)
      if (sRow.isNullAt(i)) lit(null).cast("double") else lit(sRow.getDouble(i))
    }
    val sN = statLit("__n"); val sX = statLit("__sx"); val sY = statLit("__sy")
    val sXX = statLit("__sxx"); val sYY = statLit("__syy")
    val sXY = statLit("__sxy")
    val vxDen = sN * sXX - sX * sX
    val vyDen = sN * sYY - sY * sY
    // Every divisor that can be zero on degenerate input is wrapped
    // when(d =!= 0, d) — null divisor → null result. A plain outer
    // CASE guard is NOT enough under ANSI mode: common-subexpression
    // elimination hoists the shared zx/zy divisions out of the THEN
    // branch and evaluates them unconditionally. Values on the
    // non-degenerate path are bit-identical (the oracle keeps plain
    // guarded divisions — its CASE evaluates lazily).
    def nz(c: Column): Column = when(c =!= 0.0, c)
    val rhoDen = sqrt(vxDen) * sqrt(vyDen)
    val rho = (sN * sXY - sX * sY) / nz(rhoDen)
    // standardized coords: z = (v - s/n) / sqrt((s2 - s*s/n) / n)
    // (population scaling — the reference's StandardScaler is ddof=0)
    val zx = (x - sX / sN) / nz(sqrt((sXX - sX * sX / sN) / sN))
    val zy = (y - sY / sN) / nz(sqrt((sYY - sY * sY / sN) / sN))
    val md2 = when(vxDen > 0.0 && vyDen > 0.0 && lit(1.0) - rho * rho =!= 0.0,
      round((zx * zx - lit(2.0) * rho * zx * zy + zy * zy) / nz(lit(1.0) - rho * rho), 6))
    // size-aware persist (r16): the quantile machinery and the output
    // filter scan `scored` ~3×; at gate SFs the frame is MBs and the
    // cache is free speed, past the small-frame budget the literal-
    // moment design keeps every pass a pure column-pruned codegen scan
    // (the 100 TB default — nothing corpus-sized is ever cached there)
    val scored = graft.GraftSession.persistIfSmall(df.withColumn("md2", md2))
    // exact interpolated quantile of the 6-dp-rounded distances, itself
    // rounded — the strict > comparison then resolves identically on
    // both engines even when the boundary lands exactly on a data value.
    // Computed eagerly (1-row driver value, the bounded-collect
    // exception): the returned frame then filters the cached scores by
    // a literal instead of dragging the aggregation subtree along.
    // Quantiles.exactQuantile keeps the boundary EXACT with bounded
    // reducer memory (sketch-bracketed sliver sort, never the native
    // percentile's buffer-everything single reducer) — the 100 TB path
    // with no approx/exact mode switch. Rounding mirrors Spark's
    // round(): BigDecimal HALF_UP at scale 6.
    val q = 1.0 - nu
    graft.functions.Quantiles.exactQuantile(scored, "md2", q) match {
      case None => scored.filter(lit(false)) // fully degenerate input
      case Some(raw) =>
        val thr = java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        scored.filter(col("md2") > lit(thr))
    }
  }
  /** Trend + seasonality forecast-residual outliers — ref
    * anomaly_manager.py:282 prophet_detection (the reference wraps
    * Facebook Prophet; the engine-native stand-in is the same additive
    * decomposition in closed form: a per-series least-squares linear
    * trend over `trendIndex` plus a per-(series, season) additive
    * component of the detrended values — Holt-Winters-style — with
    * rows flagged when the forecast residual's z-score within its
    * series exceeds `threshold`, exactly the reference's residual
    * rule).
    *
    * Three aggregation passes by construction (trend moments → seasonal
    * means of detrended values → residual moments), every stats frame
    * series-count-sized and broadcast back; the fact table never
    * shuffles. All moments are decimal-exact, so the fit reproduces
    * across engines and partitionings. A single-point or constant-index
    * series degrades to slope 0 (the seasonal/z machinery still holds).
    * Keep the operand ORDER mirrored in the SQL oracle.
    */
  def prophetResidual(df: DataFrame, column: String, trendIndex: Column,
                      seasonKey: Column, partitionBy: Seq[String],
                      threshold: Double = 3.0, scale: Int = 6): DataFrame = {
    val y = col(column)
    val keyed = df.withColumn("__x", trendIndex.cast("double"))
      .withColumn("__season", seasonKey)
    def joined(d: DataFrame, stats: DataFrame, cols: Seq[String]): DataFrame =
      if (cols.isEmpty) d.crossJoin(broadcast(stats))
      else d.join(broadcast(stats), cols)
    val lin = keyed.groupBy(partitionBy.map(col): _*).agg(
      count(lit(1)).cast("double").as("__n"),
      Det.sumAt(col("__x"), scale).as("__sx"),
      Det.sumAt(y, scale).as("__sy"),
      Det.sumAt(col("__x") * col("__x"), scale).as("__sxx"),
      Det.sumAt(y * col("__x"), scale).as("__sxy"))
    val den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val fit = lin
      .withColumn("__slope", when(den =!= 0.0,
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")) / den)
        .otherwise(lit(0.0)))
      .withColumn("__c", (col("__sy") - col("__slope") * col("__sx")) / col("__n"))
      .select(partitionBy.map(col) :+ col("__slope") :+ col("__c"): _*)
    val detr = joined(keyed, fit, partitionBy)
      .withColumn("__r", y - col("__c") - col("__slope") * col("__x"))
    val seas = detr.groupBy((partitionBy :+ "__season").map(col): _*)
      .agg(Det.meanAt(col("__r"), scale).as("__ms"))
    val withResid = joined(detr, seas, partitionBy :+ "__season")
      .withColumn("__resid", col("__r") - col("__ms"))
    // safe stddev: a one-row series must yield a null scale (flagging
    // nothing), not an ANSI divide-by-zero error
    val rstats = withResid.groupBy(partitionBy.map(col): _*).agg(
      Det.meanAt(col("__resid"), scale).as("__rm"),
      Det.stddevSafeAt(col("__resid"), scale).as("__rsd"))
    joined(withResid, rstats, partitionBy)
      .withColumn("z", round(when(col("__rsd") =!= 0.0,
        abs(col("__resid") - col("__rm")) / col("__rsd")), 6))
      .filter(col("z") > threshold)
      .withColumnRenamed("__season", "season")
      .drop("__x", "__slope", "__c", "__r", "__ms", "__resid", "__rm", "__rsd")
  }

  /** Ensemble vote — ref anomaly_manager.py:335-360: a row is anomalous
    * when at least `minVotes` detectors flagged it. Each input frame
    * needs `keyCols`; `confCol` (per-frame confidence column) feeds the
    * reported max confidence.
    */
  /** Severity bands over a [0,1] confidence — ref anomaly_manager.py:335
    * classify_severity (same default thresholds).
    */
  def classifySeverity(conf: Column, high: Double = 0.8,
                       medium: Double = 0.5): Column =
    when(conf > high, "high").when(conf > medium, "medium").otherwise("low")

  /** False-positive screen — ref :363 filter_false_positives (the
    * reference is a rule-hook placeholder; these are the two screens
    * a production run actually applies): a confidence floor, and an
    * optional known-benign key allowlist removed with a broadcast
    * anti-join (the allowlist is ops-curated, i.e. small).
    */
  def filterFalsePositives(detections: DataFrame, confCol: String,
                           minConf: Double, benign: Option[DataFrame] = None,
                           keyCols: Seq[String] = Nil): DataFrame = {
    val floored = detections.filter(col(confCol) >= minConf)
    benign.fold(floored) { b =>
      require(keyCols.nonEmpty, "benign allowlist needs keyCols")
      floored.join(broadcast(b.select(keyCols.map(col): _*).distinct()),
        keyCols, "left_anti")
    }
  }

  /** Top-n sample records for triage — ref :402 get_anomaly_samples,
    * made deterministic: highest confidence first with an explicit
    * tie-break (the reference takes the first n in frame order, which
    * is nondeterministic under any parallel execution).
    * TakeOrderedAndProject per-partition heaps — no global sort.
    */
  def samples(detections: DataFrame, confCol: String,
              tieBreak: Seq[Column], n: Int = 10): DataFrame =
    detections.orderBy(col(confCol).desc +: tieBreak: _*).limit(n)

  def ensemble(detections: Seq[(DataFrame, String)], keyCols: Seq[String],
               minVotes: Int = 2): DataFrame = {
    require(detections.nonEmpty)
    val votes = detections.map { case (d, confCol) =>
      d.select(keyCols.map(col) :+ col(confCol).cast("double").as("__conf"): _*)
    }.reduce(_ unionByName _)
    votes.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("votes"), max(col("__conf")).as("max_conf"))
      .filter(col("votes") >= minVotes)
  }
}
