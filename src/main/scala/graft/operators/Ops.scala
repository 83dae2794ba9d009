package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The core transformation library: the Spark-native re-expression of
  * the reference's `TransformationExamples` / `TransformEngine`
  * surface (reference: src/transform/transformation_library.py,
  * src/transform/transform_engine.py).
  *
  * Everything here is declarative — each method only composes a
  * logical plan, so Catalyst keeps pushdown / pruning / join
  * reordering, and Tungsten keeps whole-stage codegen. Nothing
  * collects to the driver; nothing forces a shuffle that the plan
  * doesn't inherently need.
  */
object Ops {

  /** Fan a NARROW input out to the session's full parallelism before
    * per-row-EXPENSIVE map work (image/audio codecs, regex scans,
    * shingling) — the optimization guide §2.5 unsplittable-input case.
    * A parquet file ships work in row-group units, so a table written
    * as one row group (every gate-SF testdata table here, and any
    * single-file drop in production) scans as ONE task and serializes
    * all downstream map-side CPU onto one core regardless of cluster
    * size.
    *
    * Conditional by construction: a no-op whenever the input already
    * carries >= defaultParallelism partitions — i.e. any real
    * multi-row-group table at scale — so nothing is ever shuffled
    * where the scan is already parallel, and the knob is
    * scale-adaptive (derived from the running context, never a
    * constant). Call it AFTER pushable filters (the Exchange would
    * block pushdown) and BEFORE attaching expensive derived columns,
    * so the shuffle carries only the light input rows (ids/keys), not
    * the heavy derived payload — the §8 "move small rows, attach
    * payload after" shape.
    *
    * With `keys`, hash-partitions (deterministic under task retry, no
    * sort-before-repartition pass; use a high-cardinality key);
    * otherwise round-robin. Results are partitioning-invariant for
    * every operator in this library (spec'd where subtle — e.g.
    * capBuckets drops whole over-cap buckets, never a
    * partition-order-dependent subset).
    */
  def fanOutIfNarrow(df: DataFrame, keys: Seq[Column] = Nil): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    // .rdd only builds the plan (no job); scan-shaped inputs have a
    // statically known partition count
    if (df.rdd.getNumPartitions >= want) df
    else if (keys.nonEmpty) df.repartition(want, keys: _*)
    else df.repartition(want)
  }

  // ---- 1. Filters (ref: filter_by_condition / _multiple / _date_range)

  /** Single comparison filter; operator is one of == != > < >= <=.
    * The predicate lands in the parquet scan via Catalyst pushdown.
    */
  def filterBy(df: DataFrame, column: String, op: String, value: Any): DataFrame = {
    val c = col(column)
    val v = lit(value)
    val pred = op match {
      case "==" => c === v
      case "!=" => c =!= v
      case ">"  => c > v
      case "<"  => c < v
      case ">=" => c >= v
      case "<=" => c <= v
      case other => throw new IllegalArgumentException(s"Unsupported operator: $other")
    }
    df.filter(pred)
  }

  /** AND of many (column, op, value) conditions — one combined predicate,
    * not N sequential passes like the reference.
    */
  def filterAll(df: DataFrame, conditions: Seq[(String, String, Any)]): DataFrame =
    conditions.foldLeft(df) { case (d, (c, op, v)) => filterBy(d, c, op, v) }

  /** Inclusive date/timestamp range filter (pushed to the scan). */
  def filterDateRange(df: DataFrame, dateColumn: String, start: String, end: String): DataFrame =
    df.filter(col(dateColumn) >= lit(start).cast(TimestampType) &&
              col(dateColumn) <= lit(end).cast(TimestampType))

  // ---- 2. Column mapping (ref: rename_columns / drop_columns / reorder_columns)

  def renameColumns(df: DataFrame, mapping: Map[String, String]): DataFrame =
    mapping.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  def dropColumns(df: DataFrame, columns: Seq[String]): DataFrame =
    df.drop(columns: _*)

  /** Reorder/select columns — also column-prunes the upstream scan. */
  def selectOrder(df: DataFrame, order: Seq[String]): DataFrame =
    df.select(order.map(col): _*)

  // ---- 3. Type conversion (ref: convert_to_numeric / _datetime / _string)

  /** Cast columns per a type-name map. Type names mirror the reference
    * ("numeric" → double, "datetime" → timestamp) plus Spark DDL names.
    * Columns listed in `datetimeFormats` parse string dates with that
    * explicit pattern (ref transformation_library.py:333
    * `convert_to_datetime(format=...)`) via `to_timestamp`/`to_date`
    * instead of a bare cast — a bare cast of "25/03/2024" is NULL (or
    * an ANSI error), the pattern parse is the correct tool.
    */
  def convertTypes(df: DataFrame, typeMapping: Map[String, String],
                   datetimeFormats: Map[String, String] = Map.empty): DataFrame = {
    def dt(name: String): DataType = name.toLowerCase match {
      case "numeric" | "double" | "float64" => DoubleType
      case "int" | "integer"                => IntegerType
      case "long" | "bigint"                => LongType
      case "string" | "str" | "varchar"     => StringType
      case "datetime" | "timestamp"         => TimestampType
      case "date"                           => DateType
      case "boolean" | "bool"               => BooleanType
      case other                            => CatalystSqlParser.parse(other)
    }
    typeMapping.foldLeft(df) { case (d, (c, t)) =>
      d.withColumn(c, (datetimeFormats.get(c), dt(t)) match {
        case (Some(fmt), DateType) => to_date(col(c), fmt)
        case (Some(fmt), _)        => to_timestamp(col(c), fmt)
        case (None, target)        => col(c).cast(target)
      })
    }
  }

  private object CatalystSqlParser {
    def parse(ddl: String): DataType = DataType.fromDDL(ddl)
  }

  // ---- 4. Joins (ref: inner_join / left_join / merge_multiple)

  /** Join on shared key columns. `broadcastRight` forces a broadcast of
    * the right side (dims); otherwise Catalyst/AQE pick the strategy.
    * At 100 TB: dimension joins MUST broadcast — a shuffled fact table
    * join on a 25-row region table is the canonical scale bug.
    */
  def join(left: DataFrame, right: DataFrame, on: Seq[String],
           how: String = "inner", broadcastRight: Boolean = false): DataFrame = {
    val r = if (broadcastRight) broadcast(right) else right
    left.join(r, on, how)
  }

  /** N-way join on the same keys (ref merge_multiple). Catalyst
    * reorders/broadcasts as statistics allow.
    */
  def joinMany(dfs: Seq[DataFrame], on: Seq[String], how: String = "inner"): DataFrame =
    dfs.reduceLeft((a, b) => a.join(b, on, how))

  /** Skew-resistant equi-join: salt the (skewed) left side's key into
    * `buckets` sub-keys and explode the right side to match. Use when a
    * handful of hot keys dominate; otherwise prefer AQE skew handling.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 buckets: Int, how: String = "inner"): DataFrame = {
    val salted = left.withColumn("__salt", pmod(monotonically_increasing_id(), lit(buckets.toLong)).cast("int"))
    val exploded = right.withColumn("__salt", explode(array((0 until buckets).map(lit): _*)))
    salted.join(exploded, Seq(key, "__salt"), how).drop("__salt")
  }

  // ---- 5. Aggregation (ref: groupby_aggregate / pivot_table / rolling_aggregate)

  /** GroupBy + named aggregates. `aggs` entries are
    * (inputColumn, function, outputAlias); functions: sum, mean/avg,
    * count, count_distinct, min, max, sum_money (exact decimal sum of a
    * money column, returned as double — see [[graft.functions.Det]]).
    * Map-side partial aggregation is automatic.
    */
  def groupAgg(df: DataFrame, groupCols: Seq[String],
               aggs: Seq[(String, String, String)]): DataFrame = {
    val exprs = aggs.map { case (c, f, alias) => aggExpr(c, f).as(alias) }
    df.groupBy(groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** The aggregate functions [[groupAgg]], [[rollupAgg]] and [[cubeAgg]]
    * accept, by lower-cased name — also what a job document's `fn` is
    * checked against at parse.
    */
  private[graft] val aggFunctions: Map[String, Column => Column] = Map(
    "sum"            -> (sum(_: Column)),
    "sum_money"      -> graft.functions.Det.sumMoney,
    "mean"           -> (avg(_: Column)),
    "avg"            -> (avg(_: Column)),
    "count"          -> (count(_: Column)),
    "count_distinct" -> (countDistinct(_: Column)),
    "min"            -> (min(_: Column)),
    "max"            -> (max(_: Column)),
    "first"          -> (first(_: Column)))

  private def aggExpr(c: String, f: String): Column =
    aggFunctions.getOrElse(f.toLowerCase,
      throw new IllegalArgumentException(s"Unsupported agg: $f"))(col(c))

  /** Pivot with explicit pivot values (explicit values keep the plan a
    * single pass — no extra distinct-scan to discover them — and make
    * output columns deterministic).
    */
  def pivot(df: DataFrame, index: Seq[String], pivotCol: String,
            pivotValues: Seq[String], valueAgg: Column): DataFrame =
    df.groupBy(index.map(col): _*).pivot(pivotCol, pivotValues).agg(valueAgg)

  /** Pivot over MULTIPLE value aggregations — ref
    * transformation_library.py:538 pivot_table(values=[...]): one
    * output column per (pivot value x agg alias), named
    * `{pivotValue}_{alias}` by Spark. Still one pass (explicit pivot
    * values, several aggregates in the same hash aggregation).
    */
  def pivotMulti(df: DataFrame, index: Seq[String], pivotCol: String,
                 pivotValues: Seq[String], valueAggs: Seq[Column]): DataFrame = {
    require(valueAggs.nonEmpty, "need at least one aggregate")
    df.groupBy(index.map(col): _*).pivot(pivotCol, pivotValues)
      .agg(valueAggs.head, valueAggs.tail: _*)
  }

  /** pandas `melt` / the inverse of [[pivot]]: wide columns to
    * (variable, value) rows — Spark's native `unpivot` operator, which
    * plans as a map-side Expand (|valueCols|× row emission, no shuffle,
    * no UDF). Value columns are cast to `valueType` first (unpivot
    * requires one common type; pandas object-columns hide this).
    */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
           varName: String = "variable", valueName: String = "value",
           valueType: String = "double"): DataFrame = {
    require(valueCols.nonEmpty, "need at least one value column")
    df.select(idCols.map(col) ++ valueCols.map(c => col(c).cast(valueType).as(c)): _*)
      .unpivot(idCols.map(col).toArray, valueCols.map(col).toArray,
        varName, valueName)
  }

  /** Rolling aggregate over the preceding `window-1` rows + current row
    * within a partition (ref rolling_aggregate). Ordering must be
    * deterministic — pass a unique composite ordering.
    */
  def rolling(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[Column],
              column: String, window: Int, function: String,
              alias: String): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    val e = function.toLowerCase match {
      case "mean" | "avg" => avg(col(column)).over(w)
      case "sum"          => sum(col(column)).over(w)
      case "min"          => min(col(column)).over(w)
      case "max"          => max(col(column)).over(w)
      case "std"          => stddev(col(column)).over(w)
      case other          => throw new IllegalArgumentException(s"Unsupported rolling fn: $other")
    }
    df.withColumn(alias, e)
  }

  // ---- 6. Window functions (ref: rank_within_group / lag_lead / running_total)

  def rankWithin(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[Column],
                 dense: Boolean = true, alias: String = "rank"): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(alias, if (dense) dense_rank().over(w) else rank().over(w))
  }

  def lagLead(df: DataFrame, column: String, partitionBy: Seq[String],
              orderBy: Seq[Column], offset: Int = 1,
              alias: String = ""): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    val name = if (alias.nonEmpty) alias else s"${column}_lag_$offset"
    val e = if (offset >= 0) lag(col(column), offset).over(w)
            else lead(col(column), -offset).over(w)
    df.withColumn(name, e)
  }

  /** Running total. For money columns the sum runs in decimal so the
    * cumulative value is exact and order-stable, then converts to
    * double (cross-engine and re-partition reproducible).
    */
  def runningTotal(df: DataFrame, column: String, partitionBy: Seq[String],
                   orderBy: Seq[Column], alias: String = "",
                   exactMoney: Boolean = true): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val name = if (alias.nonEmpty) alias else s"${column}_running_total"
    val src = if (exactMoney) col(column).cast(DecimalType(18, 2)) else col(column)
    val e = sum(src).over(w)
    df.withColumn(name, if (exactMoney) e.cast("double") else e)
  }

  // ---- 6b. Distribution window functions

  def ntileWithin(df: DataFrame, n: Int, partitionBy: Seq[String],
                  orderBy: Seq[Column], alias: String = "tile"): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(alias, ntile(n).over(w))
  }

  def percentRank(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[Column],
                  alias: String = "pct_rank"): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(alias, percent_rank().over(w))
  }

  def cumeDist(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[Column],
               alias: String = "cume"): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(alias, cume_dist().over(w))
  }

  // ---- 6c. Multi-level aggregation + quantiles

  /** ROLLUP aggregation: subtotals at every prefix level of
    * `groupCols` plus the grand total (one pass, Expand operator).
    */
  def rollupAgg(df: DataFrame, groupCols: Seq[String],
                aggs: Seq[(String, String, String)]): DataFrame = {
    val exprs = aggs.map { case (c, f, alias) => aggExpr(c, f).as(alias) }
    df.rollup(groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** CUBE aggregation: all grouping-set combinations in one pass. */
  def cubeAgg(df: DataFrame, groupCols: Seq[String],
              aggs: Seq[(String, String, String)]): DataFrame = {
    val exprs = aggs.map { case (c, f, alias) => aggExpr(c, f).as(alias) }
    df.cube(groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Exact interpolated quantiles per group, one output column per
    * requested probability (q25/q50/... naming). At 100 TB switch to
    * approx_percentile (same plan shape, bounded memory) or to
    * [[quantilesByRanked]] (same EXACT values, spillable plan).
    */
  def quantilesBy(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  probs: Seq[Double]): DataFrame = {
    val exprs = probs.map { p =>
      expr(s"percentile($valueCol, ${p}D)").as(s"q${(p * 100).round}")
    }
    df.groupBy(groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** [[quantilesBy]] without the aggregation-buffer ceiling: native
    * `percentile` holds every group value in UNSPILLABLE aggregation
    * state, so one hot group can OOM its executor at scale. This form
    * sorts within groups instead — ONE hash partitioning on the group
    * key; WindowExec's row buffer spills to disk — keeps only the two
    * order statistics around each target rank (≤ 2·|probs| rows per
    * group survive the window), and interpolates with `percentile`'s
    * own formula, so the values are identical for any group size.
    * All-null/empty-value groups keep their row with null quantiles
    * (the native aggregate's contract).
    */
  def quantilesByRanked(df: DataFrame, groupCols: Seq[String], valueCol: String,
                        probs: Seq[Double]): DataFrame = {
    require(groupCols.nonEmpty && probs.nonEmpty, "need group columns and probs")
    val gcols = groupCols.map(col)
    val vals = df.filter(col(valueCol).isNotNull)
      .select(gcols :+ col(valueCol).cast("double").as("__v"): _*)
    // __rn and __n share ONE hash partitioning on the group key (two
    // window passes over the same exchange — no group-sized join back
    // onto the fact table, which a billion-group keyset would forbid
    // broadcasting)
    val ranked = vals
      .withColumn("__rn", row_number().over(
        Window.partitionBy(gcols: _*).orderBy(col("__v"))).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(gcols: _*)))
    def rank(p: Double): Column = (col("__n") - 1).cast("double") * lit(p)
    val isPick = probs.map { p =>
      col("__rn") === floor(rank(p)).cast("long") + 1 ||
      col("__rn") === ceil(rank(p)).cast("long") + 1
    }.reduce(_ || _)
    val aggCols = max(col("__n")).as("__n") +:
      probs.zipWithIndex.flatMap { case (p, i) => Seq(
        max(when(col("__rn") === floor(rank(p)).cast("long") + 1, col("__v")))
          .as(s"__lo_$i"),
        max(when(col("__rn") === ceil(rank(p)).cast("long") + 1, col("__v")))
          .as(s"__hi_$i"))
      }
    val stats = ranked.filter(isPick)
      .groupBy(gcols: _*).agg(aggCols.head, aggCols.tail: _*)
    val qCols = probs.zipWithIndex.map { case (p, i) =>
      val r = rank(p)
      val frac = r - floor(r)
      // Spark Percentile.getPercentile's interpolation, verbatim
      (col(s"__lo_$i") * (lit(1.0) - frac) + col(s"__hi_$i") * frac)
        .as(s"q${(p * 100).round}")
    }
    val present = stats.select(gcols ++ qCols: _*)
    // groups whose values are all null dropped out of `vals`; the
    // native aggregate keeps them with null quantiles — re-attach from
    // a group-cols-only scan (column-pruned; both sides are
    // group-cardinality-sized, AQE picks broadcast when they fit)
    df.select(gcols: _*).distinct()
      .join(present, groupCols, "left")
  }

  /** Tumbling-window aggregation over event time (batch analog of the
    * streaming windowed agg; the window struct's start labels the
    * bucket).
    */
  def tumblingAgg(df: DataFrame, tsCol: String, windowDur: String,
                  keyCols: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), windowDur) +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket_start", col("window.start"))
      .drop("window")

  // ---- 7. Semi-structured + time operators

  /** Extract a JSON path from a string column (map-side, codegen'd). */
  def jsonField(c: Column, path: String): Column = get_json_object(c, path)

  /** Gap-based sessionization: a new session starts when the gap to
    * the previous event (within the partition) exceeds `gapSeconds`.
    * Comparisons run on integer microseconds (exact cross-engine).
    * Appends `alias` = cumulative session number per partition.
    */
  def sessionize(df: DataFrame, partitionBy: Seq[String], tsCol: String,
                 orderBy: Seq[Column], gapSeconds: Long,
                 alias: String = "session_id"): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    val prev = lag(col(tsCol), 1).over(w)
    val newSession = when(prev.isNull ||
      graft.functions.Times.epochMicros(col(tsCol)) -
        graft.functions.Times.epochMicros(prev) > gapSeconds * 1000000L, 1L)
      .otherwise(0L)
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__new_s", newSession)
      .withColumn(alias, sum(col("__new_s")).over(wc))
      .drop("__new_s")
  }

  /** Rolling aggregate over a VALUE RANGE of the (numeric) ordering
    * column — e.g. 7 calendar days when ordering by a day number —
    * unlike [[rolling]]'s physical-row frames. Missing ranks shrink
    * the window, as calendar semantics require.
    */
  def rollingRange(df: DataFrame, partitionBy: Seq[String], orderNum: Column,
                   precedingRange: Long, column: String, function: String,
                   alias: String): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderNum)
      .rangeBetween(-precedingRange, Window.currentRow)
    val e = function.toLowerCase match {
      case "mean" | "avg" => avg(col(column)).over(w)
      case "sum"          => sum(col(column)).over(w)
      case "min"          => min(col(column)).over(w)
      case "max"          => max(col(column)).over(w)
      case "count"        => count(col(column)).over(w)
      case other          => throw new IllegalArgumentException(s"Unsupported rolling fn: $other")
    }
    df.withColumn(alias, e)
  }

  // ---- 8. SQL transform (ref: execute_sql_transform)

  /** Run a SQL statement over already-registered temp views. */
  def sqlTransform(spark: org.apache.spark.sql.SparkSession, sql: String): DataFrame =
    spark.sql(sql)

  // ---- 9. Missing-data handling (pandas fillna/ffill/dropna parity —
  // the reference drops to raw pandas for these inside custom steps;
  // graft makes them first-class plans)

  /** Constant fill per column (fillna(value)). Map-side codegen'd
    * coalesce — no shuffle.
    */
  def fillMissing(df: DataFrame, values: Map[String, Any]): DataFrame =
    df.na.fill(values)

  /** Drop rows with nulls in `cols` ("any" | "all" — dropna). */
  def dropMissing(df: DataFrame, cols: Seq[String], how: String = "any"): DataFrame =
    df.na.drop(how, cols)

  /** Forward fill (pandas ffill): replace each null with the most
    * recent non-null value in window order. One partitioned window
    * pass via last(ignoreNulls) over an unbounded-preceding frame —
    * the partition key keeps it distributed at any scale.
    */
  def forwardFill(df: DataFrame, cols: Seq[String], partitionBy: Seq[String],
                  orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Linear interpolation of interior null runs (pandas interpolate):
    * each null between two non-null neighbours gets the straight-line
    * value at its `orderNum` coordinate; leading/trailing nulls (no
    * neighbour on one side) stay null — compose with [[forwardFill]] /
    * [[fillMissing]] for boundary policy. Two frames of ONE partitioned
    * window pass (last-before + first-after), no self-join.
    */
  def interpolateLinear(df: DataFrame, valueCol: String, partitionBy: Seq[String],
                        orderNum: Column): DataFrame = {
    val v = col(valueCol)
    val base = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderNum)
    val wPrev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val ord = orderNum.cast("double")
    val prevV = last(v, ignoreNulls = true).over(wPrev)
    val prevO = last(when(v.isNotNull, ord), ignoreNulls = true).over(wPrev)
    val nextV = first(v, ignoreNulls = true).over(wNext)
    val nextO = first(when(v.isNotNull, ord), ignoreNulls = true).over(wNext)
    df.withColumn(valueCol,
      when(v.isNotNull, v)
        .when(prevV.isNotNull && nextV.isNotNull,
          prevV + (nextV - prevV) * (ord - prevO) / (nextO - prevO)))
  }

  /** Daily-grid densification (pandas asfreq): one row per key per
    * calendar day between that key's first and last observation, with
    * the observed rows left-joined on. Missing days carry nulls —
    * compose with [[forwardFill]] / [[fillMissing]] for the fill
    * policy. The grid generator is a per-key bounds agg (key-count
    * sized) + one explode; the join shuffles on (key, day) — both
    * sides pre-aggregated, never the raw fact table twice.
    */
  def resampleDaily(df: DataFrame, keyCols: Seq[String], dateCol: String): DataFrame = {
    val d = to_date(col(dateCol))
    val keyed = df.withColumn("__day", d)
    val bounds = keyed.groupBy(keyCols.map(col): _*)
      .agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"))
    val grid = bounds.select(keyCols.map(col) :+
      explode(sequence(col("__lo"), col("__hi"))).as("__day"): _*)
    grid.join(keyed, keyCols :+ "__day", "left")
      .withColumnRenamed("__day", "day")
  }

  /** Winsorization: clamp a value column to its per-group [pLo, pHi]
    * exact percentiles (outlier capping that keeps row count). One
    * hash agg for the bounds frame (group-count-sized, broadcast back)
    * + a map-side clamp — the fact table never shuffles. Null values
    * stay null (greatest/least skip nulls, which would otherwise
    * fabricate the lower bound for every gap). Exact percentile
    * buffers per-group values in executor memory — at 100 TB set
    * `approx = true` (t-digest `approx_percentile`: same plan shape,
    * bounded memory, bounds no longer bit-reproducible cross-engine).
    */
  def winsorize(df: DataFrame, valueCol: String, pLo: Double, pHi: Double,
                groupCols: Seq[String], alias: String = "winsorized",
                approx: Boolean = false): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi, s"need 0 <= pLo <= pHi <= 1")
    val fn = if (approx) "approx_percentile" else "percentile"
    val bounds = df.groupBy(groupCols.map(col): _*).agg(
      expr(s"$fn($valueCol, ${pLo}D)").as("__lo"),
      expr(s"$fn($valueCol, ${pHi}D)").as("__hi"))
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(bounds))
      else df.join(broadcast(bounds), groupCols)
    joined.withColumn(alias, when(col(valueCol).isNotNull,
        least(greatest(col(valueCol), col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }
}
