package graft.quality

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.JsonCfg
import graft.functions.Det

/** Data-quality engine: the Spark-native re-expression of the
  * reference's `DQEngine`/`RuleEngine`/`ProfileManager` surface
  * (reference: src/quality/dq_engine.py:42-383,
  * src/quality/dq_rule_examples.py).
  *
  * Scale design: the reference scans the table once PER RULE; here all
  * rules for a table are fused into ONE aggregation pass — each rule
  * contributes a conditional-count expression to a single `agg`, so a
  * 100 TB table is read exactly once no matter how many rules run.
  * Map-side partial aggregation reduces each partition to one row of
  * counters before any shuffle; the driver only ever sees the final
  * few-KB result frame.
  */
object DQ {

  /** A rule contributes one violation predicate to the fused pass.
    * `passed` = violation percentage <= maxViolationPct (the reference's
    * completeness threshold generalized to every rule type; default 0
    * reproduces its `.all()` semantics).
    */
  sealed trait Rule {
    def id: String
    def ruleType: String
    def colName: String
    def maxViolationPct: Double
    /** True where the row VIOLATES the rule (nulls handled per type). */
    def violation: Column
    /** Schema-aware variant — rules that can pick a cheaper plan when
      * they know the source column's type override this; [[check]]
      * always calls it. Defaults to the schema-free expression.
      */
    def violation(schema: org.apache.spark.sql.types.StructType): Column = violation
    /** Aggregate-level violation count for [[check]]'s fused pass.
      * Rules whose semantics are not per-row (uniqueness: a duplicate
      * only exists relative to the whole frame) override this; the
      * default is the sum of per-row violations.
      */
    def violationAgg(schema: org.apache.spark.sql.types.StructType): Column =
      sum(when(violation(schema), 1L).otherwise(0L))
    /** Whether the rule has a per-row predicate ([[split]]/quarantine
      * need one; aggregate-level rules are check-only).
      */
    def rowLevel: Boolean = true
  }

  /** ref dq_engine.py:109 run_uniqueness_checks: duplicate count over
    * a key set = rows − distinct keys (pandas `duplicated().sum()`).
    * Aggregate-level: joins [[check]]'s single fused pass as ONE
    * count-distinct over the key struct (nulls in the keys group like
    * values, matching pandas duplicated). Not usable in [[split]] —
    * membership in "the duplicates" is relative, not per-row.
    *
    * Cost note: exact distinct aggregates plan through Expand (the
    * scan re-emits once per distinct group + once for the plain
    * rules) — still one scan of storage, but row traffic multiplies
    * by 1 + #uniqueness-rules. Keep uniqueness rule count low, or use
    * the standalone [[uniqueness]] per key set at extreme widths.
    *
    * NULL semantics (pandas `duplicated`): the countDistinct here is
    * over a STRUCT of the keys, so null keys group like values — two
    * rows with a null key ARE duplicates of each other. Plain SQL
    * `COUNT(DISTINCT col)` SKIPS nulls, so an oracle on a nullable
    * key silently mismatches; use [[uniqueOracle]] (struct-packed
    * `COUNT(DISTINCT ROW(...))` / COALESCE form) when writing one.
    */
  final case class UniqueKeys(id: String, columns: Seq[String],
                              maxViolationPct: Double = 0.0) extends Rule {
    require(columns.nonEmpty, s"rule $id: uniqueness needs columns")
    val ruleType = "uniqueness"; val colName = columns.mkString(",")
    override def rowLevel: Boolean = false
    def violation: Column = throw new UnsupportedOperationException(
      s"rule $id: uniqueness has no per-row predicate (aggregate-level rule)")
    override def violationAgg(
        schema: org.apache.spark.sql.types.StructType): Column =
      count(lit(1)) - countDistinct(struct(columns.map(col): _*))
  }

  /** SQL oracle fragment matching [[UniqueKeys]]'s null semantics:
    * `count(*) - count(DISTINCT ROW(cols...))`. The ROW() struct is
    * non-null even when its fields are null, so null keys count as
    * values — parity with the Spark struct countDistinct (and pandas
    * `duplicated`) on NULLABLE keys, where a bare
    * `COUNT(DISTINCT col)` would skip nulls and under-count.
    */
  def uniqueOracle(columns: Seq[String]): String =
    s"count(*) - count(DISTINCT ROW(${columns.mkString(", ")}))"

  /** ref dq_rule_examples.py: not_null / required_fields / completeness. */
  final case class NotNull(id: String, column: String, maxViolationPct: Double = 0.0) extends Rule {
    val ruleType = "completeness"; val colName = column
    def violation: Column = col(column).isNull
  }

  /** ref dq_rule_examples.py: check_value_range (nulls don't violate). */
  final case class ValueRange(id: String, column: String, min: Double, max: Double,
                              maxViolationPct: Double = 0.0) extends Rule {
    val ruleType = "validity"; val colName = column
    def violation: Column = col(column).isNotNull && !col(column).between(min, max)
  }

  /** ref dq_rule_examples.py: check_regex_pattern / email / date_format. */
  final case class RegexMatch(id: String, column: String, pattern: String,
                              maxViolationPct: Double = 0.0) extends Rule {
    val ruleType = "validity"; val colName = column
    def violation: Column = col(column).isNotNull && !col(column).rlike(pattern)
  }

  /** ref dq_rule_examples.py:592 check_phone_format — convenience alias
    * over [[RegexMatch]] carrying the reference's patterns: the NANP
    * shape for countryCode "US", its generic digits/space/dash/parens
    * pattern for anything else.
    */
  object PhoneFormat {
    private[quality] val usPattern =
      "^\\+?1?[-.\\s]?\\(?([0-9]{3})\\)?[-.\\s]?([0-9]{3})[-.\\s]?([0-9]{4})$"
    private[quality] val genericPattern = "^\\+?[0-9\\s\\-\\(\\)]+$"
    def apply(id: String, column: String, countryCode: String = "US",
              maxViolationPct: Double = 0.0): RegexMatch =
      RegexMatch(id, column,
        if (countryCode == "US") usPattern else genericPattern, maxViolationPct)
  }

  /** ref dq_rule_examples.py: check_allowed_values. */
  final case class AllowedValues(id: String, column: String, values: Seq[String],
                                 maxViolationPct: Double = 0.0) extends Rule {
    val ruleType = "validity"; val colName = column
    def violation: Column = col(column).isNotNull && !col(column).isin(values: _*)
  }

  /** ref dq_rule_examples.py:333 check_data_type — value must be
    * losslessly castable to `targetType` (try_cast, so ANSI mode
    * doesn't abort the scan on the first bad value).
    */
  final case class TypeCastable(id: String, column: String, targetType: String,
                                maxViolationPct: Double = 0.0) extends Rule {
    val ruleType = "validity"; val colName = column
    // Failed ANSI try_cast builds a full SparkException (message + query
    // context) PER ROW (~40µs) — a table where every value is uncastable
    // (the common DQ case: "1-URGENT" AS INT) pays exception cost on
    // every row. For STRING sources probed against integral/decimal
    // targets, a codegen'd regexp first rejects values containing
    // characters no numeric literal can hold; the short-circuited OR
    // means try_cast only runs on rows that parse cleanly (no exception)
    // or are genuine edge cases (overflow). Float/double targets skip
    // the guard ('NaN'/'Infinity' ARE castable); non-string sources
    // must too — their STRING RENDERING is not what try_cast parses
    // (boolean true -> "true" casts to INT as 1; timestamps render
    // with ':'), so the regexp would flag rows the cast accepts.
    private val integralOrDecimal =
      Set("tinyint", "smallint", "int", "integer", "bigint", "long")
        .contains(targetType.toLowerCase) ||
        targetType.toLowerCase.startsWith("decimal")
    def violation: Column =
      col(column).isNotNull && expr(s"try_cast($column AS $targetType)").isNull
    override def violation(schema: org.apache.spark.sql.types.StructType): Column = {
      val isStringSource = schema.fields
        .find(_.name == column).exists(_.dataType ==
          org.apache.spark.sql.types.StringType)
      if (integralOrDecimal && isStringSource) {
        // \x00-\x20 (not \s): Spark's cast trims EVERY char <= 0x20
        val impossible = col(column).rlike("[^0-9+\\-.eE\\x00-\\x20]")
        col(column).isNotNull &&
          (impossible || expr(s"try_cast($column AS $targetType)").isNull)
      } else violation
    }
  }

  /** ref dq_rule_examples.py:537 check_date_format — string must parse
    * with the (engine-native) datetime `format` pattern.
    */
  final case class DateFormat(id: String, column: String, format: String,
                              maxViolationPct: Double = 0.0) extends Rule {
    val ruleType = "validity"; val colName = column
    def violation: Column =
      col(column).isNotNull && try_to_timestamp(col(column), lit(format)).isNull
  }

  /** ref dq_rule_examples.py: cross_field / date_sequence / sum_equals /
    * calculated_field — any boolean Column over the row; violation when
    * the expectation does not hold (null-safe: null => violation, like
    * the reference's failed eval).
    */
  final case class CrossField(id: String, name: String, expectation: Column,
                              maxViolationPct: Double = 0.0) extends Rule {
    val ruleType = "consistency"; val colName = name
    def violation: Column = !coalesce(expectation, lit(false))
  }

  /** ref dq_rule_examples.py: check_future_dates — rows stamped after
    * `asOf` violate.
    */
  final case class NoFutureDates(id: String, column: String, asOf: String,
                                 maxViolationPct: Double = 0.0) extends Rule {
    val ruleType = "freshness"; val colName = column
    def violation: Column = col(column) > lit(asOf).cast("timestamp")
  }

  /** JSON rules front-end — the reference's DQEngine takes its rule
    * sets as config dicts (dq_engine.py:73-135: completeness /
    * validity / consistency lists); this parses that shape into the
    * [[Rule]] ADT so a config document drives the same ONE-pass fused
    * [[check]]. The consistency `condition` string is a Spark SQL
    * boolean expression (the reference uses python `eval`; a SQL
    * expression is the declarative, injection-bounded equivalent).
    *
    * {{{
    * {"rules": [
    *   {"rule_id": "c1", "type": "completeness", "column": "x", "threshold": 5},
    *   {"rule_id": "v1", "type": "range", "column": "x", "min": 0, "max": 10},
    *   {"rule_id": "v2", "type": "pattern", "column": "s", "pattern": "^A"},
    *   {"rule_id": "v3", "type": "allowed_values", "column": "s", "values": ["A", "B"]},
    *   {"rule_id": "x1", "type": "consistency", "name": "a_le_b", "condition": "a <= b"}
    * ]}
    * }}}
    */
  def rulesFromJson(json: String): Seq[Rule] =
    rulesFromNode(JsonCfg.read(json, "rule config"))

  /** The `rules` array of a rule config or of a job's quality section:
    * non-empty, since a rule-less gate or quarantine split checks nothing.
    */
  private[graft] def rulesFromNode(root: JsonNode): Seq[Rule] = {
    import JsonCfg.{num, str}
    JsonCfg.nonEmptyObjects(root, "rules", "rule config").map { r =>
      val id = str(r, "rule_id", "rule")
      val ctx = s"rule $id"
      def text(f: String): String = str(r, f, ctx)
      val pct = num.opt(r, "threshold", ctx).getOrElse(0.0)
      // Locale.ROOT: config dispatch must not depend on the JVM locale
      // (tr-TR lowercases "I" to a dotless ı, breaking the match)
      text("type").toLowerCase(java.util.Locale.ROOT) match {
        case "completeness" | "not_null" =>
          NotNull(id, text("column"), pct)
        case "range" =>
          ValueRange(id, text("column"), num(r, "min", ctx), num(r, "max", ctx), pct)
        case "pattern" | "regex" =>
          RegexMatch(id, text("column"), text("pattern"), pct)
        case "allowed_values" =>
          AllowedValues(id, text("column"), JsonCfg.scalars(r, "values", ctx), pct)
        case "consistency" =>
          CrossField(id, str.opt(r, "name", ctx).getOrElse(id),
            expr(text("condition")), pct)
        case "uniqueness" =>
          UniqueKeys(id, JsonCfg.identifiers(r, "columns", ctx), pct)
        case other =>
          throw new IllegalArgumentException(s"unknown rule type '$other' ($id)")
      }
    }
  }

  /** Run every rule in ONE aggregation pass over `df`.
    * Output: (rule_id, rule_type, colname, violations, total, passed).
    */
  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "no rules")
    // coalesce + the total=0 branch: sum() over an EMPTY frame is NULL,
    // which would make violations/passed NULL (and the ratio would
    // divide by zero under ANSI). Zero rows = vacuously clean.
    val aggExprs = rules.map(r =>
      coalesce(r.violationAgg(df.schema), lit(0L)).as(s"__v_${r.id}")) :+
      count(lit(1)).as("__total")
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    val rows = rules.map { r =>
      val v = col(s"__v_${r.id}")
      struct(
        lit(r.id).as("rule_id"),
        lit(r.ruleType).as("rule_type"),
        lit(r.colName).as("colname"),
        v.as("violations"),
        col("__total").as("total"),
        when(col("__total") === 0L, lit(true))
          .otherwise(v * lit(100.0) / col("__total") <= lit(r.maxViolationPct)).as("passed"))
    }
    one.select(inline(array(rows: _*)))
  }

  /** Row-level split into (clean, quarantined) — ref
    * error_recovery.py:345 quarantine_bad_records, driven by the SAME
    * fused rule expressions as [[check]] (a rule violating here is
    * exactly a row counted there; NULL-valued violation predicates
    * count as clean, matching check's `when(violation, 1).otherwise(0)`).
    *
    * The quarantined side carries `failed_rules`: the ids of every
    * rule the row violates, comma-joined in rule declaration order
    * (the reference's per-record `error_reason` string,
    * error_recovery.py:363).
    *
    * Scale shape: ONE shared predicate bundle, evaluated map-side
    * inside codegen — no shuffle, no join, no window. The two frames
    * are two filters over the same scan (each consumer re-scans, both
    * scans columnar + codegen'd); at 100 TB that is strictly cheaper
    * than materializing a tagged intermediate, and Catalyst pushes
    * any downstream predicates straight through the filters into the
    * parquet scan.
    */
  def split(df: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "no rules")
    val aggOnly = rules.filterNot(_.rowLevel).map(_.id)
    require(aggOnly.isEmpty, "split needs per-row rules; aggregate-level " +
      s"rules have no row membership: ${aggOnly.mkString(", ")}")
    val viols = rules.map(r => coalesce(r.violation(df.schema), lit(false)))
    val anyViol = viols.reduce(_ || _)
    val tags = rules.zip(viols).map { case (r, v) => when(v, lit(r.id)) }
    val clean = df.filter(!anyViol)
    val quarantined = df.filter(anyViol)
      .withColumn("failed_rules", concat_ws(",", tags: _*))
    (clean, quarantined)
  }

  /** Quality score over a `check` result — ref dq_engine.py:363-378:
    * 100 * passed / total, with a per-type breakdown.
    * Output: (rule_type, n_rules, n_passed) ∪ ("overall", ...), plus score.
    */
  def score(results: DataFrame): DataFrame = {
    val byType = results.groupBy(col("rule_type")).agg(
      count(lit(1)).as("n_rules"),
      sum(when(col("passed"), 1L).otherwise(0L)).as("n_passed"))
    val overall = results.agg(
      lit("overall").as("rule_type"),
      count(lit(1)).as("n_rules"),
      sum(when(col("passed"), 1L).otherwise(0L)).as("n_passed"))
    byType.unionByName(overall)
      .withColumn("score", col("n_passed") * lit(100.0) / col("n_rules"))
  }

  /** Raised by [[requireQuality]] when a frame fails its gate. */
  final class QualityGateException(val score: Double, val minScore: Double,
                                   val failed: Seq[String])
    extends RuntimeException(
      s"quality score $score < required $minScore; failed rules: ${failed.mkString(", ")}")

  /** DQ gate for pipeline composition — ref tests/integration_tests.py
    * test_dq_threshold_gating semantics: evaluate the rules (one fused
    * agg — the only action), throw when the overall score is below
    * `minScore`, otherwise hand the frame back for further
    * composition.
    */
  def requireQuality(df: DataFrame, rules: Seq[Rule], minScore: Double): DataFrame = {
    gateFromResults(check(df, rules).collect(), minScore)
    df
  }

  /** The gate decision alone, from an already-collected [[check]]
    * report — ONE shared definition of score + failed-rule
    * extraction, so callers that need the report anyway (e.g.
    * [[graft.pipeline.Job]]) gate without a second evaluation pass.
    */
  def gateFromResults(results: Array[org.apache.spark.sql.Row],
                      minScore: Double): Unit = {
    val passed = results.count(_.getAs[Boolean]("passed"))
    val scoreVal = passed * 100.0 / results.length
    if (scoreVal < minScore)
      throw new QualityGateException(scoreVal, minScore,
        results.filterNot(_.getAs[Boolean]("passed")).map(_.getString(0)).toSeq)
  }

  /** Per-column profiling in one pass — ref dq_engine.py:45-67.
    * `numericCols` get min/max/mean/std (order-independent decimal-exact
    * moments, see [[graft.functions.Det]]); all listed columns get
    * count/null/distinct. Exact distinct over many columns expands the
    * single pass by #cols (Spark's multi-countDistinct EXPAND); at
    * 100 TB prefer `approxDistinct = true` (HLL, single scan, no expand).
    * Output: (colname, n_rows, null_count, null_pct, distinct_cnt,
    *          min_val, max_val, mean_val, std_val).
    */
  def profile(df: DataFrame, numericCols: Seq[String], otherCols: Seq[String] = Nil,
              scale: Int = 2, approxDistinct: Boolean = false): DataFrame = {
    val cols = numericCols ++ otherCols
    // Exact mode: multiple countDistinct aggs in one pass plan as an
    // Expand — the input re-emitted once PER distinct column, a
    // |cols|+1× map-side row multiplication (measured 2.6 s vs 0.7 s
    // on the 5-column gate profile). Instead the exact cardinalities
    // and non-null totals come from one explode + two-level hash
    // aggregation over (column, value) pairs — partial-agg compressed,
    // no Expand — and only the non-expanding scalar aggregates stay in
    // the wide pass. Approx mode keeps the true single pass:
    // approx_count_distinct is an ordinary (sketch) aggregate with no
    // Expand, which is the 100 TB path anyway.
    val aggExprs = (if (approxDistinct) cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        approx_count_distinct(col(c)).as(s"__d_$c"))
    } else Nil) ++ numericCols.flatMap { c =>
      Seq(
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"),
        Det.meanAt(col(c), scale).as(s"__mean_$c"),
        Det.stddevAt(col(c), scale).as(s"__std_$c"))
    } :+ count(lit(1)).as("__total")
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    val rows = cols.map { c =>
      val numeric = numericCols.contains(c)
      val head: Seq[Column] = if (approxDistinct) Seq(
        lit(c).as("colname"),
        col("__total").as("n_rows"),
        (col("__total") - col(s"__nn_$c")).as("null_count"),
        ((col("__total") - col(s"__nn_$c")) * lit(100.0) / col("__total")).as("null_pct"),
        col(s"__d_$c").as("distinct_cnt"))
      else Seq(lit(c).as("colname"), col("__total").as("n_rows"))
      struct(
        (head ++ Seq(
          (if (numeric) col(s"__min_$c") else lit(null).cast("double")).as("min_val"),
          (if (numeric) col(s"__max_$c") else lit(null).cast("double")).as("max_val"),
          // rounded: beyond ~2^53 units the exact decimal sum no longer
          // fits a double, and engines may round the cast differently in
          // the last ulp — fix the displayed precision instead
          (if (numeric) round(col(s"__mean_$c"), 6) else lit(null).cast("double")).as("mean_val"),
          (if (numeric) round(col(s"__std_$c"), 6) else lit(null).cast("double")).as("std_val"))): _*)
    }: Seq[Column]
    val scalar = one.select(inline(array(rows: _*)))
    if (approxDistinct)
      scalar.select("colname", "n_rows", "null_count", "null_pct", "distinct_cnt",
        "min_val", "max_val", "mean_val", "std_val")
    else
      scalar.join(broadcast(colCardinalities(df, cols)), Seq("colname"), "left")
        .select(
          col("colname"), col("n_rows"),
          (col("n_rows") - coalesce(col("__nn"), lit(0L))).as("null_count"),
          ((col("n_rows") - coalesce(col("__nn"), lit(0L))) * lit(100.0) / col("n_rows")).as("null_pct"),
          coalesce(col("__card"), lit(0L)).as("distinct_cnt"),
          col("min_val"), col("max_val"), col("mean_val"), col("std_val"))
  }

  /** Value rendering for the pair-counts passes — must be INJECTIVE so
    * string-keyed grouping agrees with value-keyed countDistinct:
    *  - fractional -0.0 normalizes to 0.0 first (the engines' GROUP
    *    BY/DISTINCT treat the two zeros as one value; their strings
    *    differ);
    *  - binary renders as hex (a lossy UTF-8 cast would merge distinct
    *    byte strings that are not valid UTF-8);
    *  - arrays/structs/maps render as JSON (their display casts are
    *    ambiguous under delimiter collisions). Known limit: a NESTED
    *    fractional -0.0 still renders "-0.0" while value-keyed
    *    grouping normalizes it — exact-distinct parity for complex
    *    columns holds only without nested negative zeros.
    * Rendering-parity envelope for SQL oracles over DOUBLE columns:
    * Spark switches to scientific notation at 1e7, DuckDB much later —
    * keep oracle-profiled double columns under 1e7 in magnitude.
    */
  private def valueStr(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType => (col(c) + lit(0)).cast("string")
    case org.apache.spark.sql.types.BinaryType => hex(col(c))
    case _: org.apache.spark.sql.types.ArrayType |
         _: org.apache.spark.sql.types.StructType |
         _: org.apache.spark.sql.types.MapType => to_json(col(c))
    case _                                     => col(c).cast("string")
  }

  /** Exact per-column cardinality + non-null total from ONE explode +
    * two hash aggregations — the no-Expand alternative to N
    * countDistinct aggs. Output: (colname, __card, __nn).
    */
  private def colCardinalities(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), valueStr(df, c).as("value"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.value").as("value"))
      .filter(col("value").isNotNull)
      .groupBy("col_name", "value").agg(count(lit(1)).as("__n"))
      .groupBy(col("col_name").as("colname"))
      .agg(count(lit(1)).as("__card"), sum(col("__n")).as("__nn"))

  /** One-call profile with the reference's value_counts attached —
    * profile_data surfaces top value counts alongside the scalar stats
    * (ref dq_rule_examples.py:711); this is [[profile]] plus, per
    * column: the top-k values as a rank-ordered "value:n" list, the
    * heaviest value's share of the column's non-null rows, and that
    * share × distinct count — [[keySkew]]'s ratio-to-mean-weight
    * signal, computed from numbers already on the row (no extra pass).
    * Cost on top of [[profile]]'s single agg is exactly [[topValues]]'s
    * two exchanges; the merge back is a broadcast of ≤ |cols| rows.
    */
  def profileFull(df: DataFrame, numericCols: Seq[String],
                  otherCols: Seq[String] = Nil, scale: Int = 2,
                  k: Int = 5, maxDistinct: Long = 0L): DataFrame = {
    val cols = numericCols ++ otherCols
    // maxDistinct > 0: probe each column's cardinality once (HLL, one
    // agg, no expand) and route columns past the cap through the
    // salted two-stage ranking — the single-window path would move a
    // whole column's distinct set into ONE partition to rank it, which
    // is the plan's only scale ceiling (PLANS.md r10 trade-off note,
    // now self-guarding instead of caller-guarded). Identical output
    // either way; 0 keeps today's plan.
    val ranked =
      if (maxDistinct <= 0L) topKCounts(df, cols, k)
      else {
        val probe = df.agg(
          approx_count_distinct(col(cols.head)).as(cols.head),
          cols.tail.map(c => approx_count_distinct(col(c)).as(c)): _*).head()
        val (big, small) = cols.partition(c => probe.getAs[Long](c) > maxDistinct)
        val parts =
          (if (small.nonEmpty) Seq(topKCounts(df, small, k)) else Nil) ++
          (if (big.nonEmpty) Seq(topKCountsSalted(df, big, k)) else Nil)
        parts.reduce(_ unionByName _)
      }
    // [[profile]]'s exact countDistinct per column plans as an Expand —
    // the input is re-emitted once PER distinct-agg, a |cols|+1×
    // row multiplication through the first shuffle. Here the per-value
    // counts frame already exists for the top-k ranking, and it carries
    // everything countDistinct would have computed: distinct_cnt =
    // rows per col_name, non-null total = sum(n). So the scalar pass
    // keeps only the non-expanding aggregates (count + numeric
    // moments) and the distinct/null/top columns all ride the ONE
    // counts aggregation — same output, no Expand anywhere.
    val counts = ranked
      .groupBy(col("col_name").as("colname"))
      .agg(
        first(col("distinct_cnt")).as("distinct_cnt"),
        first(col("nn")).as("__nn"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rk") <= k,
              struct(col("rk"), concat_ws(":", col("value"), col("n")).as("s"))))),
            x => x.getField("s")),
          ",").as("top_values"),
        max(when(col("rk") === 1, round(col("n") / col("nn"), 6))).as("top_share"))
    val aggExprs = numericCols.flatMap { c =>
      Seq(
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"),
        Det.meanAt(col(c), scale).as(s"__mean_$c"),
        Det.stddevAt(col(c), scale).as(s"__std_$c"))
    } :+ count(lit(1)).as("__total")
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    val rows = cols.map { c =>
      val numeric = numericCols.contains(c)
      struct(
        lit(c).as("colname"),
        col("__total").as("n_rows"),
        (if (numeric) col(s"__min_$c") else lit(null).cast("double")).as("min_val"),
        (if (numeric) col(s"__max_$c") else lit(null).cast("double")).as("max_val"),
        (if (numeric) round(col(s"__mean_$c"), 6) else lit(null).cast("double")).as("mean_val"),
        (if (numeric) round(col(s"__std_$c"), 6) else lit(null).cast("double")).as("std_val"))
    }
    one.select(inline(array(rows: _*)))
      .join(broadcast(counts), Seq("colname"), "left")
      .select(
        col("colname"), col("n_rows"),
        // an all-null column has no counts row at all — its non-null
        // total coalesces to 0, like profile's count(col)
        (col("n_rows") - coalesce(col("__nn"), lit(0L))).as("null_count"),
        ((col("n_rows") - coalesce(col("__nn"), lit(0L))) * lit(100.0) / col("n_rows")).as("null_pct"),
        coalesce(col("distinct_cnt"), lit(0L)).as("distinct_cnt"),
        col("min_val"), col("max_val"), col("mean_val"), col("std_val"),
        col("top_values"), col("top_share"),
        round(col("top_share") * coalesce(col("distinct_cnt"), lit(0L)), 6).as("top_ratio"))
  }

  /** The shared counts core of [[topValues]]/[[profileFull]]: per
    * (column, value) counts with rank, plus each column's distinct
    * count and non-null total carried on every row (computed inside
    * the same ranking window pass — no second aggregation of the
    * counts frame, no broadcast join back).
    */
  private def topKCounts(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    require(k >= 1, s"k must be >= 1, got $k")
    val pairs = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), valueStr(df, c).as("value"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.value").as("value"))
      .filter(col("value").isNotNull)
    val counts = pairs.groupBy("col_name", "value").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("col_name"))
      .orderBy(col("n").desc, col("value").asc)
    val wAll = Window.partitionBy(col("col_name"))
    counts
      .withColumn("rk", row_number().over(w))
      .withColumn("distinct_cnt", count(lit(1)).over(wAll))
      .withColumn("nn", sum(col("n")).over(wAll))
  }

  /** [[topKCounts]] without its scale ceiling: same output shape and
    * values, but the ranking never moves a whole column's distinct
    * value set into one partition. Each (column, value) count lives in
    * exactly ONE salt bucket and the counts are already GLOBAL after
    * the first hash aggregation, so the union of per-(column, salt)
    * top-ks provably contains the global top-k; the final rank then
    * runs over ≤ saltBuckets × k candidate rows per column — bounded
    * by construction. distinct_cnt / non-null totals come from a plain
    * hash agg on the same counts frame (map-side combinable, no
    * window), broadcast back (≤ |cols| rows).
    */
  private def topKCountsSalted(df: DataFrame, cols: Seq[String], k: Int,
                               saltBuckets: Int = 64): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    require(k >= 1, s"k must be >= 1, got $k")
    // candidates + cardinalities: a pin the caller's scope owns
    val counts = graft.GraftSession.pin(df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), valueStr(df, c).as("value"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.value").as("value"))
      .filter(col("value").isNotNull)
      .groupBy("col_name", "value").agg(count(lit(1)).as("n")))
    val w1 = Window
      .partitionBy(col("col_name"),
        pmod(xxhash64(col("value")), lit(saltBuckets)))
      .orderBy(col("n").desc, col("value").asc)
    val w2 = Window.partitionBy(col("col_name"))
      .orderBy(col("n").desc, col("value").asc)
    val card = counts.groupBy("col_name")
      .agg(count(lit(1)).as("distinct_cnt"), sum(col("n")).as("nn"))
    counts
      .withColumn("__rk1", row_number().over(w1))
      .filter(col("__rk1") <= k).drop("__rk1")
      .withColumn("rk", row_number().over(w2))
      .join(broadcast(card), Seq("col_name"))
  }

  /** Quantile profile — one aggregation pass over all columns. At
    * `approx = true` (the 100 TB path) each column uses the
    * Greenwald-Khanna sketch behind `approx_percentile`: memory is
    * O(1/accuracy · log n) per column instead of a full-column sort,
    * and the pass stays a single map-side-combinable aggregation.
    * Exact mode (`approx = false`) is for oracle parity at test scale.
    * Output: (colname, one column per requested prob).
    */
  def quantileProfile(df: DataFrame, cols: Seq[String],
                      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
                      approx: Boolean = true,
                      accuracy: Int = 10000): DataFrame = {
    require(cols.nonEmpty && probs.nonEmpty, "need columns and probs")
    val probsArr = array(probs.map(lit): _*)
    val aggExprs = cols.map { c =>
      (if (approx) percentile_approx(col(c), probsArr, lit(accuracy))
       else expr(s"percentile($c, array(${probs.mkString(",")}))"))
        .as(s"__q_$c")
    }
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("colname") +: probs.zipWithIndex.map { case (p, i) =>
        element_at(col(s"__q_$c"), i + 1).cast("double")
          .as(s"p${(p * 100).round}")
      }: _*)
    }
    one.select(inline(array(rows: _*)))
  }

  /** [[quantileProfile]]'s exact mode without its scale ceiling: the
    * same output (colname, one column per prob) with EXACT values, but
    * computed through [[graft.functions.Quantiles.exactQuantiles]] —
    * all columns × probs fused into three bounded full scans (sketch
    * bracket → exact rank count → sliver-only sort) instead of native
    * `percentile`'s buffer-every-value single reducer. The 100 TB path
    * when the profile must be exact rather than sketch-approximate.
    */
  def quantileProfileBounded(df: DataFrame, cols: Seq[String],
                             probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
                             bracketEps: Double = 0.002,
                             accuracy: Int = 2000): DataFrame = {
    require(cols.nonEmpty && probs.nonEmpty, "need columns and probs")
    val res = graft.functions.Quantiles
      .exactQuantiles(df, cols.flatMap(c => probs.map(c -> _)), bracketEps, accuracy)
      .toMap
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("colname",
        org.apache.spark.sql.types.StringType, nullable = false) +:
      probs.map(p => org.apache.spark.sql.types.StructField(
        s"p${(p * 100).round}", org.apache.spark.sql.types.DoubleType)))
    val rows = cols.map { c =>
      org.apache.spark.sql.Row.fromSeq(
        c +: probs.map(p => res((c, p)).map(Double.box).orNull))
    }
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Primary-key / duplicate-row check in one pass — ref
    * dq_rule_examples.py: check_primary_key_unique / duplicate_rows.
    * Output: (keyname, total, distinct_cnt, dup_count, passed).
    */
  def uniqueness(df: DataFrame, keys: Seq[String], keyName: String = ""): DataFrame = {
    val name = if (keyName.nonEmpty) keyName else keys.mkString(",")
    val d = countDistinct(keys.map(col).head, keys.map(col).tail: _*)
    df.agg(count(lit(1)).as("total"), d.as("distinct_cnt"))
      .select(
        lit(name).as("keyname"), col("total"), col("distinct_cnt"),
        (col("total") - col("distinct_cnt")).as("dup_count"),
        (col("total") === col("distinct_cnt")).as("passed"))
  }

  /** Referential integrity — ref dq_rule_examples.py:737. Orphan =
    * child row whose key has no parent. One left join against the
    * DISTINCT parent keys (duplicate-safe) + one agg; at scale the
    * distinct parent-key frame is usually dim-sized → `broadcastParent`.
    * Output: (rel, child_rows, orphans, passed).
    */
  def refIntegrity(child: DataFrame, childKey: String,
                   parent: DataFrame, parentKey: String,
                   relName: String, broadcastParent: Boolean = false): DataFrame = {
    val pk = parent.select(col(parentKey)).distinct()
      .withColumn("__present", lit(1))
    val p = if (broadcastParent) broadcast(pk) else pk
    child.select(col(childKey))
      .join(p, col(childKey) === col(parentKey), "left")
      .agg(count(lit(1)).as("child_rows"),
           sum(when(col("__present").isNull, 1L).otherwise(0L)).as("orphans"))
      .select(lit(relName).as("rel"), col("child_rows"), col("orphans"),
              (col("orphans") === 0L).as("passed"))
  }

  /** Freshness — ref dq_rule_examples.py:1073: newest row must be within
    * `maxLagDays` of `asOf`, and nothing may be stamped after `asOf`.
    * Output: (max_ts, future_cnt, lag_days, passed).
    */
  def freshness(df: DataFrame, tsCol: String, asOf: String, maxLagDays: Int): DataFrame = {
    val asOfTs = lit(asOf).cast("timestamp")
    df.agg(
        max(col(tsCol)).as("max_ts"),
        sum(when(col(tsCol) > asOfTs, 1L).otherwise(0L)).as("future_cnt"))
      .select(
        col("max_ts"), col("future_cnt"),
        datediff(asOfTs.cast("date"), col("max_ts").cast("date")).cast("long").as("lag_days"),
        (col("future_cnt") === 0L &&
          datediff(asOfTs.cast("date"), col("max_ts").cast("date")) <= maxLagDays).as("passed"))
  }

  /** Statistical-distribution check — ref dq_rule_examples.py:980:
    * bucket the column by `edges` and compare observed counts against
    * `expectedProbs` with a chi-square statistic (one fused agg pass;
    * rows outside the edges are ignored, like the reference's binned
    * histogram). passed = chi2 <= critical.
    * Output: (colname, n, chi2, passed).
    */
  def distribution(df: DataFrame, column: String, edges: Seq[Double],
                   expectedProbs: Seq[Double], critical: Double): DataFrame = {
    require(edges.size >= 2 && expectedProbs.size == edges.size - 1)
    val c = col(column)
    val bucketCounts = edges.sliding(2).toSeq.zipWithIndex.map { case (Seq(lo, hi), i) =>
      sum(when(c >= lo && c < hi, 1L).otherwise(0L)).as(s"__b$i")
    }
    val one = df.agg(bucketCounts.head, bucketCounts.tail: _*)
    val n = expectedProbs.indices.map(i => col(s"__b$i")).reduce(_ + _).cast("double")
    val chi2 = expectedProbs.zipWithIndex.map { case (p, i) =>
      val exp = n * lit(p)
      (col(s"__b$i") - exp) * (col(s"__b$i") - exp) / exp
    }.reduce(_ + _)
    one.select(lit(column).as("colname"), n.cast("long").as("n"),
      chi2.as("chi2"), (chi2 <= critical).as("passed"))
  }

  /** Pearson correlation with order-independent decimal-exact moments —
    * ref dq_rule_examples.py:1034 (check_correlation). Both engines
    * evaluate the identical IEEE expression over exact sums, so the
    * result hash-matches (plain `corr()` would not: its accumulation
    * order differs per engine/partitioning).
    * Output: (pair, n, corr_val).
    */
  def correlation(df: DataFrame, x: String, y: String, scale: Int = 4): DataFrame =
    df.agg(
        count(lit(1)).as("n"),
        Det.sumAt(col(x), scale).as("__sx"),
        Det.sumAt(col(y), scale).as("__sy"),
        Det.sumAt(col(x) * col(y), scale).as("__sxy"),
        Det.sumAt(col(x) * col(x), scale).as("__sxx"),
        Det.sumAt(col(y) * col(y), scale).as("__syy"))
      .select(
        lit(s"$x~$y").as("pair"), col("n"), {
          val denom = sqrt(col("n") * col("__sxx") - col("__sx") * col("__sx")) *
            sqrt(col("n") * col("__syy") - col("__sy") * col("__sy"))
          // round(10): last-ulp decimal→double cast drift on >2^53-unit
          // sums would otherwise leak into the ratio
          when(denom =!= 0.0,
            round((col("n") * col("__sxy") - col("__sx") * col("__sy")) / denom, 10))
            .as("corr_val")
        })

  /** All-pairs correlation matrix in ONE aggregation — the reference
    * checks column pairs one query each (dq consistency checks); for
    * m profiled columns the m sums, m squares and m(m-1)/2 cross
    * products fuse into a single map-side-combinable decimal-exact
    * pass, and the matrix unpacks from the one stats row (an explode
    * over literal pair structs — no second scan). Same formula and
    * rounding as [[correlation]], so a pair's matrix entry equals its
    * standalone value bit-for-bit.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String],
                        scale: Int = 4): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs >= 2 columns")
    require(cols.distinct.size == cols.size, "duplicate columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs =
      cols.map(c => Det.sumAt(col(c), scale).as(s"__s_$c")) ++
        cols.map(c => Det.sumAt(col(c) * col(c), scale).as(s"__q_$c")) ++
        pairs.map { case (a, b) =>
          Det.sumAt(col(a) * col(b), scale).as(s"__p_${a}_$b")
        }
    val stats = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val entries = pairs.map { case (a, b) =>
      val n = col("__n")
      val denom =
        sqrt(n * col(s"__q_$a") - col(s"__s_$a") * col(s"__s_$a")) *
          sqrt(n * col(s"__q_$b") - col(s"__s_$b") * col(s"__s_$b"))
      struct(lit(a).as("col_a"), lit(b).as("col_b"), n.as("n"),
        when(denom =!= 0.0,
          round((n * col(s"__p_${a}_$b") - col(s"__s_$a") * col(s"__s_$b")) /
            denom, 10)).as("corr_val"))
    }
    stats.select(explode(array(entries: _*)).as("__r")).select(col("__r.*"))
  }

  /** Join/partition-key skew profile: the `topN` heaviest key values
    * with their row share and ratio to the mean key weight — the
    * number that says whether a key needs [[graft.operators.Ops.saltedJoin]]
    * or AQE skew handling before it becomes the straggler task at
    * scale. One hash aggregation (map-side combined), a two-scalar
    * broadcast for the totals, and a distributed TakeOrdered for the
    * top slice — the fact table never sorts globally.
    * Output: (keyCols..., n, share, ratio_to_avg), heaviest first,
    * ties broken by the key columns ascending.
    */
  /** Per-column top-k frequent values — the profiling companion to
    * [[profile]]'s scalar stats and the multi-column generalization of
    * [[keySkew]] (ref dq_rule_examples.py:711 ranks value_counts to
    * sample duplicate failures; this is that screen as a first-class
    * profile over any column set). ONE pass: each row emits one
    * (col_name, value) pair per profiled column via a literal-array
    * explode (map-side, no per-column scans), one hash aggregation
    * counts them, and the `row_number <= k` filter is a
    * WindowGroupLimit — map tasks pre-prune to their local top-k per
    * column before the RANKING exchange, which therefore carries ~k
    * rows per upstream partition. (The counting aggregation before it
    * still shuffles every distinct (column, value) pair once —
    * partial-agg compressed, but a billion-distinct column's tail does
    * cross the wire there; only the second exchange is capped.) Shares are
    * against the column's non-null total, a |cols|-row broadcast
    * derived from the counts themselves (no second scan of `df`).
    * Output: (col_name, value, n, share, rk), heaviest first, ties by
    * value ascending.
    */
  def topValues(df: DataFrame, cols: Seq[String], k: Int = 10): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    require(k >= 1, s"k must be >= 1, got $k")
    // valueStr (not a bare string cast) so this profiler and
    // [[profileFull]] agree on value identity (-0.0, binary, nested);
    // the pipeline is otherwise deliberately NOT topKCounts — that
    // variant adds full-partition cardinality windows which defeat the
    // WindowGroupLimit pre-prune this one keeps
    val pairs = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), valueStr(df, c).as("value"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.value").as("value"))
      .filter(col("value").isNotNull)
    val counts = pairs.groupBy("col_name", "value").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("col_name").agg(sum(col("n")).as("__total"))
    val w = Window.partitionBy(col("col_name"))
      .orderBy(col("n").desc, col("value").asc)
    counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .join(broadcast(totals), Seq("col_name"))
      .withColumn("share", round(col("n") / col("__total"), 6))
      .select("col_name", "value", "n", "share", "rk")
  }

  def keySkew(df: DataFrame, keyCols: Seq[String], topN: Int = 10): DataFrame = {
    require(keyCols.nonEmpty && topN >= 1, "need key columns and topN >= 1")
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
    withBroadcastTotals(counts,
      sum(col("n")).as("__total"), count(lit(1)).as("__nkeys"))
      .withColumn("share", round(col("n") / col("__total"), 6))
      // divide BEFORE multiplying: n * nkeys as long math overflows
      // 2^63 exactly at the hot-key-on-a-huge-table scale this
      // profiler exists for (the oracle uses the same shape)
      .withColumn("ratio_to_avg", round(col("n") / col("__total") * col("__nkeys"), 6))
      .orderBy(col("n").desc +: keyCols.map(col(_).asc): _*)
      .limit(topN)
      .drop("__total", "__nkeys")
  }

  /** Attach a grouped frame's own single-row totals via a broadcast
    * cross join — the shared tail of keySkew/entropy-style profiles
    * (the totals frame is 1 row; the grouped frame never re-shuffles).
    * `counts` feeds both the totals agg and the join, with different
    * columns pruned on each side, which defeats ReuseExchange — the
    * pin (the caller's scope's) collapses the two grouped-aggregation
    * runs into one.
    */
  private def withBroadcastTotals(counts: DataFrame, totals: Column*): DataFrame = {
    val c = graft.GraftSession.pin(counts)
    c.crossJoin(broadcast(c.agg(totals.head, totals.tail: _*)))
  }

  /** Shannon entropy of a column's value distribution (bits) — the
    * concentration profile: 0 for a constant column, log2(k) for a
    * uniform one over k values. One hash agg on the value (shuffle is
    * O(distinct values)) + a 1-row total broadcast back; the per-value
    * terms sum in exact decimal, so the result is order-independent.
    * Nulls are excluded; an empty or all-null input reports n_values=0
    * with entropy null (no distribution to measure — the same null
    * contract as the drift screens).
    * Output: (colname, n_values, entropy).
    */
  def entropy(df: DataFrame, column: String): DataFrame = {
    val counts = df.filter(col(column).isNotNull)
      .groupBy(col(column)).agg(count(lit(1)).as("__n"))
    val p = col("__n").cast("double") / col("__t").cast("double")
    withBroadcastTotals(counts, sum(col("__n")).as("__t"))
      .withColumn("__term", -p * log2(p))
      .agg(count(lit(1)).as("n_values"),
        round(Det.sumAt(col("__term"), 12), 6).as("entropy"))
      .select(lit(column).as("colname"), col("n_values"), col("entropy"))
  }

  /** Population Stability Index between two snapshots of a numeric
    * column (distribution-drift screen; standard rule of thumb:
    * < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 major shift).
    * PSI = Σ (p_cur - p_ref) · ln(p_cur / p_ref) over fixed buckets;
    * zero-count buckets are floored at `eps` mass, the usual PSI
    * smoothing. One single-row aggregation per side (map-side
    * partial), one 1×1 join — neither table shuffles.
    * Output: (colname, n_ref, n_cur, psi, drifted). Counts are always
    * populated; psi and drifted are null when either snapshot is
    * empty (no distribution to compare).
    */
  def psi(reference: DataFrame, current: DataFrame, column: String,
          edges: Seq[Double], threshold: Double = 0.25,
          eps: Double = 1e-4): DataFrame = {
    require(edges.size >= 2, "need at least two bucket edges")
    val joined = driftBuckets(reference, current, edgePreds(column, edges))
    val nBuckets = edges.size - 1
    val nR = driftCount("r", nBuckets).cast("double")
    val nC = driftCount("c", nBuckets).cast("double")
    val score = when(nR > 0.0 && nC > 0.0,
      round(psiTerms(nBuckets, nR, nC, eps).reduce(_ + _), 6))
    driftSelect(joined, column, nR, nC, "psi", score, score > threshold)
  }

  /** The shared two-snapshot bucket scaffolding behind the drift
    * screens: one single-row aggregation per side over the bucket
    * predicates (map-side partial), then a 1×1 broadcast cross join —
    * neither table shuffles.
    */
  private def driftBuckets(reference: DataFrame, current: DataFrame,
                           preds: Seq[Column]): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame = {
      val buckets = preds.zipWithIndex.map { case (p, i) =>
        sum(when(p, 1L).otherwise(0L)).as(s"__$tag$i")
      }
      df.agg(buckets.head, buckets.tail: _*)
    }
    side(reference, "r").crossJoin(broadcast(side(current, "c")))
  }

  // a global agg over an EMPTY frame yields null sums, not 0 — the
  // counts must still come out 0 (the score/flag stay null: there is
  // no distribution to compare)
  private def driftCount(tag: String, n: Int): Column =
    (0 until n).map(i => coalesce(col(s"__$tag$i"), lit(0L))).reduce(_ + _)

  private def edgePreds(column: String, edges: Seq[Double]): Seq[Column] =
    edges.sliding(2).toSeq.map { case Seq(lo, hi) =>
      col(column) >= lo && col(column) < hi
    }

  // an empty snapshot would send 0/0 = NaN through the smoothing
  // floor (NaN compares greater) — callers null-guard on the counts
  private def psiTerms(nBuckets: Int, nR: Column, nC: Column,
                       eps: Double): Seq[Column] =
    (0 until nBuckets).map { i =>
      val pR = greatest(col(s"__r$i").cast("double") / nR, lit(eps))
      val pC = greatest(col(s"__c$i").cast("double") / nC, lit(eps))
      (pC - pR) * log(pC / pR)
    }

  private def driftSelect(joined: DataFrame, column: String, nR: Column,
                          nC: Column, scoreName: String, score: Column,
                          flag: Column): DataFrame =
    joined.select(lit(column).as("colname"),
      nR.cast("long").as("n_ref"), nC.cast("long").as("n_cur"),
      score.as(scoreName), flag.as("drifted"))

  /** Categorical PSI: the [[psi]] drift screen over an explicit
    * category list instead of numeric buckets (values outside
    * `categories` are ignored, like out-of-edge rows in the numeric
    * form). Same sort-free plan shape and null contract.
    * Output: (colname, n_ref, n_cur, psi, drifted).
    */
  def psiCategorical(reference: DataFrame, current: DataFrame, column: String,
                     categories: Seq[String], threshold: Double = 0.25,
                     eps: Double = 1e-4): DataFrame = {
    require(categories.nonEmpty, "need at least one category")
    val joined = driftBuckets(reference, current,
      categories.map(v => col(column) === v))
    val nR = driftCount("r", categories.size).cast("double")
    val nC = driftCount("c", categories.size).cast("double")
    val score = when(nR > 0.0 && nC > 0.0,
      round(psiTerms(categories.size, nR, nC, eps).reduce(_ + _), 6))
    driftSelect(joined, column, nR, nC, "psi", score, score > threshold)
  }

  /** Benford's-law first-digit screen (fraud / fabricated-data
    * detection): chi-square of the observed leading-digit distribution
    * of positive values against log10(1 + 1/d). The digit comes from
    * the decimal string of floor(x) (floor(log10) would re-derive it
    * numerically with edge-case drift at powers of ten). Values in
    * [1, 2^63) are screened; beyond long range the non-ANSI cast would
    * saturate and miscount under digit 9, so such rows are excluded
    * (like sub-1 values). One map-side agg; passed = chi2 <= critical.
    * Output: (colname, n, chi2, passed).
    */
  def benford(df: DataFrame, column: String, critical: Double = 100.0): DataFrame = {
    val digit = substring(floor(col(column)).cast("long").cast("string"), 1, 1)
    val inScope = col(column) >= 1.0 && col(column) < 9.0e18
    val buckets = (1 to 9).map(d =>
      sum(when(inScope && digit === d.toString, 1L).otherwise(0L)).as(s"__d$d"))
    val one = df.agg(buckets.head, buckets.tail: _*)
    val n = (1 to 9).map(d => coalesce(col(s"__d$d"), lit(0L))).reduce(_ + _).cast("double")
    val chi2 = (1 to 9).map { d =>
      val p = benfordP(d)
      val e = n * lit(p)
      (col(s"__d$d") - e) * (col(s"__d$d") - e) / e
    }.reduce(_ + _)
    val score = when(n > 0.0, round(chi2, 4))
    one.select(lit(column).as("colname"), n.cast("long").as("n"),
      score.as("chi2"), (score <= critical).as("passed"))
  }

  /** Benford probability of leading digit `d` — public so oracle SQL
    * can inject the IDENTICAL double literals.
    */
  def benfordP(d: Int): Double = math.log10(1.0 + 1.0 / d)

  /** Binned two-sample Kolmogorov–Smirnov statistic: the largest CDF
    * gap between two snapshots evaluated at the bucket edges —
    * `max_i |cumR_i/nR - cumC_i/nC|`. The exact KS needs a global sort
    * of both samples (single-partition at scale); evaluating at fixed
    * edges bounds the plan to the same two single-row bucket aggs as
    * [[psi]] — no sort anywhere, and the statistic is exact for the
    * binned distributions. Rows outside the edges are ignored (as in
    * [[distribution]]). Output: (colname, n_ref, n_cur, ks, drifted);
    * counts always populated, ks/drifted null when a snapshot is empty.
    */
  def ksBinned(reference: DataFrame, current: DataFrame, column: String,
               edges: Seq[Double], threshold: Double = 0.1): DataFrame = {
    // 3+ edges: the CDF gap at the LAST edge is |1 - 1| = 0 by
    // construction and is excluded, so a 2-edge call would evaluate
    // nothing and report ks = 0 for any two samples
    require(edges.size >= 3, "need at least three bucket edges (two buckets)")
    val joined = driftBuckets(reference, current, edgePreds(column, edges))
    val nBuckets = edges.size - 1
    def cum(tag: String, i: Int) = driftCount(tag, i + 1)
    val nR = cum("r", nBuckets - 1).cast("double")
    val nC = cum("c", nBuckets - 1).cast("double")
    val gaps = (0 until nBuckets - 1).map { i =>
      abs(cum("r", i).cast("double") / nR - cum("c", i).cast("double") / nC)
    }
    val maxGap = if (gaps.size == 1) gaps.head else greatest(gaps: _*)
    val ks = when(nR > 0.0 && nC > 0.0, round(maxGap, 6))
    driftSelect(joined, column, nR, nC, "ks", ks, ks > threshold)
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic — the unbinned
    * companion to [[ksBinned]] (which stays the 100 TB default):
    * `sup_x |F_ref(x) - F_cur(x)|` evaluated at every observed value,
    * with no global sort and no single-partition window. The same
    * sketch-narrows-where-never-what design as
    * [[graft.functions.Quantiles.exactQuantiles]]:
    *
    *  1. ONE shuffle pools both samples into per-distinct-value counts
    *     (map-side combined — ties collapse before anything sorts);
    *  2. a GK sketch over the distinct values picks `rangeBuckets`
    *     LITERAL range edges (they only balance work across buckets;
    *     the statistic never depends on them), and one bounded
    *     aggregation (`rangeBuckets` rows collected) turns per-bucket
    *     totals into exclusive prefix offsets;
    *  3. each bucket independently sorts ITS values (window partitioned
    *     by bucket ≈ n_distinct/rangeBuckets rows), adds its offset for
    *     the global cumulative counts, and the max |CDF gap| reduces
    *     map-side.
    *
    * Evaluating at every distinct pooled value is exhaustive: both
    * empirical CDFs are right-continuous step functions that only jump
    * there, and a left-limit at any jump equals the CDF at the previous
    * distinct value, which is also evaluated. Output matches
    * [[ksBinned]]: (colname, n_ref, n_cur, ks, drifted); ks/drifted
    * null when a snapshot is empty.
    */
  def ksExact(reference: DataFrame, current: DataFrame, column: String,
              threshold: Double = 0.1, rangeBuckets: Int = 64,
              accuracy: Int = 10000): DataFrame = {
    require(rangeBuckets >= 1, s"rangeBuckets must be >= 1, got $rangeBuckets")
    val spark = reference.sparkSession
    def side(df: DataFrame, r: Int, c: Int) = df
      .select(col(column).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("__v"), lit(r.toLong).as("__r"), lit(c.toLong).as("__c"))
    // consumed by two jobs (offsets, max-gap) + the caller's action
    val pooled = graft.GraftSession.pin(side(reference, 1, 0)
      .unionByName(side(current, 0, 1))
      .groupBy("__v").agg(sum("__r").as("__dr"), sum("__c").as("__dc")))

    val edges: Seq[Double] =
      if (rangeBuckets == 1) Seq.empty
      else {
        val qs = (1 until rangeBuckets).map(_.toDouble / rangeBuckets)
        val row = pooled.agg(expr(
          s"approx_percentile(__v, array(${qs.mkString(",")}), $accuracy)")).head()
        if (row.isNullAt(0)) Seq.empty else row.getSeq[Double](0).distinct
      }
    // literal edge chain → bucket id is deterministic across recomputes
    // (unlike repartitionByRange's sampled ranges)
    val bucket = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(col("__v") > e, 1).otherwise(0)
    }
    val withB = pooled.withColumn("__b", bucket)

    val totals = withB.groupBy("__b")
      .agg(sum("__dr").as("__tr"), sum("__dc").as("__tc"))
      .collect() // bounded: ≤ rangeBuckets rows
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val nR = totals.map(_._2).sum
    val nC = totals.map(_._3).sum
    if (nR == 0L || nC == 0L) {
      pooled.unpersist(blocking = false)
      import spark.implicits._
      return Seq((column, nR, nC)).toDF("colname", "n_ref", "n_cur")
        .withColumn("ks", lit(null).cast("double"))
        .withColumn("drifted", lit(null).cast("boolean"))
    }
    // exclusive prefix offsets per bucket, broadcast back
    val prefixR = totals.scanLeft(0L)(_ + _._2)
    val prefixC = totals.scanLeft(0L)(_ + _._3)
    val offsets = totals.indices.map(i => (totals(i)._1, prefixR(i), prefixC(i)))
    import spark.implicits._
    val offDf = offsets.toDF("__b", "__offr", "__offc")

    val w = Window.partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = abs(
      (sum(col("__dr")).over(w) + col("__offr")).cast("double") / lit(nR.toDouble) -
      (sum(col("__dc")).over(w) + col("__offc")).cast("double") / lit(nC.toDouble))
    // rounding stays in-plan (identical expression shape to the oracle,
    // like ksBinned); `pooled` stays pinned for the caller's action and
    // belongs to the caller's scope, else the session (releaseAll)
    val ks = round(col("__ks"), 6)
    withB.join(broadcast(offDf), "__b")
      .select(gap.as("__gap"))
      .agg(max(col("__gap")).as("__ks"))
      .select(lit(column).as("colname"), lit(nR).as("n_ref"),
        lit(nC).as("n_cur"), ks.as("ks"), (ks > threshold).as("drifted"))
  }

  /** k-anonymity audit over quasi-identifier columns: a dataset is
    * k-anonymous when every combination of the quasi-identifiers is
    * shared by at least `k` rows. Returns one summary row —
    * (n_groups, n_violating, min_group_size, n_rows_at_risk) — from
    * one hash aggregation over the quasi-identifier key plus one
    * scalar roll-up; the detail of WHICH groups violate stays
    * distributed (filter the grouped frame yourself when needed).
    */
  def kAnonymity(df: DataFrame, quasiIdCols: Seq[String], k: Int): DataFrame = {
    require(quasiIdCols.nonEmpty && k >= 1, "need quasi-id columns and k >= 1")
    df.groupBy(quasiIdCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("__n") < k, 1L).otherwise(0L)).as("n_violating"),
        min(col("__n")).as("min_group_size"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L)).as("n_rows_at_risk"))
  }
}
