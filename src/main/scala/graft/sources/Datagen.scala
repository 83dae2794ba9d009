package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed synthetic-data generation — the reference's
  * MockDataGenerator (ref tests/mock_data_generator.py:31
  * generate_valid_test_data, :49 generate_invalid_test_data, :110
  * generate_performance_test_data) rebuilt for cluster scale: the
  * reference fills pandas lists on one machine, so "performance test
  * data" tops out at driver memory; here every value is a pure
  * codegen'd expression over `spark.range(n)`, so a 100 TB test
  * corpus is one narrow scan with NO input IO, no shuffle, and no
  * driver data at all.
  *
  * Determinism contract: every value is a function of (row id, seed,
  * column salt) through a portable 2-round LCG on 31-bit state —
  * arithmetic that bigint SQL engines evaluate identically (no 64-bit
  * overflow, no engine hash builtins), so generated data is
  * reproducible across cluster sizes, partitionings AND engines
  * (q_datagen hash-matches DuckDB running the same formula). Not
  * cryptographic; statistical quality is "test data", not Monte
  * Carlo.
  */
object Datagen {

  /** Column specs mirroring mock_data_generator's schema dict types
    * (ref :152-183: integer/float/string/date/datetime/boolean +
    * categorical choice).
    */
  sealed trait Field { def name: String }
  final case class IntCol(name: String, min: Long, max: Long) extends Field
  final case class DoubleCol(name: String, min: Double, max: Double) extends Field
  final case class StringCol(name: String, prefix: String = "str") extends Field
  final case class DateCol(name: String, start: String, rangeDays: Int) extends Field
  final case class TsCol(name: String, start: String, rangeSecs: Long) extends Field
  final case class BoolCol(name: String) extends Field
  final case class CatCol(name: String, values: Seq[String]) extends Field

  private val M = 2147483648L // 2^31
  private val A = 1103515245L
  private val C = 12345L

  /** Two LCG rounds over 31-bit state, seeded per (seed, salt):
    * x0 = (id + seed*7919 + salt*104729) mod 2^31, then
    * x = (x*A + C) mod 2^31 twice. Every intermediate product is
    * < 2^61, so plain BIGINT arithmetic computes it exactly in any
    * engine — the portability that lets the oracle re-derive the data.
    */
  def prng(id: Column, seed: Long, salt: Long): Column = {
    val x0 = pmod(id + lit(seed * 7919L) + lit(salt * 104729L), lit(M))
    val x1 = pmod(x0 * A + C, lit(M))
    pmod(x1 * A + C, lit(M))
  }

  /** The same PRNG as SQL text, for oracle parity checks. */
  def prngSql(idExpr: String, seed: Long, salt: Long): String = {
    val x0 = s"((($idExpr) + ${seed * 7919L} + ${salt * 104729L}) % $M)"
    val x1 = s"(($x0 * $A + $C) % $M)"
    s"(($x1 * $A + $C) % $M)"
  }

  private def validate(f: Field): Unit = f match {
    case IntCol(n, mn, mx) => require(mx >= mn, s"$n: max < min")
    case DoubleCol(n, mn, mx) => require(mx >= mn, s"$n: max < min")
    case TsCol(n, _, secs) => require(secs > 0, s"$n: rangeSecs <= 0")
    case DateCol(n, _, days) => require(days > 0, s"$n: rangeDays <= 0")
    case CatCol(n, vs) => require(vs.nonEmpty, s"$n: empty category list")
    case _ => ()
  }

  private def value(f: Field, x: Column): Column = f match {
    case IntCol(_, mn, mx) => lit(mn) + pmod(x, lit(mx - mn + 1))
    case DoubleCol(_, mn, mx) =>
      lit(mn) + x.cast("double") * (mx - mn) / M.toDouble
    case StringCol(_, p) => concat(lit(p + "_"), x)
    case DateCol(_, start, days) =>
      date_add(lit(start).cast("date"), pmod(x, lit(days.toLong)).cast("int"))
    case TsCol(_, start, secs) =>
      timestamp_seconds(
        unix_seconds(to_timestamp(lit(start))) + pmod(x, lit(secs)))
    case BoolCol(_) => pmod(x, lit(2L)) === 1L
    case CatCol(_, vs) =>
      element_at(array(vs.map(lit): _*), (pmod(x, lit(vs.size.toLong)) + 1L).cast("int"))
  }

  /** Generate `rows` rows of the schema — ref :31, distributed.
    * `partitions` 0 = default parallelism. Column salt is the field's
    * position, so adding a column never changes earlier columns.
    */
  def table(spark: SparkSession, rows: Long, fields: Seq[Field],
            seed: Long = 42L, partitions: Int = 0): DataFrame = {
    require(fields.nonEmpty, "fields must be non-empty")
    fields.foreach(validate)
    val base = if (partitions > 0) spark.range(0L, rows, 1L, partitions)
      else spark.range(rows)
    val cols = col("id").as("row_id") +: fields.zipWithIndex.map {
      case (f, i) => value(f, prng(col("id"), seed, i + 1L)).as(f.name)
    }
    base.select(cols: _*)
  }

  /** Apply the schema's generated columns to ANY id-bearing frame —
    * batch or streaming: the same pure expressions work unchanged on
    * a structured stream, so load tests and batch fixtures share one
    * generator definition (and one determinism contract: value =
    * f(id, seed, position), independent of arrival batching).
    */
  def withFields(df: DataFrame, idCol: String, fields: Seq[Field],
                 seed: Long = 42L): DataFrame = {
    require(fields.nonEmpty, "fields must be non-empty")
    fields.foreach(validate)
    val id = col(idCol).cast("long")
    fields.zipWithIndex.foldLeft(df) { case (acc, (f, i)) =>
      acc.withColumn(f.name, value(f, prng(id, seed, i + 1L)))
    }
  }

  /** Unbounded synthetic STREAM: rate-source ids → generated columns.
    * `rowsPerSecond` scales a streaming load test to any throughput
    * with no input data at all; every value is still the same pure
    * function of the row id, so a replayed/restarted stream
    * regenerates identical records (exactly-once sinks stay
    * verifiable).
    */
  def stream(spark: SparkSession, rowsPerSecond: Int, fields: Seq[Field],
             seed: Long = 42L): DataFrame =
    withFields(
      spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond).load()
        .select(col("timestamp").as("event_time"), col("value").as("row_id")),
      "row_id", fields, seed)

  /** Deterministic error injection — ref :49/:198: each row draws its
    * own error lottery per column; winners (rate fraction) get the
    * error. `nullify` plants nulls in "non-nullable" columns;
    * `outOfRange` pushes ints past the declared max (ref :228-231).
    * Same lottery formula as the generator, salt offset 1000+i, so
    * valid and invalid data stay independent.
    */
  def nullify(df: DataFrame, column: String, rate: Double,
              seed: Long = 42L, salt: Long = 1000L,
              idCol: String = "row_id"): DataFrame =
    df.withColumn(column,
      when(hit(rate, seed, salt, idCol), lit(null)).otherwise(col(column)))

  def outOfRange(df: DataFrame, column: String, declaredMax: Long,
                 rate: Double, seed: Long = 42L, salt: Long = 1001L,
                 idCol: String = "row_id"): DataFrame =
    df.withColumn(column,
      when(hit(rate, seed, salt, idCol),
        lit(declaredMax) + 1L + pmod(prng(col(idCol), seed, salt), lit(100L)))
        .otherwise(col(column)))

  // idCol mirrors withFields: the lottery must draw on the SAME id
  // column the frame was generated with, whatever it is named
  private def hit(rate: Double, seed: Long, salt: Long,
                  idCol: String): Column =
    prng(col(idCol), seed, salt) < lit((rate * M).toLong)

  /** One row per edge case — ref :81 generate_edge_case_data /
    * :245 _generate_edge_case_value: boundary and hostile values per
    * column type, for screening a pipeline before real data hits it.
    * A handful of literal rows (that is the reference semantics too);
    * the row carries a `case` tag column. Unknown case names fall
    * back to a valid value, as the reference does.
    */
  def edgeCases(spark: SparkSession, fields: Seq[Field],
                cases: Seq[String] = Seq("minimum_value", "maximum_value",
                  "zero", "empty_string", "unicode_characters",
                  "special_characters", "null_value"),
                seed: Long = 42L): DataFrame = {
    val frames = cases.zipWithIndex.map { case (cs, ci) =>
      val cols = lit(cs).as("case") +: lit(ci.toLong).as("row_id") +:
        fields.zipWithIndex.map { case (f, i) =>
          edgeValue(f, cs, prng(lit(ci.toLong), seed, i + 1L)).as(f.name)
        }
      spark.range(1).select(cols: _*)
    }
    frames.reduce(_ unionByName _)
  }

  private def edgeValue(f: Field, cs: String, x: Column): Column = (cs, f) match {
    case ("null_value", _) => typedNull(f)
    case ("minimum_value", IntCol(_, mn, _)) => lit(mn)
    case ("minimum_value", DoubleCol(_, mn, _)) => lit(mn)
    case ("maximum_value", IntCol(_, _, mx)) => lit(mx)
    case ("maximum_value", DoubleCol(_, _, mx)) => lit(mx)
    case ("maximum_value", _: StringCol) => lit("x" * 1000)
    case ("zero", IntCol(_, _, _)) => lit(0L)
    case ("zero", DoubleCol(_, _, _)) => lit(0.0)
    case ("empty_string", _: StringCol | _: CatCol) => lit("")
    case ("unicode_characters", _: StringCol | _: CatCol) => lit("测试数据🚀")
    case ("special_characters", _: StringCol | _: CatCol) =>
      lit("!@#$%^&*()[]{}|;:,.<>?`~")
    case ("minimum_value" | "maximum_value" | "zero" | "empty_string" |
          "unicode_characters" | "special_characters", _) => typedNull(f)
    case _ => value(f, x) // unknown case name -> a valid value (ref :276)
  }

  private def typedNull(f: Field): Column = f match {
    case _: IntCol => lit(null).cast("long")
    case _: DoubleCol => lit(null).cast("double")
    case _: DateCol => lit(null).cast("date")
    case _: TsCol => lit(null).cast("timestamp")
    case _: BoolCol => lit(null).cast("boolean")
    case _ => lit(null).cast("string")
  }

  /** Row count that approximates `targetBytes` on disk — ref :110
    * sizes by GB from a fixed row-width estimate; same idea, from the
    * schema: 8B per numeric/date, ~16B per string/category, 1B per
    * bool (pre-compression estimate).
    */
  def rowsForBytes(fields: Seq[Field], targetBytes: Long): Long = {
    val width = 8L + fields.map {
      case _: StringCol | _: CatCol => 16L
      case _: BoolCol => 1L
      case _ => 8L
    }.sum
    math.max(1L, targetBytes / width)
  }
}
