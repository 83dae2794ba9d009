package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Schema validation & evolution diff: the Spark-native re-expression
  * of the reference's `SchemaManager.validate_schema`
  * (reference: src/utils/schema_manager.py:301-349, 557-600).
  * Pure metadata — no data scan, safe to run on any size table.
  */
object Schemas {

  final case class Mismatch(column: String, expected: String, actual: String)
  final case class Validation(missing: Seq[String], extra: Seq[String],
                              typeMismatches: Seq[Mismatch], passed: Boolean)

  /** Validate a frame against an expected schema. `strict` also fails
    * on extra columns (the reference's table-structure check flags
    * both missing and unexpected).
    */
  def validate(df: DataFrame, expected: StructType, strict: Boolean = false): Validation =
    validate(df.schema, expected, strict)

  def validate(observed: StructType, expected: StructType, strict: Boolean): Validation = {
    val actual = observed.fields.map(f => f.name -> f).toMap
    val expectedNames = expected.fields.map(_.name).toSet
    val missing = expected.fields.map(_.name).filterNot(actual.contains).toSeq
    val extra = observed.fields.map(_.name).filterNot(expectedNames.contains).toSeq
    val mismatches = expected.fields.toSeq.flatMap { ef =>
      actual.get(ef.name).collect {
        case af if af.dataType != ef.dataType =>
          Mismatch(ef.name, ef.dataType.simpleString, af.dataType.simpleString)
      }
    }
    val passed = missing.isEmpty && mismatches.isEmpty && (!strict || extra.isEmpty)
    Validation(missing, extra, mismatches, passed)
  }

  final case class Diff(added: Seq[StructField], removed: Seq[StructField],
                        changed: Seq[Mismatch])

  /** Evolution diff between two schema versions (old → new). */
  def diff(from: StructType, to: StructType): Diff = {
    val f = from.fields.map(x => x.name -> x).toMap
    val t = to.fields.map(x => x.name -> x).toMap
    Diff(
      added = to.fields.filterNot(x => f.contains(x.name)).toSeq,
      removed = from.fields.filterNot(x => t.contains(x.name)).toSeq,
      changed = from.fields.toSeq.flatMap(of => t.get(of.name).collect {
        case nf if nf.dataType != of.dataType =>
          Mismatch(of.name, of.dataType.simpleString, nf.dataType.simpleString)
      }))
  }

  /** Derive the typed migration that evolves `from` into `to` —
    * closing the loop diff → steps → [[applyMigration]] →
    * [[rollbackMigration]] with no hand-written step list (the
    * reference stores migration scripts; here the schema pair IS the
    * script). Added columns materialize as typed nulls (the only
    * value derivable from a schema alone — callers overwrite the
    * `value` when a backfill expression exists), removed columns
    * drop, and type changes cast. A rename is indistinguishable from
    * drop+add at the schema level, so pass known renames explicitly;
    * matched pairs are excluded from drop/add.
    */
  def inferMigration(from: StructType, to: StructType, version: String,
                     description: String = "",
                     renames: Map[String, String] = Map.empty): Migration = {
    renames.foreach { case (o, n) =>
      require(from.fieldNames.contains(o), s"rename source '$o' not in from-schema")
      require(to.fieldNames.contains(n), s"rename target '$n' not in to-schema")
      require(from(o).dataType == to(n).dataType,
        s"rename '$o'->'$n' changes type — add a separate CastColumn")
      // an ambiguous pair would infer steps that cannot apply: a
      // target already present in `from` collides at rename time, and
      // a source also present in `to` would need re-adding after the
      // rename took its data — both are contradictory rename specs
      require(!from.fieldNames.contains(n),
        s"rename target '$n' already exists in the from-schema — drop or " +
          "rename it first (ambiguous rename)")
      require(!to.fieldNames.contains(o),
        s"rename source '$o' still exists in the to-schema — a rename " +
          "moves the column; declare an AddColumn backfill instead")
    }
    val d = diff(from, to)
    val steps =
      renames.toSeq.sortBy(_._1).map { case (o, n) => RenameColumn(o, n) } ++
        d.removed.filterNot(f => renames.contains(f.name))
          .map(f => DropColumn(f.name)) ++
        d.added.filterNot(f => renames.values.toSet.contains(f.name))
          .map(f => AddColumn(f.name,
            org.apache.spark.sql.functions.lit(null).cast(f.dataType))) ++
        d.changed.map(c => CastColumn(c.column, to(c.column).dataType))
    Migration(version, if (description.nonEmpty) description
      else s"auto: ${from.fields.length} -> ${to.fields.length} cols", steps)
  }

  /** Can a reader expecting `expected` consume data written as
    * `actual` without loss? (additive columns ok, type changes not)
    */
  def compatible(expected: StructType, actual: StructType): Boolean = {
    val v = diff(expected, actual)
    v.removed.isEmpty && v.changed.isEmpty
  }

  // -------------------------------------------------------------------
  // Migrations — ref schema_manager.py:224 apply_migration /
  // :262 rollback_migration. The reference runs versioned up_sql /
  // down_sql DDL against its control-plane DB and records each applied
  // version; on a lakehouse the table IS the data, so the engine-native
  // equivalent applies typed steps to the frame as one narrow
  // projection (no shuffle, whole-stage codegen'd, any scale) and
  // derives the rollback mechanically instead of trusting
  // author-written down_sql.
  // -------------------------------------------------------------------

  /** One schema-evolution step. Rollback derivation: AddColumn ⇄ drop,
    * RenameColumn ⇄ reverse rename, CastColumn ⇄ cast back to the type
    * recorded from the pre-migration schema. DropColumn is the one
    * data-lossy step — its rollback restores the column's NAME and
    * TYPE (as nulls) so downstream readers keep working, which is also
    * all the reference's `DROP COLUMN` down_sql can promise without a
    * backup table.
    */
  sealed trait MigrationStep
  final case class AddColumn(name: String, value: Column) extends MigrationStep
  final case class DropColumn(name: String) extends MigrationStep
  final case class RenameColumn(from: String, to: String) extends MigrationStep
  final case class CastColumn(name: String, to: DataType) extends MigrationStep

  final case class Migration(version: String, description: String,
                             steps: Seq[MigrationStep])

  /** Applied-version ledger — the reference's schema_version table
    * (schema_manager.py:_record_schema_version). Records the
    * PRE-migration schema per version, which is what makes rollback
    * mechanical. Thread-safe; one per logical dataset.
    */
  final class MigrationLedger {
    private val applied =
      scala.collection.mutable.LinkedHashMap[String, (Migration, StructType)]()
    def isApplied(version: String): Boolean = synchronized(applied.contains(version))
    private[Schemas] def record(m: Migration, before: StructType): Unit =
      synchronized { applied += m.version -> ((m, before)); () }
    private[Schemas] def get(version: String): Option[(Migration, StructType)] =
      synchronized(applied.get(version))
    private[Schemas] def remove(version: String): Unit =
      synchronized { applied -= version; () }
    def history: Seq[(String, String)] =
      synchronized(applied.values.map(v => (v._1.version, v._1.description)).toSeq)
  }

  private def applyStep(df: DataFrame, s: MigrationStep): DataFrame = s match {
    case AddColumn(n, v) =>
      require(!df.columns.contains(n), s"AddColumn: $n already exists")
      df.withColumn(n, v)
    case DropColumn(n) =>
      require(df.columns.contains(n), s"DropColumn: no column $n")
      df.drop(n)
    case RenameColumn(f, t) =>
      require(df.columns.contains(f), s"RenameColumn: no column $f")
      require(!df.columns.contains(t), s"RenameColumn: $t already exists")
      df.withColumnRenamed(f, t)
    case CastColumn(n, to) =>
      require(df.columns.contains(n), s"CastColumn: no column $n")
      df.withColumn(n, col(n).cast(to))
  }

  /** Apply a migration's steps in order. Already-applied versions are
    * skipped unchanged (the reference's idempotence contract,
    * schema_manager.py:237). The pre-migration schema is recorded in
    * the ledger for [[rollbackMigration]].
    */
  def applyMigration(df: DataFrame, m: Migration,
                     ledger: MigrationLedger = new MigrationLedger): DataFrame = {
    if (ledger.isApplied(m.version)) df
    else {
      val before = df.schema
      val out = m.steps.foldLeft(df)(applyStep)
      ledger.record(m, before)
      out
    }
  }

  /** Mechanically invert an applied migration: steps reversed, each
    * step inverted against the recorded pre-migration schema. The
    * result's schema equals the pre-migration schema (dropped columns
    * come back as typed nulls — see [[DropColumn]]); the version is
    * removed from the ledger.
    */
  def rollbackMigration(df: DataFrame, version: String,
                        ledger: MigrationLedger): DataFrame = {
    val (m, before) = ledger.get(version).getOrElse(
      throw new IllegalArgumentException(
        s"migration $version is not recorded as applied — nothing to roll back"))
    val byName = before.fields.map(f => f.name -> f).toMap
    def typeOf(n: String): DataType = byName.getOrElse(n,
      throw new IllegalStateException(
        s"rollback of $version: column $n absent from the recorded schema")).dataType
    val out = m.steps.reverse.foldLeft(df) { (d, s) =>
      s match {
        case AddColumn(n, _)    => applyStep(d, DropColumn(n))
        case DropColumn(n)      => applyStep(d, AddColumn(n, lit(null).cast(typeOf(n))))
        case RenameColumn(f, t) => applyStep(d, RenameColumn(t, f))
        case CastColumn(n, _)   => applyStep(d, CastColumn(n, typeOf(n)))
      }
    }
    ledger.remove(version)
    // restore the original column ORDER too — rollback means the
    // pre-migration reader contract holds verbatim
    out.select(before.fieldNames.map(col).toIndexedSeq: _*)
  }
}
