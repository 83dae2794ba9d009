package graft

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** Stored schema-document front-end — the reference's
  * apply_schema_from_file (schema_manager.py:171: versioned SQL
  * scripts, sha256 checksum, already-applied skip, version ledger)
  * re-expressed over [[Schemas]]' typed migrations. The reference
  * splits DDL statements and runs them against its metadata DB; on a
  * lakehouse the table IS the data, so a schema document here is a
  * VERSIONED JSON description of typed steps (or a target schema to
  * infer them from), applied to the frame as one narrow projection
  * and recorded in a checksum-carrying ledger:
  *
  * {{{
  * { "migrations": [
  *   { "version": "v2", "description": "analytics layout",
  *     "steps": [
  *       {"type": "rename_column", "from": "o_totalprice", "to": "price"},
  *       {"type": "add_column", "name": "code", "expr": "substring(p, 1, 1)"},
  *       {"type": "cast_column", "name": "o_custkey", "to": "string"},
  *       {"type": "drop_column", "name": "legacy"} ] },
  *   { "version": "v3",
  *     "target_schema": "o_orderkey BIGINT, price DOUBLE, code STRING",
  *     "renames": {"old_name": "new_name"} }      // steps INFERRED
  * ]}
  * }}}
  *
  * A single-migration document (the object without the `migrations`
  * wrapper) is also accepted. Idempotence is the reference's, made
  * stricter: a version that is already applied with the SAME checksum
  * skips silently (:195 "already applied"); the same version with a
  * DIFFERENT checksum fails loudly — a drifted document silently
  * skipping is how schema corruption ships.
  */
object SchemaDoc {

  /** One parsed versioned document. `steps` is deferred for the
    * target-schema form — the from-schema only exists at apply time.
    */
  final case class Doc(version: String, description: String,
                       checksum: String,
                       build: StructType => Schemas.Migration)

  /** [[Schemas.MigrationLedger]] plus the reference's checksum column
    * (_record_schema_version stores version + checksum + description).
    */
  final class Ledger {
    private[SchemaDoc] val inner = new Schemas.MigrationLedger
    private val checksums = scala.collection.mutable.Map[String, String]()
    def isApplied(version: String): Boolean = inner.isApplied(version)
    def checksumOf(version: String): Option[String] =
      checksums.synchronized(checksums.get(version))
    private[SchemaDoc] def recordChecksum(version: String, sum: String): Unit =
      checksums.synchronized { checksums += version -> sum; () }
    private[SchemaDoc] def dropChecksum(version: String): Unit =
      checksums.synchronized { checksums -= version; () }
    /** Applied (version, description) pairs, oldest first. */
    def history: Seq[(String, String)] = inner.history
  }

  /** sha256 of the document's canonical serialization — ref :190. */
  def checksum(node: JsonNode): String = {
    val bytes = java.security.MessageDigest.getInstance("SHA-256")
      .digest(node.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    bytes.map("%02x".format(_)).mkString
  }

  /** Parse a schema document into its ordered versioned migrations.
    * Loud on unknown step types / keys — a typo'd step silently
    * dropped is a schema change that never happens.
    */
  def parse(json: String): Seq[Doc] = {
    val root = JsonCfg.read(json, "schema document")
    val docs =
      if (root.has("migrations")) {
        val arr = JsonCfg.objects(root, "migrations", "schema document")
        require(arr.nonEmpty, "\"migrations\" must be a non-empty array")
        arr
      } else Seq(root)
    val parsed = docs.map(parseOne)
    val dup = parsed.groupBy(_.version).collect { case (v, ds) if ds.size > 1 => v }
    require(dup.isEmpty,
      s"duplicate migration version(s) in one document: ${dup.mkString(", ")}")
    parsed
  }

  private def parseOne(node: JsonNode): Doc = {
    val version = JsonCfg.str(node, "version", "migration")
    val ctx = s"migration $version"
    val description = JsonCfg.str.opt(node, "description", ctx).getOrElse("")
    val sum = checksum(node)
    val hasSteps = node.has("steps")
    require(hasSteps ^ node.has("target_schema"),
      s"$ctx: exactly one of \"steps\" or \"target_schema\"")
    if (hasSteps) {
      val steps = JsonCfg.objects(node, "steps", ctx).map(parseStep(ctx, _))
      require(steps.nonEmpty, s"$ctx: empty \"steps\"")
      val m = Schemas.Migration(version, description, steps)
      Doc(version, description, sum, _ => m)
    } else {
      val target = StructType.fromDDL(JsonCfg.str(node, "target_schema", ctx))
      val renames = JsonCfg.stringMap.opt(node, "renames", ctx).getOrElse(Map.empty)
      Doc(version, description, sum,
        from => Schemas.inferMigration(from, target, version, description, renames))
    }
  }

  private def parseStep(ctx: String, s: JsonNode): Schemas.MigrationStep = {
    def f(name: String): String = JsonCfg.str(s, name, s"$ctx step ${s.toString.take(80)}")
    f("type") match {
      case "add_column"    => Schemas.AddColumn(f("name"),
        // "expr" is any SQL expression (backfills, derivations);
        // omitted -> typed null, like inferMigration's added columns
        if (s.has("expr")) expr(f("expr"))
        else lit(null).cast(DataType.fromDDL(f("data_type"))))
      case "drop_column"   => Schemas.DropColumn(f("name"))
      case "rename_column" => Schemas.RenameColumn(f("from"), f("to"))
      case "cast_column"   => Schemas.CastColumn(f("name"), DataType.fromDDL(f("to")))
      case other => throw new IllegalArgumentException(
        s"$ctx: unknown step type '$other' " +
          "(add_column, drop_column, rename_column, cast_column)")
    }
  }

  /** Apply every migration in the document, in order — ref :171.
    * Already-applied versions with a matching checksum skip; a
    * checksum mismatch on an applied version fails loudly.
    */
  def apply(df: DataFrame, json: String, ledger: Ledger = new Ledger): DataFrame =
    parse(json).foldLeft(df) { (d, doc) =>
      if (ledger.isApplied(doc.version)) {
        require(ledger.checksumOf(doc.version).contains(doc.checksum),
          s"migration ${doc.version} is already applied with a DIFFERENT " +
            "checksum — the document changed under an applied version; " +
            "publish a new version instead")
        d // the reference's "already applied" skip (:195)
      } else {
        val out = Schemas.applyMigration(d, doc.build(d.schema), ledger.inner)
        ledger.recordChecksum(doc.version, doc.checksum)
        out
      }
    }

  /** [[apply]] from a file path — the reference's entry point. */
  def applyFile(df: DataFrame, path: String,
                ledger: Ledger = new Ledger): DataFrame =
    apply(df, new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8),
      ledger)

  /** Roll an applied version back — delegates to
    * [[Schemas.rollbackMigration]]'s mechanical inversion and clears
    * the checksum record (ref :262 rollback_migration).
    */
  def rollback(df: DataFrame, version: String, ledger: Ledger): DataFrame = {
    val out = Schemas.rollbackMigration(df, version, ledger.inner)
    ledger.dropChecksum(version)
    out
  }
}
