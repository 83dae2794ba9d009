package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonProcessingException, StreamReadFeature}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper

/** The one reader of graft's config documents — catalog, pipeline,
  * DQ rules, anomaly, job, DAG and schema documents all parse here, so
  * "malformed" has one definition. A document is one JSON object: a
  * syntax error, a duplicate key (which would otherwise let the last
  * value silently win) or content after the first value fails. A field
  * read fails on a missing required key, on a null and on the wrong
  * JSON type — Jackson's `asText`/`asDouble`/`asBoolean` would coerce
  * those to "null", "", 0.0 or false and the mistake would surface
  * later as an opaque downstream error, or not at all. Every failure is
  * an IllegalArgumentException naming the section (`ctx`) and field.
  *
  * Reads: `str(node, "path", ctx)` requires the field,
  * `str.opt(node, "mode", ctx)` is None when the key is absent.
  */
private[graft] object JsonCfg {

  private val mapper = JsonMapper.builder()
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** Parse a whole document, which must be one JSON object. */
  def read(json: String, ctx: String): JsonNode = {
    val root =
      try mapper.readTree(json)
      catch {
        case e: JsonProcessingException => throw new IllegalArgumentException(
          s"$ctx is not valid JSON: ${e.getOriginalMessage}", e)
      }
    require(root != null && root.isObject, s"$ctx must be a JSON object")
    root
  }

  /** A typed field read: `want` names the JSON type `ok` accepts. */
  final class Read[T](want: String, ok: JsonNode => Boolean, get: JsonNode => T) {
    def apply(node: JsonNode, field: String, ctx: String): T =
      opt(node, field, ctx).getOrElse(
        throw new IllegalArgumentException(s"$ctx needs \"$field\""))

    def opt(node: JsonNode, field: String, ctx: String): Option[T] =
      Option(node.get(field)).map { v =>
        require(!v.isNull && ok(v), s"$ctx: \"$field\" must be $want, got $v")
        get(v)
      }
  }

  private def scalar(v: JsonNode): Boolean = v.isValueNode && !v.isNull
  private def elements(v: JsonNode): Seq[JsonNode] = v.elements().asScala.toSeq
  private def arrayOf(v: JsonNode, minSize: Int)(el: JsonNode => Boolean): Boolean =
    v.isArray && v.size() >= minSize && elements(v).forall(el)

  val str = new Read[String]("a string", _.isTextual, _.asText())
  /** A string from an enumerated set: `ok` is the definition the
    * executor dispatches on, `want` describes it in the error.
    */
  def choice(want: String)(ok: String => Boolean) =
    new Read[String](want, v => v.isTextual && ok(v.asText()), _.asText())
  val num = new Read[Double]("a number", _.isNumber, _.asDouble())
  val int = new Read[Int]("a whole number",
    v => v.isIntegralNumber && v.canConvertToInt, _.asInt())
  val bool = new Read[Boolean]("true or false", _.isBoolean, _.asBoolean())
  val obj = new Read[JsonNode]("an object", _.isObject, identity)
  val objects = new Read[Seq[JsonNode]]("an array of objects",
    arrayOf(_, 0)(_.isObject), elements)
  val nonEmptyObjects = new Read[Seq[JsonNode]]("a non-empty array of objects",
    arrayOf(_, 1)(_.isObject), elements)
  /** Column names: only strings are legitimate — a numeric "column" is
    * a typo that would otherwise die later as an unresolved column.
    */
  val identifiers = new Read[Seq[String]]("a non-empty array of column-name strings",
    arrayOf(_, 1)(_.isTextual), elements(_).map(_.asText()))
  /** [[identifiers]] where an empty list means "none" (group-by keys,
    * DAG dependencies).
    */
  val identifierList = new Read[Seq[String]]("an array of column-name strings",
    arrayOf(_, 0)(_.isTextual), elements(_).map(_.asText()))
  /** Value lists (allowed_values): numbers and booleans render
    * faithfully as text, and configs legitimately write `[1, 2, 3]`.
    */
  val scalars = new Read[Seq[String]]("a non-empty array of scalars",
    arrayOf(_, 1)(scalar), elements(_).map(_.asText()))
  /** String-keyed maps (reader options, renames, type mappings) with
    * scalar values, rendered as text.
    */
  val stringMap = new Read[Map[String, String]]("an object of scalar values",
    v => v.isObject && elements(v).forall(scalar),
    _.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
}
