package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode

import graft.JsonCfg

/** JSON front-end for [[Pipeline]] — the reference's pipelines arrive
  * as config documents (`transform_config` dicts with a `steps` list,
  * ref src/transform/transform_engine.py:49-66); this parses the same
  * shape into [[Pipeline.Spec]]:
  *
  * {{{
  * {"primary": "lineitem", "steps": [
  *   {"type": "filter", "column": "l_quantity", "op": ">", "value": 45},
  *   {"type": "join", "right": "orders", "on": ["l_orderkey"], "how": "inner", "broadcast": true},
  *   {"type": "aggregate", "groupBy": ["o_orderpriority"],
  *    "aggs": [{"col": "l_quantity", "fn": "sum_money", "as": "qty"}]}
  * ]}
  * }}}
  *
  * Only declarative steps are expressible in JSON (no arbitrary
  * Column expressions or SQL injection-prone strings beyond
  * `sqltransform`, mirroring the reference's surface).
  */
object PipelineJson {
  import JsonCfg.{int, num, str}

  def parse(json: String): Pipeline.Spec =
    parseNode(JsonCfg.read(json, "pipeline config"))

  /** A `{"primary": …, "steps": […]}` object — the pipeline section of
    * a job document, or a standalone pipeline config.
    */
  private[graft] def parseNode(root: JsonNode): Pipeline.Spec =
    Pipeline.Spec(str(root, "primary", "pipeline"),
      JsonCfg.objects(root, "steps", "pipeline").zipWithIndex.map {
        case (s, i) => parseStep(s, s"pipeline step $i")
      })

  // a filter literal: number, boolean or string
  private val literal = new JsonCfg.Read[Any]("a string, number or boolean",
    _.isValueNode,
    n => if (n.isNumber) n.asDouble() else if (n.isBoolean) n.asBoolean() else n.asText())

  // checked against what the executors dispatch on: Spark's own join
  // type parser (Dataset.join's) and Ops' aggregate table
  private val joinType = JsonCfg.choice("a Spark join type (inner, left, " +
    "right, full, left_semi, left_anti, cross, …)")(h =>
    scala.util.Try(org.apache.spark.sql.catalyst.plans.JoinType(h)).isSuccess)
  private val aggFunction = JsonCfg.choice("one of " +
    graft.operators.Ops.aggFunctions.keys.toSeq.sorted.mkString(" | "))(f =>
    graft.operators.Ops.aggFunctions.contains(f.toLowerCase))

  private def parseStep(s: JsonNode, at: String): Pipeline.Step = {
    val kind = str(s, "type", at).toLowerCase
    val ctx = s"$at ($kind)"
    def text(f: String): String = str(s, f, ctx)
    def columns(f: String): Seq[String] = JsonCfg.identifiers(s, f, ctx)
    def mapping(f: String): Map[String, String] = JsonCfg.stringMap(s, f, ctx)
    kind match {
      case "filter" =>
        Pipeline.Filter(text("column"), text("op"), literal(s, "value", ctx))
      case "daterange" =>
        Pipeline.DateRange(text("column"), text("start"), text("end"))
      case "rename" | "map" =>
        Pipeline.Rename(mapping("mapping"))
      case "drop" =>
        Pipeline.Drop(columns("columns"))
      case "select" =>
        Pipeline.Select(columns("columns"))
      case "typeconversion" | "convert" =>
        Pipeline.Convert(mapping("typeMapping"))
      case "join" =>
        Pipeline.Join(text("right"), columns("on"),
          joinType.opt(s, "how", ctx).getOrElse("inner"),
          JsonCfg.bool.opt(s, "broadcast", ctx).getOrElse(false))
      case "aggregate" =>
        Pipeline.Aggregate(JsonCfg.identifierList(s, "groupBy", ctx),
          JsonCfg.objects(s, "aggs", ctx).map(a =>
            (str(a, "col", s"$ctx aggs"), aggFunction(a, "fn", s"$ctx aggs"),
              str(a, "as", s"$ctx aggs"))))
      case "sqltransform" =>
        Pipeline.SqlTransform(text("sql"))
      case "sql_expr" | "withcolumn" =>
        // ref transform_engine.py:262 execute_custom_udf: the reference
        // compiles a Python code string per row; the Spark answer is a
        // declarative SQL expression -> native codegen'd Column
        Pipeline.WithColumn(text("name"),
          org.apache.spark.sql.functions.expr(text("expr")))
      case "screen" =>
        // r19: the ingest-screen family as a declared step — family,
        // history root, id + content columns; knobs optional per family
        // (threshold for minhash/semantic, max_hamming for
        // simhash/image/audio, index + nprobe for semantic)
        parseScreenNode(s, what = "screen")
      case other =>
        throw new IllegalArgumentException(s"Unsupported step type: $other")
    }
  }

  /** Parse a screen-shaped config object into [[Pipeline.Screen]] —
    * ONE dialect for the batch `screen` step and the streaming
    * `ingest` section ([[Job]]), so the same knobs mean the same
    * thing on both paths. `what` labels error messages with the
    * section being parsed.
    */
  private[pipeline] def parseScreenNode(s: JsonNode, what: String): Pipeline.Screen = {
    val family = str(s, "family", what).toLowerCase
    val known = Set("exact", "minhash", "simhash", "image", "audio",
      "semantic")
    require(known(family),
      s"$what family '$family' unknown (${known.toSeq.sorted.mkString(" | ")})")
    val index = str.opt(s, "index", what)
    require(family != "semantic" || index.isDefined,
      s"$what family 'semantic' needs \"index\" (the persisted quantizer dir)")
    Pipeline.Screen(family, str(s, "history", what), str(s, "id", what),
      str(s, "column", what),
      num.opt(s, "threshold", what),
      int.opt(s, "max_hamming", what), index,
      int.opt(s, "nprobe", what).getOrElse(1),
      // signature-shape knobs — must match how the history was
      // built (declared, so a stored document carries them)
      int.opt(s, "ngram_n", what),
      int.opt(s, "num_hashes", what),
      int.opt(s, "bands", what),
      str.opt(s, "algo", what))
  }
}
