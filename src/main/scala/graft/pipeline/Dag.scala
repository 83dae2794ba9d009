package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.JsonCfg

/** Dependency-ordered multi-job execution — the data-plane half of the
  * reference's dependency scheduling (reference:
  * src/orchestrator/pipeline_scheduler.py:35 `dependencies` +
  * :241 trigger_on_dependency: a pipeline declared `dependency_based`
  * fires when its upstream run completes). The CLOCK half (cron,
  * threads, event listeners) is control-plane and stays out of scope;
  * what the engine owns is the deterministic composition: given N
  * [[Job]] documents with declared upstream edges, run them in
  * topological order, propagate failure downstream as SKIP (the
  * reference never triggers a dependent off a failed upstream run),
  * and record every node into the same [[graft.monitoring.RunHistory]]
  * the SLA/trend queries read.
  *
  * Determinism: among simultaneously-ready nodes the order is
  * lexicographic by id — the same DAG document always executes in the
  * same sequence (node-level parallel submission is the cluster
  * scheduler's job; Spark actions already parallelize WITHIN each
  * job, which is where the cores go at 100 TB).
  */
object Dag {

  /** One DAG node: its id, its parsed job document and upstream ids. */
  final case class Node(id: String, job: Job.Spec,
                        dependsOn: Seq[String] = Nil)

  /** Per-node outcome: `succeeded`, `failed` (error carried), or
    * `skipped_upstream` (an upstream failed or was itself skipped —
    * names carried in `error`). A succeeded node's `result` is already
    * closed: its frames are lazy and re-derive when read.
    */
  final case class NodeResult(id: String, status: String,
                              error: Option[String],
                              result: Option[Job.Result])

  /** Deterministic topological order; fails loudly on unknown
    * dependencies, duplicate ids, and cycles (naming the cycle
    * members) — a mis-declared DAG must not half-run.
    */
  def topoOrder(nodes: Seq[Node]): Seq[String] = {
    val ids = nodes.map(_.id)
    require(ids.distinct.length == ids.length,
      s"duplicate node ids: ${ids.diff(ids.distinct).distinct.mkString(", ")}")
    val byId = nodes.map(n => n.id -> n).toMap
    nodes.foreach(n => n.dependsOn.foreach(d => require(byId.contains(d),
      s"node '${n.id}' depends on unknown node '$d'")))
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    val remaining = scala.collection.mutable.SortedSet.empty[String] ++ ids
    while (remaining.nonEmpty) {
      val ready = remaining.filter(id => byId(id).dependsOn.forall(done.contains))
      require(ready.nonEmpty,
        s"dependency cycle among: ${remaining.mkString(", ")}")
      val next = ready.head // SortedSet: lexicographic tie-break
      done += next
      remaining -= next
    }
    done.toSeq
  }

  /** Execute the DAG. Each node runs through [[Job]]
    * (optionally [[Job.runWithHistory]] when `historyDir` is set —
    * node run ids are `<runId>/<node id>`-style `<runId>__<id>` so
    * one DAG run groups in the history). A failed node does not stop
    * the DAG: independent branches still run; dependents skip.
    */
  def run(spark: SparkSession, nodes: Seq[Node],
          historyDir: Option[String] = None,
          runId: String = "dag"): Seq[NodeResult] = {
    val byId = nodes.map(n => n.id -> n).toMap
    val order = topoOrder(nodes)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, NodeResult]
    order.foreach { id =>
      val node = byId(id)
      val badUpstream = node.dependsOn.filter(d =>
        results(d).status != "succeeded")
      if (badUpstream.nonEmpty)
        results(id) = NodeResult(id, "skipped_upstream",
          Some(s"upstream not succeeded: ${badUpstream.mkString(", ")}"), None)
      else {
        try {
          val r = historyDir match {
            case Some(dir) =>
              Job.runWithHistory(spark, node.job, dir, s"${runId}__$id")
            case None => Job.run(spark, node.job)
          }
          // the node is done: a long DAG must not pin every node's output
          r.close()
          results(id) = NodeResult(id, "succeeded", None, Some(r))
        } catch {
          case scala.util.control.NonFatal(e) =>
            results(id) = NodeResult(id, "failed",
              Some(Option(e.getMessage).getOrElse(e.getClass.getName)), None)
        }
      }
    }
    results.values.toSeq
  }

  /** JSON front-end, same style as [[Job.parse]]:
    * {{{
    * {"jobs": [
    *   {"id": "extract", "job": { ...Job document... }},
    *   {"id": "report", "depends_on": ["extract"], "job": { ... }}
    * ]}
    * }}}
    */
  def parse(json: String): Seq[Node] = parseNode(JsonCfg.read(json, "dag config"))

  /** A DAG document already read. Every node's job document parses
    * here and the order is checked, so a malformed node or a cycle
    * fails the whole DAG before any node runs.
    */
  private[graft] def parseNode(root: JsonNode): Seq[Node] = {
    val nodes = JsonCfg.objects(root, "jobs", "dag config").map { j =>
      val id = JsonCfg.str(j, "id", "dag job")
      val ctx = s"dag job '$id'"
      val doc = JsonCfg.obj(j, "job", ctx)
      val job =
        try Job.parseNode(doc)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"$ctx: ${e.getMessage}", e) }
      Node(id, job, JsonCfg.identifierList.opt(j, "depends_on", ctx).getOrElse(Nil))
    }
    topoOrder(nodes)
    nodes
  }

  def runJson(spark: SparkSession, json: String,
              historyDir: Option[String] = None,
              runId: String = "dag"): Seq[NodeResult] =
    run(spark, parse(json), historyDir, runId)
}
