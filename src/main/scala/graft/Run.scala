package graft

import java.io.PrintStream
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.pipeline.{Dag, Job}

/** Spark-submit-able entry point for stored job documents — the
  * data-plane face of the reference's command-line/serving layer (ref
  * src/api/cli.py:514 `pipelines execute`, :533 `executions status`;
  * src/api/rest_api.py trigger + report endpoints). The HTTP server,
  * auth, and scheduling threads are control-plane and stay out of
  * scope; what an operator actually schedules is this: one JVM
  * invocation that runs ONE document end-to-end and exits nonzero on
  * failure, so any scheduler (cron, Airflow, k8s Job) can drive it.
  *
  * {{{
  * spark-submit --class graft.Run graft.jar run etl.json \
  *   --history /var/runs --run-id 2026-08-15
  * graft.Run validate etl.json          # parse-only pre-flight
  * graft.Run status --history /var/runs # recent runs, newest first
  * }}}
  *
  * Verbs:
  *  - `run <doc.json>`: parses the document exactly as `validate`
  *    does, every DAG node included, then executes it through the
  *    existing machinery — a `{"jobs": [...]}` document is a [[Dag]]
  *    (per-node status printed; any failed/skipped node fails the run),
  *    anything else is a [[Job]]. A config error exits 2 before
  *    anything runs. With `--history <dir>` the run records
  *    [[graft.monitoring.RunHistory]] under `--run-id` (default: the
  *    document's basename) via [[Job.runWithHistory]].
  *  - `validate <doc.json>`: that parse, then a one-line summary — the
  *    reference's pre-flight contract (cli.py validate path) without
  *    touching data.
  *  - `status --history <dir> [--run-id <id>]`: top-level entries of
  *    recorded runs, newest first.
  *
  * Exit codes: 0 success; 1 run failure (DQ gate, node failure, any
  * execution error); 2 usage or config error (`run` included). The logic lives in
  * [[execute]] (returns the code, prints to the given stream) so specs
  * drive the argument/exit contract without forking a JVM.
  */
object Run {

  def main(args: Array[String]): Unit = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val cpus = raw.toIntOption.filter(_ > 0).getOrElse {
      System.err.println(s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'")
      sys.exit(2)
    }
    // spark-submit's --master wins; local[cpus] only as the bare default
    val spark = GraftSession.forSubmit(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = execute(spark, args.toSeq, System.out)
    spark.stop()
    sys.exit(code)
  }

  private val usage =
    """usage: graft.Run <verb> [args]
      |  run <doc.json> [--history <dir>] [--run-id <id>]
      |  validate <doc.json>
      |  status --history <dir> [--run-id <id>]
      |  maintain-index <corpus.parquet> <idCol> <vecCol> <indexDir>
      |    [--sim-floor f] [--min-mean f] [--max-dead-frac f] [--max-below-frac f]
      |    [--history-roots <dir>[,<dir>...]]""".stripMargin

  /** Run one CLI invocation; returns the process exit code. */
  def execute(spark: SparkSession, args: Seq[String],
              out: PrintStream = System.out): Int = args.headOption match {
    case Some("run") => runVerb(spark, args.tail, out)
    case Some("validate") => validateVerb(args.tail, out)
    case Some("status") => statusVerb(spark, args.tail, out)
    case Some("maintain-index") => maintainIndexVerb(spark, args.tail, out)
    case _ => out.println(usage); 2
  }

  /** `--flag value` pairs after the positional args; unknown flags are
    * a usage error (a typo'd `--histroy` must not silently drop the
    * history recording).
    */
  private def parseFlags(args: Seq[String],
                         known: Set[String]): Either[String, (Seq[String], Map[String, String])] = {
    val positional = Seq.newBuilder[String]
    val flags = Map.newBuilder[String, String]
    var rest = args
    while (rest.nonEmpty) {
      rest match {
        case flag +: value +: tail if flag.startsWith("--") =>
          if (!known(flag)) return Left(s"unknown flag: $flag")
          flags += (flag -> value); rest = tail
        case flag +: _ if flag.startsWith("--") =>
          return Left(s"flag $flag needs a value")
        case p +: tail => positional += p; rest = tail
      }
    }
    Right((positional.result(), flags.result()))
  }

  private def readDoc(path: String): Either[String, String] = {
    val p = Paths.get(path)
    if (!Files.isRegularFile(p)) Left(s"no such file: $path")
    else Right(new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
  }

  private def defaultRunId(path: String): String = {
    val base = Paths.get(path).getFileName.toString
    base.stripSuffix(".json")
  }

  /** Read and parse a document (`{"jobs": [...]}` is a [[Dag]], anything
    * else a [[Job]]) without running it; None after printing why not. */
  private def load(docPath: String,
                   out: PrintStream): Option[Either[Seq[Dag.Node], Job.Spec]] =
    readDoc(docPath) match {
      case Left(err) => out.println(err); None
      case Right(json) =>
        try {
          val root = JsonCfg.read(json, "document")
          Some(if (root.has("jobs")) Left(Dag.parseNode(root))
               else Right(Job.parseNode(root)))
        } catch {
          case scala.util.control.NonFatal(e) =>
            out.println(s"invalid document: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
            None
        }
    }

  private def runVerb(spark: SparkSession, args: Seq[String],
                      out: PrintStream): Int =
    parseFlags(args, Set("--history", "--run-id")) match {
      case Left(err) => out.println(err); out.println(usage); 2
      case Right((Seq(docPath), flags)) =>
        load(docPath, out).fold(2) { doc =>
          val history = flags.get("--history")
          val runId = flags.getOrElse("--run-id", defaultRunId(docPath))
          try doc match {
            case Left(nodes) =>
              val results = Dag.run(spark, nodes, history, runId)
              results.foreach { r =>
                out.println(s"node ${r.id}: ${r.status}" +
                  r.error.fold("")(e => s" ($e)"))
              }
              if (results.forall(_.status == "succeeded")) {
                out.println(s"dag succeeded: ${results.size} node(s)"); 0
              } else {
                out.println("dag failed: " + results
                  .filterNot(_.status == "succeeded")
                  .map(r => s"${r.id}=${r.status}").mkString(", "))
                1
              }
            case Right(spec) =>
              val result = history match {
                case Some(dir) => Job.runWithHistory(spark, spec, dir, runId)
                case None => Job.run(spark, spec)
              }
              // a sink-less document still needs its plan to RUN —
              // Job defers the output frame when no sink fires an action.
              // The count is the output's last reader: release the cache
              val rows =
                try { if (result.output.isStreaming) -1L else result.output.count() }
                finally result.close()
              out.println(s"job succeeded: $rows output row(s)")
              0
          } catch {
            case scala.util.control.NonFatal(e) =>
              out.println(s"run failed: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
              1
          }
        }
      case Right(_) => out.println(usage); 2
    }

  private def validateVerb(args: Seq[String], out: PrintStream): Int =
    args match {
      case Seq(docPath) =>
        load(docPath, out).fold(2) {
          case Left(nodes) => out.println(s"valid dag: ${nodes.size} node(s)"); 0
          case Right(spec) =>
            out.println(s"valid job: ${spec.datasets.size} dataset(s), " +
              s"${spec.pipeline.steps.size} step(s)")
            0
        }
      case _ => out.println(usage); 2
    }

  /** `maintain-index`: one schedulable epoch turn of the ANN-index
    * lifecycle ([[graft.llm.Ivf.maintainIndex]]) — probe the persisted
    * quantizer's health against the current corpus, retrain +
    * atomically republish when a threshold trips, print the action and
    * the health report. Exit 0 on any completed turn (kept IS
    * success), 1 on execution failure, 2 on usage/flag errors — the
    * same cron/Airflow/k8s-Job contract as `run`.
    */
  private def maintainIndexVerb(spark: SparkSession, args: Seq[String],
                                out: PrintStream): Int =
    parseFlags(args, Set("--sim-floor", "--min-mean", "--max-dead-frac",
      "--max-below-frac", "--history-roots")) match {
      case Left(err) => out.println(err); out.println(usage); 2
      case Right((Seq(corpusPath, idCol, vecCol, indexDir), flags)) =>
        // --history-roots: comma-separated stored semantic-history
        // tables to re-assign when the turn republishes (r19)
        val roots = flags.get("--history-roots")
          .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Nil)
        val parsed = (flags - "--history-roots")
          .map { case (k, v) => k -> v.toDoubleOption }
        parsed.collectFirst { case (k, None) => k } match {
          case Some(bad) =>
            out.println(s"flag $bad needs a numeric value"); 2
          case None =>
            val f = parsed.map { case (k, v) => k -> v.get }
            try {
              val corpus = spark.read.parquet(corpusPath)
              val (action, report) = graft.llm.Ivf.maintainIndex(
                corpus, idCol, vecCol, indexDir,
                simFloor = f.getOrElse("--sim-floor", 0.0),
                minWorstCellMean = f.getOrElse("--min-mean", 0.0),
                maxDeadFrac = f.getOrElse("--max-dead-frac", 0.5),
                maxBelowFrac = f.getOrElse("--max-below-frac", 0.5),
                semanticHistoryRoots = roots)
              out.println(s"maintain-index: $action " +
                s"(cells=${report.getAs[Long]("n_cells")} " +
                s"dead=${report.getAs[Long]("n_dead")} " +
                s"rows=${report.getAs[Long]("n_rows")} " +
                s"below=${report.getAs[Long]("n_below")} " +
                s"retrain=${report.getAs[Boolean]("retrain")})")
              0
            } catch {
              case scala.util.control.NonFatal(e) =>
                out.println(s"maintain-index failed: " +
                  Option(e.getMessage).getOrElse(e.getClass.getName))
                1
            }
        }
      case Right(_) => out.println(usage); 2
    }

  private def statusVerb(spark: SparkSession, args: Seq[String],
                         out: PrintStream): Int =
    parseFlags(args, Set("--history", "--run-id")) match {
      case Left(err) => out.println(err); out.println(usage); 2
      case Right((Seq(), flags)) if flags.contains("--history") =>
        val dir = flags("--history")
        if (!Files.isDirectory(Paths.get(dir))) {
          out.println(s"no history at: $dir"); 2
        } else {
          import org.apache.spark.sql.functions._
          // the top-level "job" entry is the run's verdict; everything
          // else is per-action detail (Metrics.Recorder capture)
          val hist = graft.monitoring.RunHistory.load(spark, dir)
            .filter(col("query") === "job")
          val scoped = flags.get("--run-id")
            .fold(hist)(id => hist.filter(col("run_id") === id))
          val rows = scoped
            .select("run_id", "duration_ms", "failed", "recorded_at")
            .orderBy(col("recorded_at").desc)
            .limit(50)
            .collect()
          rows.foreach { r =>
            val verdict = if (r.getBoolean(2)) "FAILED" else "ok"
            out.println(s"${r.getString(0)}  $verdict  ${r.getLong(1)} ms  ${r.get(3)}")
          }
          out.println(s"${rows.length} run(s)")
          0
        }
      case Right(_) => out.println(usage); 2
    }
}
