package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.operators.Ops

/** Config-driven pipeline runner: the Spark-native re-expression of the
  * reference's `TransformEngine.execute_transformations` dispatch
  * (reference: src/transform/transform_engine.py:49-118).
  *
  * A pipeline is a declared list of [[Step]]s over named sources. Steps
  * only COMPOSE a logical plan — nothing executes until the caller
  * writes/collects, so Catalyst optimizes across step boundaries
  * (filters declared late still reach the scan; join order and
  * broadcast strategy stay Catalyst's call). The reference's
  * engine-selector (pandas/polars/dask) has no analog: Spark IS the
  * engine and AQE does the cost-based picking at runtime.
  */
object Pipeline {

  sealed trait Step
  /** ref transform_engine.py filter step */
  final case class Filter(column: String, op: String, value: Any) extends Step
  final case class FilterAll(conditions: Seq[(String, String, Any)]) extends Step
  final case class DateRange(column: String, start: String, end: String) extends Step
  /** ref map step (column rename) */
  final case class Rename(mapping: Map[String, String]) extends Step
  final case class Drop(columns: Seq[String]) extends Step
  final case class Select(columns: Seq[String]) extends Step
  /** ref typeconversion step */
  final case class Convert(typeMapping: Map[String, String]) extends Step
  /** ref join step: joins the named source into the current frame */
  final case class Join(rightSource: String, on: Seq[String],
                        how: String = "inner", broadcastRight: Boolean = false) extends Step
  /** ref aggregate step: (inputCol, fn, alias) */
  final case class Aggregate(groupBy: Seq[String], aggs: Seq[(String, String, String)]) extends Step
  /** ref window step */
  final case class Rank(partitionBy: Seq[String], orderBy: Seq[String],
                        dense: Boolean = false, alias: String = "rank") extends Step
  final case class Lag(column: String, partitionBy: Seq[String], orderBy: Seq[String],
                       offset: Int = 1, alias: String = "") extends Step
  final case class RunningTotal(column: String, partitionBy: Seq[String],
                                orderBy: Seq[String], alias: String = "") extends Step
  final case class Rolling(partitionBy: Seq[String], orderBy: Seq[String], column: String,
                           window: Int, fn: String, alias: String) extends Step
  /** ref customudf slot — a native Column expression (codegen'd) */
  final case class WithColumn(name: String, expr: Column) extends Step
  /** ref sqltransform: current frame registered as `__pipe`, sources by name */
  final case class SqlTransform(sql: String) extends Step
  /** Ingest-screen step (r19): drop rows already in a STORED signature
    * history — the crawl-dedup operator family as a declarable pipeline
    * step (the reference's whole point is metadata-driven execution;
    * the screens were library-only before this). `family` picks the
    * signature: exact text / minhash / simhash text near-dup,
    * perceptual image / audio, or semantic embeddings (which loads the
    * persisted quantizer under `indexDir` and runs VERSION-CHECKED —
    * a retrained index against un-reassigned history refuses loudly).
    * `historyRoot` is a plain parquet dir or a `batch_id=`-sliced
    * streaming root. PURE screen: survivors flow on, nothing is
    * appended to history (appends belong to the streaming ingest path,
    * [[graft.streaming.Streams.ingestScreenStream]], which owns the
    * replay-exclusion contract). An absent/empty history passes
    * everything through — the cold-start contract of the family.
    */
  final case class Screen(family: String, historyRoot: String,
                          idCol: String, contentCol: String,
                          threshold: Option[Double] = None,
                          maxHamming: Option[Int] = None,
                          indexDir: Option[String] = None,
                          nprobe: Int = 1,
                          // signature-shape knobs: these MUST match how
                          // the history was built (minhash band hashes
                          // and perceptual algos silently under-match
                          // across shapes — the same composability
                          // hazard class the semantic version stamp
                          // closes, declared here instead)
                          ngramN: Option[Int] = None,
                          numHashes: Option[Int] = None,
                          bands: Option[Int] = None,
                          algo: Option[String] = None) extends Step

  /** A declared pipeline: the primary input plus the step list. */
  final case class Spec(primary: String, steps: Seq[Step])

  /** Compose the pipeline's DataFrame plan from named sources. */
  def run(spark: SparkSession, sources: Map[String, DataFrame], spec: Spec): DataFrame = {
    spec.steps.foldLeft(sources(spec.primary)) { (df, step) =>
      step match {
        case Filter(c, op, v)       => Ops.filterBy(df, c, op, v)
        case FilterAll(cs)          => Ops.filterAll(df, cs)
        case DateRange(c, a, b)     => Ops.filterDateRange(df, c, a, b)
        case Rename(m)              => Ops.renameColumns(df, m)
        case Drop(cs)               => Ops.dropColumns(df, cs)
        case Select(cs)             => Ops.selectOrder(df, cs)
        case Convert(m)             => Ops.convertTypes(df, m)
        case Join(r, on, how, bc)   => Ops.join(df, sources(r), on, how, bc)
        case Aggregate(g, aggs)     => Ops.groupAgg(df, g, aggs)
        case Rank(p, o, d, a)       => Ops.rankWithin(df, p, o.map(orderCol), d, a)
        case Lag(c, p, o, off, a)   => Ops.lagLead(df, c, p, o.map(orderCol), off, a)
        case RunningTotal(c, p, o, a) => Ops.runningTotal(df, c, p, o.map(orderCol), a)
        case Rolling(p, o, c, w, f, a) => Ops.rolling(df, p, o.map(orderCol), c, w, f, a)
        case WithColumn(n, e)       => df.withColumn(n, e)
        case s: Screen              => runScreen(df, s)
        case SqlTransform(sql)      =>
          df.createOrReplaceTempView("__pipe")
          sources.foreach { case (n, d) => d.createOrReplaceTempView(n) }
          spark.sql(sql)
      }
    }
  }

  /** [[Screen]] dispatch through [[screenFns]], the same pair the
    * streaming ingest uses, so a JSON document moved between batch and
    * streaming screens identically. PURE: an absent/empty history
    * passes everything through.
    */
  private def runScreen(df: DataFrame, s: Screen): DataFrame = {
    val spark = df.sparkSession
    val (_, screen) = screenFns(spark, s)
    graft.streaming.Streams.loadSignatureHistory(spark, s.historyRoot)
      // every screen family multi-consumes its batch side (signature
      // derivation + the surviving-rows anti-join; exact's two-branch
      // Bloom union is a third) — unpersisted, each consumer re-runs
      // ALL prior pipeline steps, and STACKED screens multiply that
      // (measured r20-opt on q_corpus_crawl: the quality-gate regex
      // pass executed ~6x). persistIfSmall caches the step input at
      // gate SFs and is a deliberate no-op past the small-frame budget
      // — at 100 TB the screens keep their documented
      // one-extra-map-side-scan shape, nothing corpus-sized is cached
      .fold(df)(h => screen(graft.GraftSession.persistIfSmall(df), h))
  }

  /** The (signatures, screen) function pair a [[Screen]] config
    * declares (r20) — ONE family dispatch shared by the batch `screen`
    * step ([[runScreen]]) and the config-declared streaming ingest
    * ([[graft.pipeline.Job.runStream]]'s `ingest` section), and the
    * pair library callers hand to
    * [[graft.streaming.Streams.ingestScreenStream]], so a document's
    * knobs mean the same thing on every path:
    *  - `signatures(rows)` is the stored-history frame the rows
    *    contribute (the slice an ingest stream appends; must accept an
    *    empty frame — the cold-start schema);
    *  - `screen(batch, historySigs)` returns the batch rows with no
    *    match in the history (columns unchanged).
    * The semantic family loads the persisted quantizer ONCE here, and
    * threads the SAME descriptor read's payload version into both
    * functions — the r19 handshake, so a retrained index against an
    * un-reassigned history refuses loudly on either path.
    */
  def screenFns(spark: SparkSession, s: Screen)
      : (DataFrame => DataFrame, (DataFrame, DataFrame) => DataFrame) = {
    import graft.llm.Dedup
    import graft.multimodal.Media
    import org.apache.spark.sql.functions.col
    s.family.toLowerCase match {
      case "exact" =>
        // history = the stored content column itself (the layout
        // q_job_screen seeds; hashes recompute map-side on read —
        // the screen is dedupAgainstHistory's Bloom + sliver anti-join)
        (df => df.select(col(s.contentCol)),
         (b, h) => Dedup.dedupAgainstHistory(b, h, s.contentCol))
      case "minhash" =>
        val (n, k) = (s.ngramN.getOrElse(5), s.numHashes.getOrElse(32))
        (df => Dedup.minhashHistorySignatures(df, s.idCol, s.contentCol,
           ngramN = n, numHashes = k),
         (b, h) => Dedup.minhashAgainstHistory(b, h, s.idCol, s.contentCol,
           ngramN = n, numHashes = k, bands = s.bands.getOrElse(8),
           threshold = s.threshold.getOrElse(1.0)))
      case "simhash" =>
        (df => Dedup.simhashSignatures(df, s.idCol, s.contentCol),
         (b, h) => Dedup.simhashAgainstHistory(b, h, s.idCol, s.contentCol,
           maxHamming = s.maxHamming.getOrElse(3)))
      case "image" =>
        val algo = s.algo.getOrElse("dhash")
        (df => Media.imageSignatures(df, s.idCol, s.contentCol, algo),
         (b, h) => Media.imageAgainstHistory(b, s.idCol, s.contentCol, h,
           maxHamming = s.maxHamming.getOrElse(6), algo = algo))
      case "audio" =>
        (df => Media.audioSignatures(df, s.idCol, s.contentCol),
         (b, h) => Media.audioAgainstHistory(b, s.idCol, s.contentCol, h,
           maxHamming = s.maxHamming.getOrElse(4)))
      case "semantic" =>
        val dir = s.indexDir.getOrElse(throw new IllegalArgumentException(
          "screen family 'semantic' needs \"index\" (the persisted quantizer dir)"))
        // version-checked by construction: the handshake stamp comes
        // from the SAME descriptor read that produced the centroids
        val (cents, v) = graft.llm.Ivf.loadIndexVersioned(spark, dir)
        (df => Dedup.semanticHistorySignatures(df, s.idCol, s.contentCol,
           cents, indexVersion = Some(v)),
         (b, h) => Dedup.semanticAgainstHistory(b, h, cents,
           s.idCol, s.contentCol, s.threshold.getOrElse(0.9), s.nprobe,
           indexVersion = Some(v)))
      case other => throw new IllegalArgumentException(
        s"Unsupported screen family: $other " +
          "(exact | minhash | simhash | image | audio | semantic)")
    }
  }

  /** "colname desc" / "colname" order spec → Column. */
  private def orderCol(spec: String): Column = {
    import org.apache.spark.sql.functions.col
    val parts = spec.trim.split("\\s+")
    if (parts.length > 1 && parts(1).equalsIgnoreCase("desc")) col(parts(0)).desc
    else col(parts(0)).asc
  }

  /** Audit counts — ref transform_engine.py log_transformation. Runs
    * the plan ONCE for the output count; input counts come from the
    * (cheap, metadata-served) source counts. Use only where the audit
    * is worth an action.
    */
  final case class RunStats(rowsIn: Map[String, Long], rowsOut: Long)
  def runWithStats(spark: SparkSession, sources: Map[String, DataFrame],
                   spec: Spec): (DataFrame, RunStats) = {
    val out = run(spark, sources, spec)
    (out, RunStats(sources.map { case (n, d) => n -> d.count() }, out.count()))
  }
}
