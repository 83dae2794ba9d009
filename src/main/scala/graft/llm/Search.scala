package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword-retrieval operators over a text corpus: TF-IDF term
  * weighting, BM25 ranked search, vocabulary statistics, and
  * fixed-window document chunking (the RAG-ingestion shape). (Beyond
  * the reference repo, which has no retrieval surface; required by the
  * engine brief for LLM data pipelines.)
  *
  * Scale design: everything is a declarative plan. Tokenization is one
  * codegen'd `regexp_extract_all` map pass; term statistics are hash
  * aggregations keyed on (doc, term) / term — partial aggregation
  * applies, so the shuffle carries one row per distinct key, not one
  * per token. Corpus scalars (doc count, average doc length) are
  * 1-row frames attached with a broadcast cross join — the corpus is
  * never shuffled to compute them. Per-doc top-k runs through the
  * rank-pushdown window (WindowGroupLimit), partitioned by doc id —
  * maximal parallelism, no global sort.
  *
  * Determinism across engines: scores use only integer-derived
  * divisions plus one `ln`, rounded before ranking, with explicit
  * tie-breaks — the DuckDB oracles reproduce results bit-for-bit.
  */
object Search {

  /** Lowercase alphanumeric-run tokenizer — the one shared definition
    * every operator (and every oracle) uses.
    */
  val tokenPattern = "[a-z0-9]+"
  def tokens(c: Column): Column =
    regexp_extract_all(lower(c), lit(tokenPattern), lit(0))

  /** Global top-`k` with a dense `rnk` column, WITHOUT a
    * single-partition rank window: orderBy+limit plans as
    * TakeOrderedAndProject (per-partition heaps + merge of k); the
    * row_number then runs over just the k survivors. One definition so
    * the tie-break and the rank cast cannot drift between operators.
    */
  private def rankedTopK(df: DataFrame, k: Int, sort: Seq[Column]): DataFrame = {
    val topk = df.orderBy(sort: _*).limit(k)
    topk.withColumn("rnk",
      row_number().over(Window.orderBy(sort: _*)).cast("long"))
  }

  /** Per-(doc, term) occurrence counts with per-doc token totals.
    * Output: (idCol, term, cnt, dl). `dl` counts ALL tokens of the doc
    * (computed map-side from the token array, before any term filter).
    * The token array binds to a column FIRST so the regexp tokenizer
    * runs once per doc — inlining it under size+explode re-evaluates
    * the regex per reference.
    */
  def docTermFreq(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("cnt"))

  /** One-row corpus frame: (__n docs, __sumdl total tokens). Attached
    * via broadcast cross join; integer sums keep the derived averages
    * bit-deterministic (`sum/count`, never a streaming float mean).
    */
  private def corpusStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(count(lit(1)).as("__n"),
      sum(size(tokens(col(textCol)))).as("__sumdl"))

  /** Top-`k` TF-IDF terms per document.
    * tf = cnt/dl, idf = ln(N/df); score rounded to 6 dp BEFORE ranking
    * so cross-engine float ordering cannot diverge, ties break on term.
    * Output: (idCol, term, cnt, df, tfidf, rnk).
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    // tf feeds both the score join and the document-frequency agg —
    // and the two subtrees prune different columns, so ReuseExchange
    // can NOT dedupe them (verified at runtime: without the pin the
    // corpus is tokenized+exploded+shuffled twice). The caller's scope
    // owns the pin, as in Lof.scores.
    val tf = graft.GraftSession.pin(docTermFreq(df, idCol, textCol))
    val termDf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(termDf, Seq("term")) // vocab-sized side: AQE broadcasts when small
      .join(broadcast(corpusStats(df, textCol).select("__n")))
      .withColumn("tfidf", round(
        (col("cnt").cast("double") / col("dl").cast("double")) *
          log(col("__n").cast("double") / col("df").cast("double")), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("cnt"), col("df"),
        col("tfidf"), col("rnk").cast("long").as("rnk"))
  }

  /** BM25 ranked search: top-`k` documents for a bag of query terms
    * (Robertson/Sparck Jones; k1/b are the standard defaults).
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)); per-term contributions
    * sum per doc, rounded to 4 dp before ranking, doc-id tie-break.
    * Output: (idCol, n_hits, score, rnk).
    */
  def bm25Search(df: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k: Int = 20,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // pinned: feeds both the df agg and the score join (see
    // tfidfTopTerms — exchange reuse cannot dedupe the two subtrees);
    // post-filter the frame is hits-only, far smaller than the corpus
    val tf = graft.GraftSession.pin(docTermFreq(df, idCol, textCol)
      .filter(col("term").isin(queryTerms: _*)))
    // df counts docs containing the term WITHIN the filtered frame —
    // identical to corpus df because the filter keeps every (doc, term)
    // row of the query terms
    val termDf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(termDf), Seq("term"))
      .join(broadcast(corpusStats(df, textCol)))
      .withColumn("__avgdl", col("__sumdl").cast("double") / col("__n").cast("double"))
      .withColumn("__idf", log(lit(1.0) +
        (col("__n").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("__contrib", col("__idf") *
        (col("cnt").cast("double") * lit(k1 + 1.0)) /
        (col("cnt").cast("double") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("__avgdl"))))
    // decimal-exact contribution sum (order-independent across
    // partitions/engines), then one final round — the Det pattern
    val perDoc = scored.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_hits"),
      round(graft.functions.Det.sumAt(col("__contrib"), 6), 4).as("score"))
    rankedTopK(perDoc, k, Seq(col("score").desc, col(idCol).asc))
      .select(col(idCol), col("n_hits"), col("score"), col("rnk"))
  }

  /** Corpus vocabulary statistics: top-`k` terms by total occurrences.
    * Output: (term, cnt total occurrences, df docs containing, rnk).
    * One token explode + one hash agg; the ranked frame is vocab-sized.
    */
  def vocabTop(df: DataFrame, idCol: String, textCol: String,
               k: Int = 20): DataFrame = {
    val byTerm = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"), count_distinct(col(idCol)).as("df"))
    // the vocabulary can be tens of millions of terms on a web corpus —
    // never single-sort it
    rankedTopK(byTerm, k, Seq(col("cnt").desc, col("term").asc))
      .select(col("term"), col("cnt"), col("df"), col("rnk"))
  }

  /** Per-(doc, n-gram) occurrence counts — the shared building block
    * for [[ngramTop]] and per-document repetition stats. N-grams are
    * built map-side by the native [[graft.plans.ArrayNgramsF]] kernel
    * (one JVM loop per row; spec-checked bit-for-bit against
    * [[ngramsHof]]), then counted in one hash agg.
    * Output: (idCol, ngram space-joined, cnt).
    */
  def ngramCounts(df: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    df.select(col(idCol),
        explode(graft.plans.TextExpressions.arrayNgrams(tokens(col(textCol)), n))
          .as("ngram"))
      .groupBy(col(idCol), col("ngram"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The declarative HOF gram build (parity reference for the native
    * kernel). The token array must be BOUND to a column first:
    * element_at inside the transform lambda otherwise re-evaluates the
    * regexp tokenizer for every one of the ~n_tokens x n accesses (the
    * round-4 jaccard pathology — 5x+ on real corpora); callers select
    * `tokens(text).as(toksCol)` in a prior projection.
    */
  private[graft] def ngramsHof(toks: Column, n: Int): Column = {
    val upper = size(toks) - lit(n - 1)
    // sequence(1, 0) would generate DESCENDING [1, 0] — guard to empty
    when(upper >= 1, transform(
      sequence(lit(1), upper),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Top-`k` word n-grams by total occurrences (corpus repetition /
    * phrase-mining stat); top-k via TakeOrderedAndProject as above.
    * Output: (ngram space-joined, cnt, df, rnk).
    */
  def ngramTop(df: DataFrame, idCol: String, textCol: String,
               n: Int = 2, k: Int = 20): DataFrame = {
    val byGram = ngramCounts(df, idCol, textCol, n)
      .groupBy(col("ngram"))
      .agg(sum(col("cnt")).as("cnt"), count(lit(1)).as("df"))
    rankedTopK(byGram, k, Seq(col("cnt").desc, col("ngram").asc))
      .select(col("ngram"), col("cnt"), col("df"), col("rnk"))
  }

  /** Fixed-width character chunking with overlap (RAG ingestion): one
    * row per chunk, `size` chars starting every `size - overlap`. The
    * final chunk may be short; empty docs yield one empty chunk (so no
    * document silently disappears). Pure generator plan: sequence +
    * posexplode stay map-side — chunking 100 TB is one scan, no shuffle.
    * Output: (idCol, chunk_idx, chunk_start, chunk, chunk_len).
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                size: Int, overlap: Int = 0): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    val starts = sequence(lit(1), greatest(length(col(textCol)), lit(1)), lit(stride))
    df.select(col(idCol), col(textCol), posexplode(starts).as(Seq("__pos", "__start")))
      .select(col(idCol),
        col("__pos").cast("long").as("chunk_idx"),
        col("__start").cast("long").as("chunk_start"),
        substring(col(textCol), col("__start").cast("int"), lit(size)).as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("long"))
  }
}
