package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Sampling, Search, Text}

/** Retrieval / training-shard query pack over the `documents` corpus:
  * TF-IDF weighting, BM25 search, vocabulary stats, chunking, and
  * sequence packing — each with a DuckDB oracle sharing the exact
  * tokenizer and score composition (same operations in the same order,
  * scores rounded before ranking, explicit tie-breaks).
  */
object QueriesSearch {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val bm25Terms = Seq("spark", "hash", "vector")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_text_tfidf" -> ((s, dir) =>
      Search.tfidfTopTerms(docs(s, dir), "doc_id", "text", k = 3)),

    "q_search_bm25" -> ((s, dir) =>
      Search.bm25Search(docs(s, dir), "doc_id", "text", bm25Terms, k = 20)),

    "q_text_vocab" -> ((s, dir) =>
      Search.vocabTop(docs(s, dir), "doc_id", "text", k = 20)),

    "q_text_ngrams" -> ((s, dir) =>
      Search.ngramTop(docs(s, dir), "doc_id", "text", n = 2, k = 20)),

    "q_text_chunks" -> ((s, dir) =>
      Search.chunkDocs(docs(s, dir), "doc_id", "text", size = 120, overlap = 20)),

    // the full training-data prep chain in ONE declarative plan:
    // quality gate -> exact dedup (keep lowest id) -> token counting
    // -> sequence packing. Every stage is oracle-expressible, so the
    // composition is hash-checked end-to-end, not just its pieces
    "q_corpus_pipeline" -> ((s, dir) => {
      val gated = docs(s, dir)
        .filter(Text.qualityScore(col("text")) >= 0.5)
      val deduped = graft.llm.Dedup.exact(gated, "doc_id", "text")
      val sized = deduped
        .withColumn("shard", col("doc_id") % 4)
        .withColumn("n_tokens", Text.tokenCount(col("text")))
      Sampling.packSequences(sized, "doc_id", "n_tokens", budget = 256, Seq("shard"))
        .select("doc_id", "shard", "n_tokens", "pack_id", "pack_offset")
    }),

    // r20 CAPSTONE — the brief's crawl pipeline END-TO-END: a STORED
    // document drives quality gate (a sql_expr over graft_doc_stats,
    // the kernel behind Text.qualityScore) → exact-dedup screen vs a stored history →
    // minhash near-dup screen vs a stored signature history (the
    // threshold-1.0 exact contract) → token count + shard → DQ gate,
    // all through Job.runJson with the r19 screen step; then the
    // sampling tail: stratified per-language downsample → sequence
    // packing. Every stage is oracle-expressible, so the WHOLE crawl
    // path is hash-checked as one composition, not just its pieces.
    "q_corpus_crawl" -> ((s, dir) => {
      val tmp = TempDirs.register(java.nio.file.Files.createTempDirectory("graft_crawl")).toString
      val all = docs(s, dir)
      // stored histories: exact = raw texts of the %5 slice, near-dup
      // = minhash signatures of the %7 slice (built once, as a real
      // crawl's accumulated history would be)
      graft.Recovery.idempotentWrite(
        all.filter(col("doc_id") % 5 === 0).select("text"),
        s"$tmp/hist_exact")
      graft.Recovery.idempotentWrite(
        graft.llm.Dedup.minhashHistorySignatures(
          all.filter(col("doc_id") % 7 === 0), "doc_id", "text"),
        s"$tmp/hist_minhash")
      // Text.qualityScore through the injected SQL function: the job
      // document runs the same kernel expression as the Column API
      val qExpr = "graft_doc_stats(text, 'quality_score', 50)"
      val json =
        s"""{
           |  "datasets": [
           |    {"name": "docs", "format": "parquet", "path": "$dir/documents.parquet"}
           |  ],
           |  "pipeline": {"primary": "docs", "steps": [
           |    {"type": "sql_expr", "name": "q", "expr": "$qExpr"},
           |    {"type": "filter", "column": "q", "op": ">=", "value": 0.5},
           |    {"type": "sql_expr", "name": "__batch", "expr": "doc_id % 5"},
           |    {"type": "filter", "column": "__batch", "op": "!=", "value": 0},
           |    {"type": "screen", "family": "exact", "history": "$tmp/hist_exact",
           |     "id": "doc_id", "column": "text"},
           |    {"type": "screen", "family": "minhash", "history": "$tmp/hist_minhash",
           |     "id": "doc_id", "column": "text"},
           |    {"type": "sql_expr", "name": "n_tokens",
           |     "expr": "CAST(graft_doc_stats(text, 'tokens') AS BIGINT)"},
           |    {"type": "sql_expr", "name": "shard", "expr": "doc_id % 4"},
           |    {"type": "select", "columns": ["doc_id", "lang", "n_tokens", "shard"]}
           |  ]},
           |  "quality": {"rules": [
           |    {"rule_id": "lang_nn", "type": "completeness", "column": "lang"},
           |    {"rule_id": "tok_pos", "type": "range", "column": "n_tokens",
           |     "min": 0, "max": 1000000000}
           |  ], "min_score": 100.0}
           |}""".stripMargin
      val out = graft.pipeline.Job.runJson(s, json).output
      val sampled = Sampling.stratifiedSample(out, "doc_id", "lang",
        Map("en" -> 0.25, "zh" -> 0.5))
      Sampling.packSequences(sampled, "doc_id", "n_tokens",
        budget = 256, Seq("shard"))
        .select("doc_id", "lang", "shard", "n_tokens", "pack_id", "pack_offset")
    }),

    // GPT-style concat-and-split packing into 512-token sequences;
    // 8 hash shards stand in for the thousands a cluster run would use
    "q_pack" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("shard", col("doc_id") % 8)
        .withColumn("n_tokens", Text.tokenCount(col("text")))
      Sampling.packSequences(d, "doc_id", "n_tokens", budget = 512, Seq("shard"))
        .select("doc_id", "shard", "n_tokens", "pack_id", "pack_offset")
    })
  )

  // shared tokenizer CTE — the single definition both engines use
  private val tok =
    "SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents"

  def oracleSql: Map[String, String] = Map(

    "q_corpus_pipeline" -> {
      val tc = "len(regexp_extract_all(text, '\\S+'))"
      val ac = "len(regexp_extract_all(text, '[A-Za-z]'))"
      val sc = "len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is)\\b'))"
      val q = s"""LEAST(1.0, CAST($tc AS DOUBLE) / 50.0) * 0.3
                 | + (CAST($ac AS DOUBLE) / GREATEST(length(text), 1)) * 0.4
                 | + (CAST($sc AS DOUBLE) / GREATEST($tc, 1)) * 0.3""".stripMargin
      s"""WITH gated AS (
         |  SELECT doc_id, text FROM documents WHERE ($q) >= 0.5),
         |deduped AS (
         |  SELECT doc_id, text FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM gated)
         |  WHERE rn = 1),
         |t AS (
         |  SELECT doc_id, doc_id % 4 AS shard,
         |         len(regexp_extract_all(text, '\\S+')) AS n_tokens
         |  FROM deduped),
         |c AS (
         |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
         |    PARTITION BY shard
         |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
         |  FROM t)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(floor(before / 256) AS BIGINT) AS pack_id,
         |  before % 256 AS pack_offset
         |FROM c""".stripMargin
    },

    "q_corpus_crawl" -> {
      val tc = "len(regexp_extract_all(text, '\\S+'))"
      val ac = "len(regexp_extract_all(text, '[A-Za-z]'))"
      val sc = "len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is)\\b'))"
      val q = s"""LEAST(1.0, CAST($tc AS DOUBLE) / 50.0) * 0.3
                 | + (CAST($ac AS DOUBLE) / GREATEST(length(text), 1)) * 0.4
                 | + (CAST($sc AS DOUBLE) / GREATEST($tc, 1)) * 0.3""".stripMargin
      val h = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
      val cut25 = Sampling.cutoffHex(0.25)
      val cut50 = Sampling.cutoffHex(0.5)
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_sort(list_distinct([array_to_string(w[i:least(i+4,len(w))], ' ')
         |      for i in range(1, greatest(len(w)-4, 1)+1)])) AS s
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         |        FROM documents)),
         |gated AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE ($q) >= 0.5 AND doc_id % 5 <> 0),
         |screened AS (
         |  SELECT g.doc_id, g.lang, g.text
         |  FROM gated g JOIN sh gs ON g.doc_id = gs.doc_id
         |  WHERE NOT EXISTS (
         |      SELECT 1 FROM documents h2
         |      WHERE h2.doc_id % 5 = 0 AND h2.text = g.text)
         |    AND NOT EXISTS (
         |      SELECT 1 FROM sh hs
         |      WHERE hs.doc_id % 7 = 0 AND hs.s = gs.s)),
         |sampled AS (
         |  SELECT doc_id, lang,
         |         CAST($tc AS BIGINT) AS n_tokens,
         |         doc_id % 4 AS shard
         |  FROM screened
         |  WHERE CASE WHEN lang = 'zh' THEN $h < '$cut50'
         |             WHEN lang = 'en' THEN $h < '$cut25'
         |             ELSE TRUE END),
         |c AS (
         |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
         |    PARTITION BY shard
         |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
         |  FROM sampled)
         |SELECT doc_id, lang, shard, n_tokens,
         |  CAST(floor(before / 256) AS BIGINT) AS pack_id,
         |  before % 256 AS pack_offset
         |FROM c""".stripMargin
    },

    "q_text_tfidf" ->
      s"""WITH tok AS ($tok),
         |tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
         |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, tf.cnt, dfx.df,
         |    round((CAST(tf.cnt AS DOUBLE) / CAST(dl.dl AS DOUBLE)) *
         |          ln(CAST(n.n AS DOUBLE) / CAST(dfx.df AS DOUBLE)), 6) AS tfidf
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term) CROSS JOIN n)
         |SELECT doc_id, term, cnt, df, tfidf, rnk FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3""".stripMargin,

    "q_search_bm25" ->
      s"""WITH tok AS ($tok),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
         |tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM tok
         |       WHERE term IN (${bm25Terms.map("'" + _ + "'").mkString(", ")})
         |       GROUP BY 1, 2),
         |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |c AS (SELECT COUNT(*) AS n,
         |             SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS sumdl
         |      FROM documents),
         |scored AS (
         |  SELECT tf.doc_id,
         |    ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(cnt AS DOUBLE) * (1.2 + 1.0)) /
         |    (CAST(cnt AS DOUBLE) + 1.2 * ((1.0 - 0.75) +
         |       0.75 * CAST(dl.dl AS DOUBLE) /
         |         (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))) AS contrib
         |  FROM tf JOIN dl USING (doc_id) CROSS JOIN c JOIN dfx USING (term)),
         |per_doc AS (
         |  SELECT doc_id, COUNT(*) AS n_hits,
         |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,6))) AS DOUBLE), 4) AS score
         |  FROM scored GROUP BY 1)
         |SELECT doc_id, n_hits, score, rnk FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk FROM per_doc)
         |WHERE rnk <= 20""".stripMargin,

    "q_text_vocab" ->
      s"""WITH tok AS ($tok),
         |by_term AS (SELECT term, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
         |            FROM tok GROUP BY 1)
         |SELECT term, cnt, df, rnk FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    ORDER BY cnt DESC, term ASC) AS BIGINT) AS rnk FROM by_term)
         |WHERE rnk <= 20""".stripMargin,

    "q_text_ngrams" ->
      """WITH tl AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, GREATEST(len(l) - 1, 0) + 1),
        |    i -> l[i] || ' ' || l[i + 1])) AS ngram
        |  FROM tl),
        |by_gram AS (SELECT ngram, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
        |            FROM g GROUP BY 1)
        |SELECT ngram, cnt, df, rnk FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (
        |    ORDER BY cnt DESC, ngram ASC) AS BIGINT) AS rnk FROM by_gram)
        |WHERE rnk <= 20""".stripMargin,

    // stride = size - overlap = 100; range() is end-exclusive, Spark's
    // sequence() end-inclusive — the +1 aligns them
    "q_text_chunks" ->
      """SELECT doc_id,
        |  CAST((u.start - 1) // 100 AS BIGINT) AS chunk_idx,
        |  CAST(u.start AS BIGINT) AS chunk_start,
        |  substring(text, CAST(u.start AS INT), 120) AS chunk,
        |  CAST(length(substring(text, CAST(u.start AS INT), 120)) AS BIGINT) AS chunk_len
        |FROM documents,
        |  unnest(range(1, GREATEST(length(text), 1) + 1, 100)) AS u(start)""".stripMargin,

    "q_pack" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
        |    PARTITION BY shard
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
        |  FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(floor(before / 512) AS BIGINT) AS pack_id,
        |  before % 512 AS pack_offset
        |FROM c""".stripMargin
  )
}
