package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All are
  * codegen'd Column expressions (no UDFs) — they run map-side at
  * full whole-stage-codegen speed and never shuffle.
  *
  * (These extend beyond the reference repo, which has no text
  * analytics; required by the engine brief for LLM data pipelines.)
  */
object Text {

  // ---- document statistics -----------------------------------------
  // Every scorer below is ONE graft_doc_stats expression: a single
  // UTF-8 scan per document (graft.plans.DocStats) that equals the
  // regex composition it replaced, count for count.

  import graft.plans.DocStats.column

  /** Whitespace tokenization count (`\S+` runs). */
  def tokenCount(c: Column): Column = column(c, "tokens")

  /** BPE-ish pre-tokenizer count: letter runs / digit runs / symbol
    * runs, each with an optional leading space (GPT-2-style pattern
    * minus lookaheads).
    */
  def bpeishTokenCount(c: Column): Column = column(c, "bpe_tokens")

  // ---- quality scoring ----------------------------------------------

  def alphaCount(c: Column): Column = column(c, "alpha")
  def punctCount(c: Column): Column = column(c, "punct")

  val enStopwords: Seq[String] = graft.plans.DocStats.EnStopwords
  /** Whole-word [[enStopwords]] hits in `lower(c)`. */
  def stopwordCount(c: Column): Column = column(c, "stopwords")

  def alphaRatio(c: Column): Column = column(c, "alpha_ratio")
  def punctRatio(c: Column): Column = column(c, "punct_ratio")
  def stopwordRatio(c: Column): Column = column(c, "stopword_ratio")

  /** Composite quality score in [0,1]: length component (saturates at
    * `fullTokens` tokens) + alphabetic-character ratio + stopword
    * ratio. Deterministic double arithmetic; identical on any engine.
    */
  def qualityScore(c: Column, fullTokens: Int = 50): Column = {
    require(fullTokens >= 1, s"fullTokens must be >= 1, got $fullTokens")
    column(c, "quality_score", fullTokens)
  }

  // ---- Gopher-style document rules -----------------------------------
  // Public corpus-filtering heuristics (Rae et al. 2021 "Scaling
  // Language Models: Gopher" appendix A; Penedo et al. 2023
  // RefinedWeb).

  /** Mean word length: non-whitespace chars / whitespace tokens. */
  def meanWordLength(c: Column): Column = column(c, "mean_word_length")

  /** Hash/ellipsis symbols per word (Gopher: drop when >= 0.1). */
  def symbolToWordRatio(c: Column): Column = column(c, "symbol_ratio")

  def lineCount(c: Column): Column = column(c, "lines")

  /** Fraction of lines starting with a bullet (Gopher: drop >= 0.9). */
  def bulletLineFraction(c: Column): Column = column(c, "bullet_fraction")

  /** Fraction of lines ending in an ellipsis (Gopher: drop >= 0.3). */
  def ellipsisLineFraction(c: Column): Column = column(c, "ellipsis_fraction")

  /** Fraction of words containing at least one alphabetic character
    * (Gopher: drop < 0.8).
    */
  def alphaWordFraction(c: Column): Column = column(c, "alpha_word_fraction")

  /** Distinct-word / total-word ratio — low values mean heavy
    * repetition (RefinedWeb-style repetition screen).
    */
  def distinctWordRatio(c: Column): Column =
    when(tokenCount(c) === 0, lit(0.0)).otherwise(
      size(array_distinct(split(lower(trim(c)), "\\s+"))).cast("double") /
        tokenCount(c).cast("double"))

  /** Fraction of lines that are duplicates of an earlier line within
    * the document (Gopher repetition rule: drop when the mass of
    * duplicate lines is high). Map-side array math, no shuffle.
    */
  def dupLineFraction(c: Column): Column = {
    val lines = split(c, "\n")
    (size(lines) - size(array_distinct(lines))).cast("double") / size(lines)
  }

  /** Composite Gopher gate: true when every rule passes. Thresholds
    * are the published defaults, scaled-down token bounds exposed for
    * short-doc corpora.
    */
  def gopherPasses(c: Column, minTokens: Int = 50, maxTokens: Int = 100000): Column =
    column(c, "gopher_passes", minTokens, maxTokens)

  // ---- readability ---------------------------------------------------

  /** Approximate syllable count: vowel groups (the standard cheap
    * heuristic — exact syllabification needs a dictionary).
    */
  def syllableCount(c: Column): Column = column(c, "syllables")

  /** Sentence count: terminal-punctuation runs, floored at one. */
  def sentenceCount(c: Column): Column = column(c, "sentences")

  /** Flesch reading-ease score (206.835 - 1.015·words/sentences -
    * 84.6·syllables/words); higher = easier.
    */
  def fleschScore(c: Column): Column = column(c, "flesch")

  // ---- language ID ---------------------------------------------------

  /** Stopword/charset marker lists per language (n-gram heuristic).
    * CJK presence wins outright; otherwise argmax of stopword hits
    * with deterministic tie-break in declaration order (en first).
    */
  val langMarkers: Seq[(String, Seq[String])] = graft.plans.DocStats.LangMarkers

  def langScore(c: Column, lang: String): Column = {
    require(langMarkers.exists(_._1 == lang), s"no marker list for language '$lang'")
    column(c, "lang_" + lang)
  }

  def cjkCount(c: Column): Column = column(c, "cjk")

  def langId(c: Column): Column = column(c, "lang_id")

  // ---- fingerprinting ------------------------------------------------

  /** CCNet-style corpus-LM quality score: each document's mean
    * add-k-smoothed bigram log-probability under the bigram language
    * model of the WHOLE corpus — the perplexity-proxy screen that
    * separates fluent text from gibberish/boilerplate without an
    * external model (low score = improbable token transitions).
    *
    * One corpus pass builds the counts (bigram + unigram hash aggs,
    * map-side combined), a 1-row vocab frame broadcasts, and each
    * document's bigrams join the count frames — the bigram join is the
    * honest big-big shuffle of the design (corpus-sized both sides,
    * same as exact dedup); the unigram join shuffles on the first
    * token. Per-term ln arithmetic keeps one expression shape
    * engine-to-engine, terms sum decimal-exact (order-independent
    * under AQE/partitioning), and the final mean rounds to 6.
    * Output: (idCol, n_bigrams, lm_score); docs with < 2 tokens are
    * ABSENT from the output (no transitions to judge).
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
                    addK: Double = 0.5): DataFrame = {
    // addK <= 0 would NULL some log terms, silently shrinking the sum
    // while n_bigrams still counts them — a wrong mean, not an error
    require(addK > 0.0, s"addK must be > 0, got $addK")
    // split() keeps leading/trailing empty strings (trim strips only
    // spaces, not newlines/tabs) — a scraped doc ending in a newline
    // would inject a phantom ("last","") bigram and inflate vocab V
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"),
      t => t =!= "")
    val docs = df.select(col(idCol), toks.as("__t"))
    val n1 = greatest(size(col("__t")) - 1, lit(0))
    val bigrams = docs.select(col(idCol),
        explode(zip_with(
          slice(col("__t"), lit(1), n1),
          slice(col("__t"), lit(2), n1),
          (a, b) => struct(a.as("__w1"), b.as("__w2")))).as("__p"))
      .select(col(idCol), col("__p.__w1").as("__w1"), col("__p.__w2").as("__w2"))
    val bg = bigrams.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__c12"))
    val ug = docs.select(explode(col("__t")).as("__w1"))
      .groupBy(col("__w1")).agg(count(lit(1)).as("__c1"))
    val vocab = ug.agg(count(lit(1)).as("__v"))
    val term = log((col("__c12") + lit(addK)) /
      (col("__c1") + lit(addK) * col("__v")))
    // The smoothed term depends only on the bigram TYPE, so the log +
    // 6-dp decimal quantization run once per type (~vocab² rows), not
    // once per corpus instance, and quantized terms ride the instance
    // join as EXACT long micro-units summed in primitive arithmetic —
    // measured ~2× on the corpus-sized tail at sf10 (PLANS.md r15).
    // Join topology: type counts aggregate and the instance probe
    // shuffle by the same (w1, w2) key, so the bigram exchange is
    // planned once and REUSED (which is also why a broadcast hint
    // here LOSES: it forks a second full explode of the corpus).
    val typeTerm = bg
      .join(ug, Seq("__w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__tmic",
        (term.cast(org.apache.spark.sql.types.DecimalType(28, 6)) *
          lit(1000000)).cast("long"))
      .select(col("__w1"), col("__w2"), col("__tmic"))
    // The mean rounds in EXACT integer arithmetic: the micro-unit term
    // sum is an exact integer count of 1e-6 units, and round-half-away
    // of sum/n is pure bigint division — `round(double_sum / n, 6)`
    // would leave the rounding to each engine's double quotient, which
    // lands on opposite sides of a tie for quotients near a .5e-6
    // boundary (observed at sf0.1: -3.4144135 → -3.414414 vs
    // -3.414413).
    bigrams
      .join(typeTerm, Seq("__w1", "__w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__tmic")).as("__smic"))
      .withColumn("__mmic",
        when(col("__smic") >= 0L,
          expr("(2 * __smic + n_bigrams) DIV (2 * n_bigrams)"))
          .otherwise(-expr("(2 * (-__smic) + n_bigrams) DIV (2 * n_bigrams)")))
      .select(col(idCol), col("n_bigrams"),
        (col("__mmic").cast("double") / lit(1000000.0)).as("lm_score"))
  }

  /** Token-distribution drift between two corpus snapshots: PSI over
    * the reference snapshot's top-`topK` tokens (everything else in
    * one `__other` bucket) — the vocabulary-mix monitor that catches a
    * crawl source going sideways (language mix shift, boilerplate
    * flood, spam injection) before any model sees the data. Unlike
    * [[graft.quality.DQ.psiCategorical]] the categories are DERIVED
    * from the data (top-K by reference count, ties by token — a
    * distributed TakeOrdered, collected as ≤ topK literals), and the
    * per-category PSI terms sum DECIMAL-EXACT so the statistic is
    * independent of both partitioning and category order. Probability
    * floors (1e-4) mirror DQ.psi. Output one row:
    * (n_ref, n_cur, n_categories, psi, drifted); psi/drifted null
    * when a snapshot has no tokens.
    */
  def tokenDriftPsi(ref: DataFrame, cur: DataFrame, textCol: String,
                    topK: Int = 50, threshold: Double = 0.1): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val spark = ref.sparkSession
    import spark.implicits._
    def toks(df: DataFrame) = df.select(
      explode(split(lower(trim(col(textCol))), "\\s+")).as("__tok"))
      .filter(col("__tok") =!= "")
    // consumed twice: top-K pick + category re-group
    val refCounts = graft.GraftSession.pin(toks(ref).groupBy(col("__tok"))
      .agg(count(lit(1)).as("__n")))
    val top: Seq[String] = refCounts
      .orderBy(col("__n").desc, col("__tok").asc)
      .limit(topK).select("__tok").as[String].collect().toSeq
    // the tail-bucket label contains a SPACE, which no \s+-split token
    // can — a corpus token literally named "__other" (markup/code
    // corpora) must stay its own category, not merge into the tail
    val otherLabel = "(other tokens)"
    def catOf(tok: Column) =
      if (top.isEmpty) lit(otherLabel)
      else when(tok.isin(top: _*), tok).otherwise(lit(otherLabel))
    // reference side reuses the (token, count) aggregate that already
    // exists for the top-K pick — re-grouping the vocabulary-sized
    // frame by category costs nothing; re-exploding every reference
    // token occurrence would double the operator's dominant scan
    val refCats = refCounts
      .select(catOf(col("__tok")).as("__cat"), col("__n"))
      .groupBy(col("__cat")).agg(sum(col("__n")).as("__rn"))
    val curCats = toks(cur)
      .select(catOf(col("__tok")).as("__cat"))
      .groupBy(col("__cat")).agg(count(lit(1)).as("__cn"))
    val joined = refCats.join(curCats, Seq("__cat"), "full_outer")
      .select(col("__cat"),
        coalesce(col("__rn"), lit(0L)).as("__rn"),
        coalesce(col("__cn"), lit(0L)).as("__cn"))
    // ≤ topK+1 rows from here on — every aggregate below is tiny
    val tot = joined.agg(
      sum(col("__rn")).as("__tr"), sum(col("__cn")).as("__tc"))
    val withTot = joined.crossJoin(broadcast(tot))
    // greatest(total, 1): an EMPTY snapshot's total is 0 and ANSI mode
    // would abort on the division even though psi is nulled for that
    // case below; for any non-empty side the clamp is the identity
    val pR = greatest(col("__rn").cast("double") / greatest(col("__tr"), lit(1L)), lit(1.0e-4))
    val pC = greatest(col("__cn").cast("double") / greatest(col("__tc"), lit(1L)), lit(1.0e-4))
    // per-term decimal rounding makes the sum order-independent (ln
    // terms are doubles; raw double summation would vary with
    // partitioning and disagree with the oracle's row order)
    val term = (pC - pR) * log(pC / pR)
    val psiCol = round(graft.functions.Det.sumAt(term, 6), 6)
    withTot
      .agg(coalesce(max(col("__tr")), lit(0L)).as("n_ref"),
        coalesce(max(col("__tc")), lit(0L)).as("n_cur"),
        count(lit(1)).as("n_categories"), psiCol.as("__psi"))
      .select(col("n_ref"), col("n_cur"), col("n_categories"),
        when(col("n_ref") > 0L && col("n_cur") > 0L, col("__psi")).as("psi"),
        when(col("n_ref") > 0L && col("n_cur") > 0L, col("__psi") > threshold)
          .as("drifted"))
  }

  /** Exact content fingerprint (md5 of the full text). */
  def fingerprint(c: Column): Column = md5(c)

  /** Rolling-hash document fingerprint: the minimum md5 over all
    * k-character shingles (a 1-permutation MinHash — robust to small
    * edits anywhere but the minimal shingle). Higher-order functions
    * only; stays inside codegen, no UDF.
    */
  def shingleFingerprint(c: Column, k: Int = 8): Column =
    array_min(transform(
      sequence(lit(1), greatest(lit(1), length(c) - lit(k - 1))),
      i => md5(c.substr(i, lit(k)))))

  // ---- normalization -------------------------------------------------

  /** Canonical text normalization for dedup keys and downstream
    * tokenizers: strip ASCII control characters, collapse whitespace
    * runs to one space, trim, optionally lowercase. Pure codegen'd
    * regexp chain; the character class uses \\x escapes so Java regex
    * (Spark) and RE2 engines agree.
    */
  def normalize(c: Column, lowercase: Boolean = true): Column = {
    val cleaned = trim(regexp_replace(
      regexp_replace(c, "[\\x00-\\x1f\\x7f]", " "), "\\s+", " "))
    if (lowercase) lower(cleaned) else cleaned
  }

  // ---- PII redaction -------------------------------------------------
  // Training corpora must scrub personal identifiers before the data
  // reaches a model. Patterns are RE2-compatible (no lookaround, no
  // backreferences) so Java regex (Spark) and RE2 (DuckDB/Go engines)
  // agree byte-for-byte — oracle-checkable redaction. Order matters:
  // phone runs before SSN so 415-555-0123 isn't half-eaten by the
  // shorter SSN shape; the list is applied strictly in sequence.

  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "[PHONE]"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "[SSN]"),
    ("ipv4", "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "[IP]"))

  /** Replace every PII occurrence with its category token. One
    * codegen'd regexp_replace chain, map-side, no shuffle.
    */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (_, pat, token)) =>
      regexp_replace(acc, pat, token)
    }

  /** Count of PII hits per category, BEFORE redaction (audit metric). */
  def piiCounts(c: Column): Seq[(String, Column)] =
    piiPatterns.map { case (name, pat, _) => name -> regexp_count(c, lit(pat)) }

  // ---- encoding quality ----------------------------------------------
  // Mojibake screens: decode failures surface as U+FFFD replacement
  // characters or stray control bytes; both are map-side regexp counts.

  /** Count of U+FFFD replacement characters (decode-failure marker). */
  def replacementCharCount(c: Column): Column =
    regexp_count(c, lit("\uFFFD"))

  /** Count of control characters that are not tab/newline/CR (raw
    * binary leaking into text).
    */
  def strayControlCount(c: Column): Column =
    regexp_count(c, lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"))

  /** Clean-encoding gate: no replacement characters, stray controls
    * under `maxControlRatio` of the text length.
    */
  def encodingClean(c: Column, maxControlRatio: Double = 0.001): Column =
    replacementCharCount(c) === 0 &&
      strayControlCount(c).cast("double") <= greatest(length(c), lit(1)) * maxControlRatio

  /** Salted pseudonymization: stable surrogate key for an identifier
    * column (same input + salt → same token; joins/groupBys keep
    * working on the pseudonym, the raw value never leaves the plan).
    * sha256 is preimage-resistant for high-entropy salts — this is
    * masking for analytics, not encryption (no un-pseudonymize).
    * Map-side, codegen'd, engine-portable.
    */
  def pseudonymize(c: Column, salt: String): Column =
    sha2(concat(lit(salt), c.cast("string")), 256)
}
