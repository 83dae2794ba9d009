package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The regex compositions the [[graft.llm.Text]] scorers were first
  * written as — now the reference the fused `graft_doc_stats` kernel
  * is pinned against (TextKernelSpec), and the same patterns the DuckDB
  * oracles run.
  *
  * Cost note: Spark 4.1 plans every `regexp_count` as
  * `size(regexp_extract_all(...))`, so each count below builds a match
  * array (it does NOT avoid materializing matches), and a filter pushed
  * below a projection re-derives the projected input once per
  * reference. That is why the engine no longer runs these forms.
  */
object TextRegex {
  def tokenCount(c: Column): Column = regexp_count(c, lit("\\S+"))

  /** GPT-2-style pre-tokenizer pattern minus lookaheads (which RE2-class
    * engines reject).
    */
  val bpeishPattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
  def bpeishTokenCount(c: Column): Column = regexp_count(c, lit(bpeishPattern))

  def alphaCount(c: Column): Column = regexp_count(c, lit("[A-Za-z]"))
  def punctCount(c: Column): Column = regexp_count(c, lit("[.,;:!?]"))

  private def wordHits(c: Column, words: Seq[String]): Column =
    regexp_count(lower(c), lit("\\b(" + words.mkString("|") + ")\\b"))
  def stopwordCount(c: Column): Column = wordHits(c, graft.llm.Text.enStopwords)

  def alphaRatio(c: Column): Column =
    alphaCount(c).cast("double") / greatest(length(c), lit(1))
  def punctRatio(c: Column): Column =
    punctCount(c).cast("double") / greatest(length(c), lit(1))
  def stopwordRatio(c: Column): Column =
    stopwordCount(c).cast("double") / greatest(tokenCount(c), lit(1))

  def qualityScore(c: Column, fullTokens: Int = 50): Column =
    least(lit(1.0), tokenCount(c).cast("double") / lit(fullTokens.toDouble)) * lit(0.3) +
      alphaRatio(c) * lit(0.4) + stopwordRatio(c) * lit(0.3)

  def meanWordLength(c: Column): Column =
    (length(c) - regexp_count(c, lit("\\s"))).cast("double") /
      greatest(tokenCount(c), lit(1))

  def symbolToWordRatio(c: Column): Column =
    regexp_count(c, lit("#|\\.\\.\\.|…")).cast("double") / greatest(tokenCount(c), lit(1))

  def lineCount(c: Column): Column = regexp_count(c, lit("\n")) + lit(1)

  def bulletLineFraction(c: Column): Column =
    regexp_count(c, lit("(?m)^\\s*[-*•]")).cast("double") / lineCount(c)

  def ellipsisLineFraction(c: Column): Column =
    regexp_count(c, lit("(?m)(\\.\\.\\.|…) *$")).cast("double") / lineCount(c)

  def alphaWordFraction(c: Column): Column =
    regexp_count(c, lit("\\S*[A-Za-z]\\S*")).cast("double") / greatest(tokenCount(c), lit(1))

  def gopherPasses(c: Column, minTokens: Int = 50, maxTokens: Int = 100000): Column =
    tokenCount(c).between(minTokens, maxTokens) &&
      meanWordLength(c).between(3.0, 10.0) &&
      symbolToWordRatio(c) < 0.1 &&
      bulletLineFraction(c) < 0.9 &&
      ellipsisLineFraction(c) < 0.3 &&
      alphaWordFraction(c) > 0.8

  def syllableCount(c: Column): Column = regexp_count(lower(c), lit("[aeiouy]+"))

  def sentenceCount(c: Column): Column = greatest(regexp_count(c, lit("[.!?]+")), lit(1))

  def fleschScore(c: Column): Column = {
    val words = greatest(tokenCount(c), lit(1)).cast("double")
    val sentences = sentenceCount(c).cast("double")
    val syllables = syllableCount(c).cast("double")
    lit(206.835) - lit(1.015) * words / sentences - lit(84.6) * syllables / words
  }

  def langScore(c: Column, lang: String): Column =
    wordHits(c, graft.llm.Text.langMarkers.toMap.apply(lang))

  def cjkCount(c: Column): Column = regexp_count(c, lit("[\\u4e00-\\u9fff]"))

  def langId(c: Column): Column = {
    val scores = graft.llm.Text.langMarkers.map { case (l, _) => l -> langScore(c, l) }
    val best = greatest(scores.map(_._2): _*)
    // first-wins tie-break in declaration order (en, de, fr, es)
    val firstWins = scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best, lit(l)).otherwise(acc)
    }
    when(cjkCount(c) > 0, lit("zh")).otherwise(firstWins)
  }
}
