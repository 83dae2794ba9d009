package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpExtractAll, RegExpReplace}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

import graft.llm.Text
import graft.plans.DocStatF

/** The fused `graft_doc_stats` kernel against the regex compositions it
  * replaced ([[TextRegex]]): every scorer, value for value, on
  * hand-picked Java-regex corner cases and on generated text, through
  * both the interpreted and the generated-code path. Plus the shape of
  * the optimized curation plan.
  */
class TextKernelSpec extends SparkSpec {
  import spark.implicits._

  private def pair(name: String, kernel: Column => Column, regex: Column => Column) =
    (name, kernel, regex)

  private val pairs: Seq[(String, Column => Column, Column => Column)] = Seq(
    pair("tokenCount", Text.tokenCount, TextRegex.tokenCount),
    pair("bpeishTokenCount", Text.bpeishTokenCount, TextRegex.bpeishTokenCount),
    pair("alphaCount", Text.alphaCount, TextRegex.alphaCount),
    pair("punctCount", Text.punctCount, TextRegex.punctCount),
    pair("stopwordCount", Text.stopwordCount, TextRegex.stopwordCount),
    pair("alphaRatio", Text.alphaRatio, TextRegex.alphaRatio),
    pair("punctRatio", Text.punctRatio, TextRegex.punctRatio),
    pair("stopwordRatio", Text.stopwordRatio, TextRegex.stopwordRatio),
    pair("qualityScore", Text.qualityScore(_), TextRegex.qualityScore(_)),
    pair("qualityScore(7)", Text.qualityScore(_, 7), TextRegex.qualityScore(_, 7)),
    pair("meanWordLength", Text.meanWordLength, TextRegex.meanWordLength),
    pair("symbolToWordRatio", Text.symbolToWordRatio, TextRegex.symbolToWordRatio),
    pair("lineCount", Text.lineCount, TextRegex.lineCount),
    pair("bulletLineFraction", Text.bulletLineFraction, TextRegex.bulletLineFraction),
    pair("ellipsisLineFraction", Text.ellipsisLineFraction, TextRegex.ellipsisLineFraction),
    pair("alphaWordFraction", Text.alphaWordFraction, TextRegex.alphaWordFraction),
    pair("gopherPasses", Text.gopherPasses(_), TextRegex.gopherPasses(_)),
    pair("gopherPasses(3,30)", Text.gopherPasses(_, 3, 30), TextRegex.gopherPasses(_, 3, 30)),
    pair("syllableCount", Text.syllableCount, TextRegex.syllableCount),
    pair("sentenceCount", Text.sentenceCount, TextRegex.sentenceCount),
    pair("fleschScore", Text.fleschScore, TextRegex.fleschScore),
    pair("cjkCount", Text.cjkCount, TextRegex.cjkCount),
    pair("langId", Text.langId, TextRegex.langId)) ++
    Text.langMarkers.map { case (l, _) =>
      pair(s"langScore($l)", (c: Column) => Text.langScore(c, l),
        (c: Column) => TextRegex.langScore(c, l))
    }

  /** Kernel and regex columns side by side; mismatches as messages. */
  private def mismatches(df: DataFrame): Seq[String] = {
    val t = col("t")
    val cols = pairs.map(_._2(t)) ++ pairs.map(_._3(t))
    val rows = df.select(t +: cols: _*).collect()
    for {
      r <- rows.toSeq
      ((name, _, _), k) <- pairs.zipWithIndex
      kernel = r.get(1 + k)
      regex = r.get(1 + pairs.length + k)
      // boxed equals: doubles compare bit-for-bit, null only equals null
      if !(kernel == regex || (kernel != null && kernel.equals(regex)))
    } yield s"$name(${show(r.getString(0))}): kernel $kernel, regex $regex"
  }

  private def show(s: String): String =
    if (s == null) "null"
    else s.flatMap(ch => if (ch < 0x20 || ch > 0x7e) f"\\u${ch.toInt}%04x" else ch.toString)

  /** Both evaluation paths: a local relation is folded by the optimizer
    * through `eval`; an RDD scan runs the generated code.
    */
  private def assertSame(texts: Seq[String]): Unit = {
    val local = texts.toDF("t")
    val scanned = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(Row(_)), 2), local.schema)
    val bad = mismatches(local) ++ mismatches(scanned)
    assert(bad.isEmpty, bad.take(20).mkString("\n", "\n", ""))
  }

  test("kernel == regex on Java-regex corner cases") {
    assertSame(Seq(
      null, "", " ", "\n", "\r\n", "a", "A",
      // \b next to digits and underscores
      "the1 1the _the the_ the a_a 2a a2 is_ _is is", "in9 9in (in) in.",
      // (?m)^ after every line terminator, never at the very end; $ before CRLF
      "- a\r\n- b...\r\n* c\u2026\r\n\u2022 d", "x...\r\n", "x... \r\ny\u2026  \n",
      "\r\n\r\n-", "\n\n- x\n", " \t- a\n  * b\n\u000b\u000c-c", "-\n", "x\n",
      "a\u2028- b\u2029* c\u0085\u2022 d\u2028", "\r-", "line\r\n\r\n  -x\r\n",
      "a....\nb.....\n......", "..\u2026\n.\u2026\n\u2026.\n", ". . .\n",
      "x..\ny.. \nz..", "..\r\n.\n", "-- *\n\u2022\u2022\n",
      // length in code points
      "\ud83d\ude42 the \ud83d\ude42\ud83d\ude42 a", "\ud840\udc00the \ud840\udc00 the",
      // [A-Za-z] is ASCII only
      "\u00e9t\u00e9 stra\u00dfe \uff41\uff42 caf\u00e9",
      // Unicode lower(): İ lowers to i + U+0307, the Kelvin sign to k
      "THE AND \u0130S \u0130N \u212a THE\u0130 DER DIE", "\u0130\u0130 \u212aey \u00c9T\u00c9",
      "\u03a3\u0391\u03a3 THE \u03a3", "AEIOUY aeiouy \u0130\u0130i",
      // combining marks join the word of their base
      "the\u0301 e\u0301the \u0301the the \ud834\udd67the the\ud834\udd67",
      "\u00e9the the\u00e9 \u4e2dthe the\u4e2d der\u00df",
      // language id: CJK wins, ties go to the first language
      "\u4e2d\u6587 the", "\u4dff\ua000 and", "\u9fff", "der le", "y es el",
      "und und the", "la le les et est", "the the der der",
      // symbols and sentences
      "### ... ### ...!?!", "...?!. hi! x.y", "a#b#c \u2026\u2026\u2026", "??? !!! ...",
      // non-ASCII whitespace is \S in Java regex
      "a\u00a0b \u3000 c\u2003d", "tab\there\u000bvt\u000cff\rcr"))
  }

  test("kernel == regex on generated text") {
    val pieces = Vector(
      "the", "The", "THE", "a", "A", "and", "AND", "of", "to", "in", "is", "Is",
      "der", "Die", "das", "und", "ist", "le", "La", "les", "et", "est", "el",
      "los", "las", "y", "es", "word", "Quality", "x", "zq", "42", "7", "_",
      " ", " ", " ", "  ", "..", "\t", "\n", "\r\n", "\r", "\u000b", "\u000c", "\u0085",
      "\u2028", "\u2029", "\u00a0", "\u3000", ".", "...", "\u2026", "#", "-", "*",
      "\u2022", ",", ";", ":", "!", "?", "\u0130", "\u212a", "\u00e9", "\u00c9",
      "\u0301", "\u4e2d", "\u9fff", "\u4dff", "\ua000", "\ud83d\ude42",
      "\ud840\udc00", "\ud834\udd67", "\u03a3", "\u00df", "\u00fc")
    val rnd = new scala.util.Random(20261020L)
    val texts = Seq.fill(600) {
      val n = rnd.nextInt(40)
      Seq.fill(n)(pieces(rnd.nextInt(pieces.length))).mkString
    }
    assertSame(texts)
  }

  test("kernel == regex on the sf0.001 corpus") {
    assertSame(table("documents").select("text").as[String].collect().toSeq)
  }

  test("graft_doc_stats is a SQL function with defaults and argument checks") {
    val df = Seq("The cat and the dog is in the house").toDF("text")
    val r = df.selectExpr(
      "graft_doc_stats(text, 'quality_score')",
      "graft_doc_stats(text, 'quality_score', 50)",
      "graft_doc_stats(text, 'gopher_passes', 3)",
      "graft_doc_stats(text, 'lang_id')").head()
    assert(r.getDouble(0) == r.getDouble(1))
    assert(r.getDouble(0) == df.select(Text.qualityScore(col("text"))).as[Double].head())
    assert(r.getBoolean(2) == df.select(Text.gopherPasses(col("text"), 3)).as[Boolean].head())
    assert(r.getString(3) == "en")
    for (bad <- Seq("graft_doc_stats(text, 'no_such_stat')",
        "graft_doc_stats(text, 'tokens', 3)", "graft_doc_stats(text, 'quality_score', 0)"))
      intercept[Exception](df.selectExpr(bad).collect())
  }

  /** The curation chain as the corpus benchmark runs it: normalize in a
    * projection, the quality and Gopher gates in a filter over the
    * projected column, then langId and PII redaction.
    */
  private def curation(docs: DataFrame, quality: Column => Column,
                       gopher: Column => Column, lang: Column => Column): DataFrame = {
    val t = col("text")
    docs.select(col("doc_id"), Text.normalize(t).as("text"))
      .filter(quality(t) >= 0.4 && gopher(t))
      .withColumn("lang", lang(t))
      .withColumn("text", Text.redactPii(t))
  }

  private def count(e: Expression)(p: Expression => Boolean): Int = e.collect {
    case x if p(x) => x
  }.size

  test("curation plan: one kernel node per scorer call, no regex counts") {
    val docs = table("documents")
    val kernel = curation(docs, Text.qualityScore(_), Text.gopherPasses(_, 20), Text.langId)
    val plan = kernel.queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions)
    assert(exprs.map(count(_)(_.isInstanceOf[RegExpExtractAll])).sum == 0,
      s"regexp_extract_all left in the plan:\n$plan")
    assert(exprs.map(count(_)(_.isInstanceOf[DocStatF])).sum == 3, plan.toString)
    val conds = plan.collect { case f: Filter => f.condition }
    assert(conds.size == 1, plan.toString)
    // the pushed-down filter inlines normalize once per scorer call
    // (two regexp_replace each), not once per count
    assert(count(conds.head)(_.isInstanceOf[DocStatF]) == 2, conds.head.toString)
    assert(count(conds.head)(_.isInstanceOf[RegExpReplace]) == 4, conds.head.toString)

    val regex = curation(docs, TextRegex.qualityScore(_), TextRegex.gopherPasses(_, 20),
      TextRegex.langId)
    val got = kernel.orderBy("doc_id").collect().toSeq
    assert(got.nonEmpty)
    assert(got == regex.orderBy("doc_id").collect().toSeq)
  }
}
