package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused document-statistics kernel behind the [[graft.llm.Text]]
  * scorers (quality score, Gopher rules, language id, readability).
  *
  * The regex form of those scorers ran about 19 `regexp_count`s per
  * document, and Spark plans each one as `size(regexp_extract_all(..))`
  * — a match array per count. A filter pushed below a projection also
  * inlines the projected expression (`normalize(text)`) into every
  * reference, so the regex gate re-derived its input ~25 times per row.
  * [[scan]] walks the UTF-8 bytes once and counts everything the
  * scorers read; each scorer is ONE expression over it ([[DocStatF]]),
  * so an optimized Filter holds one kernel node per scorer call.
  *
  * Every count equals the Java-regex count it replaces (the references
  * live in the test tree, pinned by a property spec):
  *  - whitespace is Java `\s` = `[ \t\n\x0B\f\r]`; a token is a `\S+` run;
  *  - letters are the ASCII-only `[A-Za-z]`; `length` counts code points;
  *  - marker words match `\b(w1|w2|..)\b` on `lower(text)`: `lower` is
  *    Spark's own (ASCII text folds in place; other text is lowered by
  *    `CollationSupport.Lower`, as the `lower` built-in does), and the
  *    word test of `\b` is the running JDK's (probed once: JDK 17 counts
  *    Unicode letters and digits, later JDKs ASCII only; a non-spacing
  *    mark joins the word of its base letter);
  *  - bullet lines follow `(?m)^\s*[-*•]`, ellipsis lines
  *    `(?m)(\.\.\.|…) *$` with Java's line terminators (`\r\n` is one).
  * Input is assumed to be valid UTF-8.
  */
object DocStats {
  /** The stopword list of the quality score. */
  val EnStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Stopword marker lists per language for the language id, in
    * tie-break order (en first).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  // hit list 0 is EnStopwords, list 1 + k is LangMarkers(k)
  private val wordLists: Seq[Seq[String]] = EnStopwords +: LangMarkers.map(_._2)
  private val maxWordLen = wordLists.flatten.map(_.length).max
  require(wordLists.flatten.forall(_.matches("[a-z]+")) && maxWordLen <= 12,
    "marker words must be 1..12 lowercase ASCII letters")

  // a word packs 5 bits per letter (a = 1); sorted keys, parallel masks
  private def pack(w: String): Long = w.foldLeft(0L)((k, ch) => k * 32 + (ch - 'a' + 1))
  private val (wordKeys, wordMasks) = {
    val masks = wordLists.zipWithIndex
      .flatMap { case (ws, l) => ws.map(w => pack(w) -> (1 << l)) }
      .groupMapReduce(_._1)(_._2)(_ | _).toSeq.sortBy(_._1)
    (masks.map(_._1).toArray, masks.map(_._2).toArray)
  }

  private val langNames: Array[UTF8String] =
    LangMarkers.map(l => UTF8String.fromString(l._1)).toArray
  private val Zh = UTF8String.fromString("zh")
  private val Und = UTF8String.fromString("und")

  /** `\b`'s word test on the running JDK: JDK 17 uses
    * `Character.isLetterOrDigit`, JDK 19+ the ASCII `\w` class.
    */
  private val unicodeWordBoundary: Boolean =
    java.util.regex.Pattern.compile("\\b").matcher("\u00e9").find()

  private def isWordChar(cp: Int): Boolean =
    if (cp < 0x80) (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
      (cp >= '0' && cp <= '9') || cp == '_'
    else unicodeWordBoundary && Character.isLetterOrDigit(cp)

  private def isSpace(cp: Int): Boolean = cp == ' ' || (cp >= '\t' && cp <= '\r')
  private def isAsciiLetter(cp: Int): Boolean =
    (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')
  /** Java's line terminators for `^`/`$` outside UNIX_LINES mode. */
  private def isLineTerminator(cp: Int): Boolean =
    cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029

  /** Everything the scorers read, for one document. */
  final class Counts {
    var chars, tokens, bpeTokens, spaces, alpha, punct, alphaWords = 0
    var newlines, bulletLines, ellipsisLines, symbols, cjk, sentences = 0
    var vowelGroups = 0
    val hits = new Array[Int](wordLists.size)
  }

  /** The word-level counts, which read `lower(text)`: marker-word hits
    * and vowel groups. Fed one code point of the lowered text at a time.
    */
  private final class WordScan(c: Counts) {
    private var prevWord = false   // `\b`'s word test, left of the next char
    private var baseLetter = false // a following non-spacing mark has a letter base
    private var inVowels = false
    private var inCand = false     // inside a run that may be a marker word
    private var key = 0L
    private var keyLen = 0

    def reset(): Unit = {
      prevWord = false; baseLetter = false; inVowels = false; inCand = false
      java.util.Arrays.fill(c.hits, 0)
      c.vowelGroups = 0
    }

    private def endCandidate(): Unit = {
      val at = java.util.Arrays.binarySearch(wordKeys, key)
      if (at >= 0) {
        var m = wordMasks(at)
        var l = 0
        while (m != 0) {
          if ((m & 1) != 0) c.hits(l) += 1
          m >>>= 1
          l += 1
        }
      }
      inCand = false
    }

    def step(cp: Int): Unit = {
      val vowel = cp == 'a' || cp == 'e' || cp == 'i' || cp == 'o' || cp == 'u' || cp == 'y'
      if (vowel && !inVowels) c.vowelGroups += 1
      inVowels = vowel
      // Java's Bound: a non-spacing mark counts as a word char when its
      // base is a letter or digit; the scan back from a mark LEFT of the
      // boundary starts on a low surrogate when the mark is supplementary
      val mark = cp >= 0x80 && Character.getType(cp) == Character.NON_SPACING_MARK
      val rightWord = isWordChar(cp) || (mark && baseLetter)
      val leftWord = isWordChar(cp) || (mark && cp < 0x10000 && baseLetter)
      if (!(mark && cp < 0x10000))
        baseLetter = cp < 0x10000 && Character.isLetterOrDigit(cp)
      val lowerLetter = cp >= 'a' && cp <= 'z'
      if (inCand) {
        if (lowerLetter) {
          key = key * 32 + (cp - 'a' + 1)
          keyLen += 1
          if (keyLen > maxWordLen) inCand = false
        } else if (!rightWord) endCandidate()
        else inCand = false
      } else if (lowerLetter && !prevWord) {
        inCand = true
        key = cp - 'a' + 1
        keyLen = 1
      }
      prevWord = leftWord
    }

    def finish(): Unit = if (inCand) endCandidate()
  }

  /** Bytes of the UTF-8 character at `at` (UTF8String's own stepping). */
  private def charLen(base: AnyRef, at: Long, left: Int): Int = {
    val b0 = Platform.getByte(base, at)
    if (b0 >= 0) 1 else math.min(UTF8String.numBytesForFirstByte(b0), left)
  }

  private def codePoint(base: AnyRef, at: Long, len: Int): Int = {
    val b0 = Platform.getByte(base, at)
    var cp = len match {
      case 1 => b0 & 0xff
      case 2 => b0 & 0x1f
      case 3 => b0 & 0x0f
      case _ => b0 & 0x07
    }
    var k = 1
    while (k < len) {
      cp = (cp << 6) | (Platform.getByte(base, at + k) & 0x3f)
      k += 1
    }
    cp
  }

  /** One pass over `s`; a second pass over Spark's `lower(s)` only for
    * the word-level counts of a document with non-ASCII characters.
    */
  def scan(s: UTF8String, useIcu: Boolean): Counts = {
    val c = new Counts
    val words = new WordScan(c)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var ascii = true
    var prev = -1                // previous code point, -1 at the start
    var inToken = false
    var tokenHasAlpha = false
    var bpeClass = 0             // 0 whitespace, 1 letters, 2 digits, 3 other
    var inSentence = false
    var symbolDots = 0           // dots since the last `...` symbol
    var dotRun = 0
    var ellipsisOpen = false     // an ellipsis followed by spaces only
    var caretPending = false     // a `^` position in the current \s run
    var i = 0
    while (i < n) {
      val len = charLen(base, off + i, n - i)
      val cp = codePoint(base, off + i, len)
      if (cp >= 0x80) ascii = false
      i += len
      c.chars += 1
      val space = isSpace(cp)
      val letter = isAsciiLetter(cp)
      // Java's `^` skips the middle of a `\r\n`, but the position after
      // its `\n` is a `^` either way, so no bullet count can tell
      val caret = prev < 0 || isLineTerminator(prev)
      if (space) {
        c.spaces += 1
        inToken = false
        if (cp == '\n') c.newlines += 1
        if (caret) caretPending = true
      } else {
        if (!inToken) { c.tokens += 1; inToken = true; tokenHasAlpha = false }
        if (letter && !tokenHasAlpha) { c.alphaWords += 1; tokenHasAlpha = true }
        if ((caret || caretPending) && (cp == '-' || cp == '*' || cp == 0x2022))
          c.bulletLines += 1
        caretPending = false
      }
      if (letter) c.alpha += 1
      val cls = if (space) 0 else if (letter) 1 else if (cp >= '0' && cp <= '9') 2 else 3
      if (cls != 0 && cls != bpeClass) c.bpeTokens += 1
      bpeClass = cls
      cp match {
        case '.' | ',' | ';' | ':' | '!' | '?' => c.punct += 1
        case _ =>
      }
      val terminal = cp == '.' || cp == '!' || cp == '?'
      if (terminal && !inSentence) c.sentences += 1
      inSentence = terminal
      if (cp == '#' || cp == 0x2026) c.symbols += 1
      if (cp == '.') {
        symbolDots += 1
        if (symbolDots == 3) { c.symbols += 1; symbolDots = 0 }
        dotRun += 1
        ellipsisOpen = dotRun >= 3
      } else {
        symbolDots = 0
        dotRun = 0
        if (cp == 0x2026) ellipsisOpen = true
        else if (cp != ' ') {
          if (ellipsisOpen && isLineTerminator(cp)) c.ellipsisLines += 1
          ellipsisOpen = false
        }
      }
      if (cp >= 0x4e00 && cp <= 0x9fff) c.cjk += 1
      if (ascii) words.step(if (cp >= 'A' && cp <= 'Z') cp + 32 else cp)
      prev = cp
    }
    if (ellipsisOpen) c.ellipsisLines += 1
    if (ascii) words.finish()
    else {
      words.reset()
      val low = CollationSupport.Lower.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, useIcu)
      val lb = low.getBaseObject
      val lo = low.getBaseOffset
      val ln = low.numBytes
      var j = 0
      while (j < ln) {
        val len = charLen(lb, lo + j, ln - j)
        words.step(codePoint(lb, lo + j, len))
        j += len
      }
      words.finish()
    }
    c
  }

  // ---- the scorers, over one scan ----------------------------------

  private def perToken(n: Int, c: Counts): Double = n.toDouble / math.max(c.tokens, 1)
  private def perLine(n: Int, c: Counts): Double = n.toDouble / (c.newlines + 1)
  private def perChar(n: Int, c: Counts): Double = n.toDouble / math.max(c.chars, 1)

  private def meanWordLength(c: Counts): Double =
    (c.chars - c.spaces).toDouble / math.max(c.tokens, 1)

  private def qualityScore(c: Counts, fullTokens: Int): Double = {
    val len = c.tokens.toDouble / fullTokens.toDouble
    (if (len < 1.0) len else 1.0) * 0.3 + perChar(c.alpha, c) * 0.4 + perToken(c.hits(0), c) * 0.3
  }

  /** One scorer: its SQL name, result type, the int arguments it takes
    * (with their defaults) and its value for a null document.
    */
  private[graft] final case class Stat(id: Int, name: String, dataType: DataType,
                                       defaults: Seq[Int] = Nil, onNull: Any = null)

  private val statList: Seq[Stat] = Seq(
    Stat(0, "tokens", IntegerType),
    Stat(1, "bpe_tokens", IntegerType),
    Stat(2, "alpha", IntegerType),
    Stat(3, "punct", IntegerType),
    Stat(4, "stopwords", IntegerType),
    Stat(5, "lines", IntegerType),
    Stat(6, "syllables", IntegerType),
    // greatest(count, 1) skips a null count: a null document has 1
    Stat(7, "sentences", IntegerType, onNull = 1),
    Stat(8, "cjk", IntegerType)) ++
    LangMarkers.indices.map(k => Stat(9 + k, "lang_" + LangMarkers(k)._1, IntegerType)) ++ Seq(
    Stat(20, "alpha_ratio", DoubleType),
    Stat(21, "punct_ratio", DoubleType),
    Stat(22, "stopword_ratio", DoubleType),
    Stat(23, "mean_word_length", DoubleType),
    Stat(24, "symbol_ratio", DoubleType),
    Stat(25, "bullet_fraction", DoubleType),
    Stat(26, "ellipsis_fraction", DoubleType),
    Stat(27, "alpha_word_fraction", DoubleType),
    Stat(28, "flesch", DoubleType),
    Stat(29, "quality_score", DoubleType, defaults = Seq(50)),
    Stat(30, "gopher_passes", BooleanType, defaults = Seq(50, 100000)),
    // the regex form's CASE falls through to 'und' when every score is null
    Stat(31, "lang_id", StringType, onNull = Und))

  private[graft] val stats: Map[String, Stat] = statList.map(s => s.name -> s).toMap

  def intStat(s: UTF8String, useIcu: Boolean, id: Int): Int = {
    if (s == null) return 1 // only `sentences` is non-null on a null document
    val c = scan(s, useIcu)
    id match {
      case 0 => c.tokens
      case 1 => c.bpeTokens
      case 2 => c.alpha
      case 3 => c.punct
      case 4 => c.hits(0)
      case 5 => c.newlines + 1
      case 6 => c.vowelGroups
      case 7 => math.max(c.sentences, 1)
      case 8 => c.cjk
      case k => c.hits(k - 8)
    }
  }

  def doubleStat(s: UTF8String, useIcu: Boolean, id: Int, arg: Int): Double = {
    val c = scan(s, useIcu)
    id match {
      case 20 => perChar(c.alpha, c)
      case 21 => perChar(c.punct, c)
      case 22 => perToken(c.hits(0), c)
      case 23 => meanWordLength(c)
      case 24 => perToken(c.symbols, c)
      case 25 => perLine(c.bulletLines, c)
      case 26 => perLine(c.ellipsisLines, c)
      case 27 => perToken(c.alphaWords, c)
      case 28 =>
        val words = math.max(c.tokens, 1).toDouble
        val sentences = math.max(c.sentences, 1).toDouble
        206.835 - 1.015 * words / sentences - 84.6 * c.vowelGroups.toDouble / words
      case _ => qualityScore(c, arg)
    }
  }

  /** The Gopher gate: token bounds, mean word length in [3, 10], symbol
    * ratio < 0.1, bullet lines < 0.9, ellipsis lines < 0.3, alpha words
    * > 0.8.
    */
  def gopherPasses(s: UTF8String, useIcu: Boolean, minTokens: Int, maxTokens: Int): Boolean = {
    val c = scan(s, useIcu)
    val mwl = meanWordLength(c)
    c.tokens >= minTokens && c.tokens <= maxTokens && mwl >= 3.0 && mwl <= 10.0 &&
      perToken(c.symbols, c) < 0.1 && perLine(c.bulletLines, c) < 0.9 &&
      perLine(c.ellipsisLines, c) < 0.3 && perToken(c.alphaWords, c) > 0.8
  }

  /** CJK presence wins outright; otherwise the first language (in
    * [[LangMarkers]] order) with the most marker hits.
    */
  def langId(s: UTF8String, useIcu: Boolean): UTF8String = {
    if (s == null) return Und
    val c = scan(s, useIcu)
    if (c.cjk > 0) return Zh
    var best = 0
    var l = 1
    while (l < langNames.length) {
      if (c.hits(1 + l) > c.hits(1 + best)) best = l
      l += 1
    }
    langNames(best)
  }

  /** `graft_doc_stats(text, 'stat' [, int args])` as a Column. */
  def column(text: Column, stat: String, args: Int*): Column =
    org.apache.spark.sql.functions.call_function("graft_doc_stats",
      text +: org.apache.spark.sql.functions.lit(stat) +:
        args.map(a => org.apache.spark.sql.functions.lit(a)): _*)

  /** The SQL builder [[GraftExtensions]] registers. */
  private[plans] def build(children: Seq[Expression]): DocStatF = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(children.length >= 2,
      s"graft_doc_stats(text, stat [, args]) takes 2+ args, got ${children.length}")
    val name = children(1) match {
      case Literal(v: UTF8String, _: StringType) => v.toString
      case other => throw new IllegalArgumentException(
        s"graft_doc_stats: stat must be a string literal, got $other")
    }
    val stat = stats.getOrElse(name, throw new IllegalArgumentException(
      s"graft_doc_stats: unknown stat '$name' (one of ${statList.map(_.name).mkString(", ")})"))
    val args = children.drop(2).map {
      case Literal(i: Int, IntegerType) => i
      case other => throw new IllegalArgumentException(
        s"graft_doc_stats: '$name' arguments must be int literals, got $other")
    }
    require(args.length <= stat.defaults.length,
      s"graft_doc_stats: '$name' takes at most ${stat.defaults.length} int arguments")
    DocStatF(children.head, name, args ++ stat.defaults.drop(args.length))
  }
}

/** `graft_doc_stats(text, stat [, args])`: one [[DocStats]] scorer over
  * one scan of `text`. The scorer is part of the expression (not a
  * field of a struct result), so a filter that reads two scorers runs
  * two scans — never one per struct field.
  */
case class DocStatF(child: Expression, stat: String, args: Seq[Int]) extends UnaryExpression {
  private val spec = DocStats.stats(stat)
  require(args.length == spec.defaults.length,
    s"graft_doc_stats '$stat' takes ${spec.defaults.length} int arguments, got ${args.length}")
  require(stat != "quality_score" || args.head >= 1,
    s"graft_doc_stats 'quality_score' needs fullTokens >= 1, got ${args.mkString}")

  // Spark's `lower` reads this flag at planning time; the kernel lowers
  // non-ASCII text the same way
  private lazy val useIcu: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = spec.dataType
  override def nullable: Boolean = spec.onNull == null && child.nullable

  private def call(text: String): String = {
    val k = "graft.plans.DocStats"
    spec.dataType match {
      case IntegerType => s"$k.intStat($text, $useIcu, ${spec.id})"
      case DoubleType => s"$k.doubleStat($text, $useIcu, ${spec.id}, ${args.headOption.getOrElse(0)})"
      case BooleanType => s"$k.gopherPasses($text, $useIcu, ${args(0)}, ${args(1)})"
      case _ => s"$k.langId($text, $useIcu)"
    }
  }

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) spec.onNull
    else spec.dataType match {
      case IntegerType => DocStats.intStat(s, useIcu, spec.id)
      case DoubleType => DocStats.doubleStat(s, useIcu, spec.id, args.headOption.getOrElse(0))
      case BooleanType => DocStats.gopherPasses(s, useIcu, args(0), args(1))
      case _ => DocStats.langId(s, useIcu)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (spec.onNull == null) defineCodeGen(ctx, ev, call)
    else {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        |${c.code}
        |${CodeGenerator.javaType(dataType)} ${ev.value} =
        |  ${call(s"${c.isNull} ? null : ${c.value}")};""".stripMargin,
        isNull = FalseLiteral)
    }

  override def sql: String =
    s"$prettyName(${(child.sql +: s"'$stat'" +: args.map(_.toString)).mkString(", ")})"

  override protected def withNewChildInternal(newChild: Expression): DocStatF =
    copy(child = newChild)

  override def prettyName: String = "graft_doc_stats"
}
