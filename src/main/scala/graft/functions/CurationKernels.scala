package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The exact-integer half-up rounding shared by every kernel — ONE copy
 * of the [[graft.ops.Cols.ratio4dp]] identity so the bit-identity
 * contract with the SQL mirrors cannot drift between kernels. Callers
 * guarantee p ≥ 0, q > 0. */
private[functions] object KernelMath {
  def ratio4dp(p: Long, q: Long): Double =
    ((p * 20000L + q) / (2L * q)).toDouble / 10000.0
}

/**
 * Codegen'd kernel for the [[graft.ops.Gopher.stats]] quality statistics
 * (word count, mean word length, symbol ratio, alpha fraction, stopword
 * hits, bullet/ellipsis line fractions) — the HOF/regex cascade ran
 * interpreted per element. One compiled pass; values bit-identical
 * (differential-pinned by CurationKernelSpec against the HOF twin):
 * identical word tokenization, the regexp legs run the SAME Java
 * patterns (`\.{3}|…` counting, `^[-*•]`, `(\.{3}|…)$` via find —
 * trailing-line-terminator `$` semantics preserved), the mean-word-length
 * numerator walks the same String conversion `regexp_replace` uses, and
 * every ratio is the exact-integer [[graft.ops.Cols.ratio4dp]]. Null
 * input behaves as the call-site `coalesce(text, '')`.
 */
case class GopherQuality(child: Expression) extends Kernel[UTF8String] {
  override def dataType: DataType = GopherQuality.outType
  override def prettyName: String = "graft_gopher_quality"
  override protected def target: String = "graft.functions.GopherQuality$.MODULE$.compute"
  override protected def compute(text: UTF8String): Any = GopherQuality.compute(text)
  override protected def withNewChildInternal(newChild: Expression): GopherQuality =
    copy(child = newChild)
}

object GopherQuality {

  val outType: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("symbol_word_ratio", DoubleType, nullable = false),
    StructField("alpha_word_frac", DoubleType, nullable = false),
    StructField("n_stop_hits", IntegerType, nullable = false),
    StructField("bullet_line_frac", DoubleType, nullable = false),
    StructField("ellipsis_line_frac", DoubleType, nullable = false)))

  def of(text: Column): Column =
    bridge.column(GopherQuality(bridge.expression(text)))

  private val nlU = UTF8String.fromString("\n")
  private val Ellipsis = Pattern.compile("\\.{3}|…")
  private val BulletStart = Pattern.compile("^[-*•]")
  private val EllipsisEnd = Pattern.compile("(\\.{3}|…)$")
  private val stopwordsU: Array[UTF8String] =
    graft.ops.Gopher.requiredStopwords.map(UTF8String.fromString).toArray

  import KernelMath.ratio4dp

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  def compute(text0: UTF8String): InternalRow = {
    val text = if (text0 == null) UTF8String.EMPTY_UTF8 else text0
    val words = Shingles.wordsOf(text)
    val nw = words.length

    var meanLen = 0.0
    var symbolRatio = 0.0
    var alphaFrac = 0.0
    var stopHits = 0
    if (nw > 0) {
      // length(regexp_replace(text, "\s", "")): codepoints surviving the
      // ASCII-\s strip, over the same String conversion the regexp takes
      val s = text.toString
      var nonWs = 0L
      var i = 0
      while (i < s.length) {
        val c = s.codePointAt(i)
        if (!isWs(c)) nonWs += 1
        i += Character.charCount(c)
      }
      meanLen = ratio4dp(nonWs, nw)
      // '#' occurrences + non-overlapping "\.{3}|…" matches
      var hashes = 0L
      i = 0
      while (i < s.length) {
        if (s.charAt(i) == '#') hashes += 1
        i += 1
      }
      var ell = 0L
      val m = Ellipsis.matcher(s)
      while (m.find()) ell += 1
      symbolRatio = ratio4dp(hashes + ell, nw)
      // words containing [a-z] (byte scan is exact: a-z are ASCII singles)
      var alpha = 0L
      var w = 0
      while (w < nw) {
        val u = words(w)
        val nb = u.numBytes()
        var j = 0
        var hit = false
        while (j < nb && !hit) {
          val b = u.getByte(j)
          if (b >= 'a' && b <= 'z') hit = true
          j += 1
        }
        if (hit) alpha += 1
        w += 1
      }
      alphaFrac = ratio4dp(alpha, nw)
      val wordSet = new java.util.HashSet[UTF8String](nw * 2)
      w = 0
      while (w < nw) { wordSet.add(words(w)); w += 1 }
      var k = 0
      while (k < stopwordsU.length) {
        if (wordSet.contains(stopwordsU(k))) stopHits += 1
        k += 1
      }
    }

    // non-empty trimmed lines (trim = 0x20 only; no lowercasing here)
    var nLines = 0L
    var nBullet = 0L
    var nEll = 0L
    val rawLines = text.split(nlU, -1)
    var li = 0
    while (li < rawLines.length) {
      val t = rawLines(li).trim()
      if (t.numBytes() > 0) {
        nLines += 1
        val ls = t.toString
        if (BulletStart.matcher(ls).find()) nBullet += 1
        if (EllipsisEnd.matcher(ls).find()) nEll += 1
      }
      li += 1
    }
    val bulletFrac = if (nLines > 0) ratio4dp(nBullet, nLines) else 0.0
    val ellFrac = if (nLines > 0) ratio4dp(nEll, nLines) else 0.0

    new GenericInternalRow(Array[Any](nw, meanLen, symbolRatio, alphaFrac,
      stopHits, bulletFrac, ellFrac))
  }
}

/**
 * Codegen'd kernel for [[graft.ops.C4.lineFiltered]]: trim/split lines,
 * apply the C4 line-keep rule (terminal punctuation, ≥5 words, no
 * "javascript"), rejoin survivors — the HOF form ran interpreted per
 * line with a re-split per predicate. Bit-identical (differential-pinned
 * by CurationKernelSpec): same trim/split primitives, the keep regex runs
 * the SAME Java pattern via find (`$` line-terminator semantics
 * preserved), word counting is the same maximal non-`\s`-run count the
 * `split("\s+")` filter produces, and the substring test lowercases via
 * `UTF8String.toLowerCase`. Null input behaves as `coalesce(text, '')`.
 */
case class C4LineFilter(child: Expression) extends Kernel[UTF8String] {
  override def dataType: DataType = C4LineFilter.outType
  override def prettyName: String = "graft_c4_line_filter"
  override protected def target: String = "graft.functions.C4LineFilter$.MODULE$.compute"
  override protected def compute(text: UTF8String): Any = C4LineFilter.compute(text)
  override protected def withNewChildInternal(newChild: Expression): C4LineFilter =
    copy(child = newChild)
}

object C4LineFilter {

  val outType: StructType = StructType(Seq(
    StructField("text_clean", StringType, nullable = false),
    StructField("n_lines_kept", IntegerType, nullable = false),
    StructField("n_lines_dropped", IntegerType, nullable = false)))

  def of(text: Column): Column =
    bridge.column(C4LineFilter(bridge.expression(text)))

  private val nlU = UTF8String.fromString("\n")
  private val jsU = UTF8String.fromString("javascript")
  private val TerminalEnd = Pattern.compile("[.!?\"]$")

  /** maximal non-\s byte runs == size(filter(split(l, "\s+"), _ != "")) —
   * \s chars are single ASCII bytes, so the byte scan is exact. */
  private def wordCount(u: UTF8String): Int = {
    val nb = u.numBytes()
    var n = 0
    var inWord = false
    var i = 0
    while (i < nb) {
      val b = u.getByte(i)
      val ws = b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
      if (!ws && !inWord) { n += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    n
  }

  def compute(text0: UTF8String): InternalRow = {
    val text = if (text0 == null) UTF8String.EMPTY_UTF8 else text0
    val rawLines = text.split(nlU, -1)
    val kept = new java.util.ArrayList[UTF8String](rawLines.length)
    var nLines = 0
    var i = 0
    while (i < rawLines.length) {
      val t = rawLines(i).trim()
      if (t.numBytes() > 0) {
        nLines += 1
        val keep = TerminalEnd.matcher(t.toString).find() &&
          wordCount(t) >= 5 && !t.toLowerCase().contains(jsU)
        if (keep) kept.add(t)
      }
      i += 1
    }
    val keptArr = kept.toArray(new Array[UTF8String](kept.size))
    val clean = UTF8String.concatWs(nlU, keptArr: _*)
    new GenericInternalRow(Array[Any](clean, kept.size, nLines - kept.size))
  }
}

/**
 * Codegen'd kernel for the [[graft.ops.C4.stats]] page statistics:
 * sentence count (same `[^.!?]+[.!?]+` extraction via the SAME Java
 * pattern), "lorem ipsum" / brace containment, and distinct-blocklist
 * word hits over the shared word tokenization. Bit-identical
 * (differential-pinned by CurationKernelSpec); null input behaves as
 * `coalesce(text, '')`. The blocklist is a constructor parameter, so two
 * instances with different lists are distinct expressions.
 */
case class C4PageStats(child: Expression, blocklist: Seq[String])
    extends Kernel[UTF8String] {
  override def dataType: DataType = C4PageStats.outType
  override def prettyName: String = "graft_c4_page_stats"
  @transient private lazy val blockU: Array[UTF8String] =
    blocklist.map(UTF8String.fromString).toArray
  override protected def target: String = "graft.functions.C4PageStats$.MODULE$.compute"
  override protected def args: Seq[Any] = Seq(blockU)
  override protected def compute(text: UTF8String): Any = C4PageStats.compute(text, blockU)
  override protected def withNewChildInternal(newChild: Expression): C4PageStats =
    copy(child = newChild)
}

object C4PageStats {

  val outType: StructType = StructType(Seq(
    StructField("n_sentences", IntegerType, nullable = false),
    StructField("has_lorem_ipsum", BooleanType, nullable = false),
    StructField("has_brace", BooleanType, nullable = false),
    StructField("n_bad_words", IntegerType, nullable = false)))

  def of(text: Column, blocklist: Seq[String]): Column =
    bridge.column(C4PageStats(bridge.expression(text), blocklist))

  private val Sentence = Pattern.compile("[^.!?]+[.!?]+")
  private val loremU = UTF8String.fromString("lorem ipsum")
  private val braceU = UTF8String.fromString("{")

  def compute(text0: UTF8String, blocklist: Array[UTF8String]): InternalRow = {
    val text = if (text0 == null) UTF8String.EMPTY_UTF8 else text0
    // sentences: regex matches, trimmed (0x20), non-empty
    val s = text.toString
    var nSent = 0
    val m = Sentence.matcher(s)
    while (m.find()) {
      val sent = UTF8String.fromString(m.group()).trim()
      if (sent.numBytes() > 0) nSent += 1
    }
    val hasLorem = text.toLowerCase().contains(loremU)
    val hasBrace = text.contains(braceU)
    val words = Shingles.wordsOf(text)
    val wordSet = new java.util.HashSet[UTF8String](words.length * 2)
    var i = 0
    while (i < words.length) { wordSet.add(words(i)); i += 1 }
    var bad = 0
    i = 0
    while (i < blocklist.length) {
      if (wordSet.contains(blocklist(i))) bad += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](nSent, hasLorem, hasBrace, bad))
  }
}
