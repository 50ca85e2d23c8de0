package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd kernel for the per-token digit/capitalisation classes
 * ([[graft.text.TextCols.digitClass]] / [[TextCols.capitalisation]]):
 * the expression forms run up to four `rlike` legs per token — four
 * Matcher allocations and a `toString` each — on the FSM hot path
 * (`f_capitalisation` feeds the line classifier for every token of
 * every line). This expression classifies in ONE codepoint scan and
 * returns interned label strings, zero allocation per token.
 *
 * Bit-identical by construction (differential-pinned by
 * TokCapsKernelSpec): Java regex `\p{Nd}`/`\p{Ll}`/`\p{Lu}` are the
 * Unicode general categories, i.e. `Character.getType(cp) ==`
 * DECIMAL_DIGIT_NUMBER / LOWERCASE_LETTER / UPPERCASE_LETTER per
 * codepoint (NOT `Character.isDigit/isLowerCase`, which include
 * Other_Lowercase etc.); `substring(tok, 1, 1)` is the first CODEPOINT,
 * so the INITCAP test reads the first codepoint's category. Tokens
 * containing a line terminator would change the `$` anchor semantics of
 * `^\p{Nd}+$` — such inputs (impossible for tokenizer output, which
 * strips \r\n as whitespace) and invalid UTF-8 fall back to the
 * original expression semantics via the String path. Null token yields
 * (NODIGIT, NOCAPS), exactly the when-chain's null-falsy fall-through.
 */
case class TokCaps(child: Expression) extends Kernel[UTF8String] {
  override def dataType: DataType = TokCaps.outType
  override def prettyName: String = "graft_tok_caps"
  override protected def target: String = "graft.functions.TokCaps$.MODULE$.compute"
  override protected def compute(tok: UTF8String): Any = TokCaps.compute(tok)
  override protected def withNewChildInternal(newChild: Expression): TokCaps =
    copy(child = newChild)
}

object TokCaps {

  val outType: StructType = StructType(Seq(
    StructField("digit_class", StringType, nullable = false),
    StructField("cap_class", StringType, nullable = false)))

  def of(tok: Column): Column =
    bridge.column(TokCaps(bridge.expression(tok)))

  // a class code is digit * 3 + cap, each an index into its interned
  // labels — the struct reuses these, zero allocation per token
  private final val AllDigit = 0
  private final val ContainsDigits = 1
  private final val NoDigit = 2
  private final val AllCap = 0
  private final val InitCap = 1
  private final val NoCaps = 2
  private val digits = Array("ALLDIGIT", "CONTAINSDIGITS", "NODIGIT").map(UTF8String.fromString)
  private val capStrings = Array("ALLCAP", "INITCAP", "NOCAPS")
  private val caps = capStrings.map(UTF8String.fromString)

  /** `cap_class` of a class code, as a `String`. */
  private[graft] def capName(code: Int): String = capStrings(code % 3)

  private def row(code: Int): InternalRow =
    new GenericInternalRow(Array[Any](digits(code / 3), caps(code % 3)))

  private def isLineTerm(cp: Int): Boolean =
    cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029

  def compute(tok: UTF8String): InternalRow =
    row(if (tok == null) NoDigit * 3 + NoCaps
      else if (!tok.isValid) codeViaString(tok.toString)
      else { val b = tok.getBytes; code(b, 0, b.length) })

  /** The class code of the token in bytes [`from`, `until`) of `b`, which
   * must be valid UTF-8: the one core of [[compute]] and of the span walk's
   * line feeder (`graft.plans.LineWalk`). */
  private[graft] def code(b: Array[Byte], from: Int, until: Int): Int = {
    var anyNd = false
    var allNd = until > from
    var anyLl = false
    var firstType = -1
    var i = from
    while (i < until) {
      val b0 = b(i)
      var cpLen = 1
      var cp: Int = b0 & 0xFF
      if ((b0 & 0x80) != 0) {
        cpLen = UTF8String.numBytesForFirstByte(b0)
        cp = cpLen match {
          case 2 => ((b0 & 0x1F) << 6) | (b(i + 1) & 0x3F)
          case 3 => ((b0 & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) |
            (b(i + 2) & 0x3F)
          case _ => (((b0 & 0x07) << 18) | ((b(i + 1) & 0x3F) << 12) |
            ((b(i + 2) & 0x3F) << 6) | (b(i + 3) & 0x3F))
        }
      }
      if (isLineTerm(cp))
        return codeViaString(new String(b, from, until - from, java.nio.charset.StandardCharsets.UTF_8))
      val t = Character.getType(cp)
      if (t == Character.DECIMAL_DIGIT_NUMBER) anyNd = true else allNd = false
      if (t == Character.LOWERCASE_LETTER) anyLl = true
      if (firstType < 0) firstType = t
      i += cpLen
    }
    val digit = if (allNd) AllDigit else if (anyNd) ContainsDigits else NoDigit
    val cap =
      if (allNd) NoCaps
      else if (!anyLl) AllCap
      else if (firstType == Character.UPPERCASE_LETTER) InitCap
      else NoCaps
    digit * 3 + cap
  }

  /** The expression-semantics fallback (invalid UTF-8 or an embedded
   * line terminator): the original regex legs, verbatim. */
  private def codeViaString(s: String): Int = {
    val digit =
      if (AllDigitDollar.matcher(s).find()) AllDigit
      else if (AnyDigit.matcher(s).find()) ContainsDigits
      else NoDigit
    val cap =
      if (digit == AllDigit) NoCaps
      else if (!AnyLower.matcher(s).find()) AllCap
      else if (s.nonEmpty &&
        FirstUpper.matcher(firstCodepoint(s)).find()) InitCap
      else NoCaps
    digit * 3 + cap
  }

  private val AllDigitDollar = java.util.regex.Pattern.compile("^\\p{Nd}+$")
  private val AnyDigit = java.util.regex.Pattern.compile("\\p{Nd}")
  private val AnyLower = java.util.regex.Pattern.compile("\\p{Ll}")
  private val FirstUpper = java.util.regex.Pattern.compile("^\\p{Lu}")

  private def firstCodepoint(s: String): String =
    s.substring(0, Character.charCount(s.codePointAt(0)))
}
