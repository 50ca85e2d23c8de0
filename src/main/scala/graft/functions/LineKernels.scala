package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationSupport, GenericArrayData}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Turn → lines kernel of [[graft.extract.Structure.lines]]: one UTF-8 byte
 * scan of a turn's text yields, for each non-blank line, the row
 * `(line_in_turn, line, block_idx, line_idx)` that the declarative chain
 * (`posexplode(split(text, "\n"))`, a `lag(blank)` / running
 * `sum(new_block)` window and a per-block `row_number`) built with two sorts
 * of the line frame. The reference walks blocks and lines the same way, in
 * one loop per document (`DatacatSegmenterParser.java:326-620`).
 *
 * Semantics of that chain, kept exactly (LineKernelSpec pins them against
 * the window chain and the DuckDB `klines` mirror stays the oracle):
 *  - lines are the pieces between `\n` bytes, leading, trailing and doubled
 *    `\n` included; `\r`, U+0085, U+2028 and U+2029 stay inside a line;
 *  - a line is blank when it is empty or only U+0020 (Spark `trim` strips
 *    nothing else, so a line of tabs is not blank); blank lines are dropped;
 *  - a block is a run of non-blank lines, numbered from 0 within the turn;
 *    `line_idx` restarts at 0 in each block;
 *  - null text yields no line; invalid UTF-8 is first cleaned as
 *    `toString` does (U+FFFD), as `split` does on the expression path.
 */
case class TurnLines(child: Expression) extends Kernel[UTF8String] {
  override def dataType: DataType = LineKernels.linesType
  override def prettyName: String = "graft_turn_lines"
  override protected def target: String = "graft.functions.LineKernels$.MODULE$.turnLines"
  override protected def compute(text: UTF8String): Any = LineKernels.turnLines(text)
  override protected def withNewChildInternal(newChild: Expression): TurnLines =
    copy(child = newChild)
}

/**
 * One byte-scan leg over a line, in place of a Java-regex expression that
 * decoded the line to a `String` and ran a `Matcher` on it. `leg` names the
 * [[LineKernels]] function:
 *  - `firstWord`: `f_string`, the first run of bytes outside
 *    `[\x20\t\f]` with `\r` and `\n` removed ("" for a null line);
 *  - `letters`: the line's letters, `regexp_replace(line, "[^\p{L}]", "")`;
 *  - `trailingSpace`: `regexp_extract(line, "[\x20\t\f]*$", 0)`.
 */
case class LineScan(child: Expression, leg: String) extends Kernel[UTF8String] {
  override def dataType: DataType = StringType
  override def nullable: Boolean = leg != "firstWord" && child.nullable
  override def prettyName: String = s"graft_$leg"
  override def flatArguments: Iterator[Any] = Iterator(child)
  override protected def target: String = s"graft.functions.LineKernels$$.MODULE$$.$leg"
  override protected def compute(line: UTF8String): Any = leg match {
    case "firstWord" => LineKernels.firstWord(line)
    case "letters" => LineKernels.letters(line)
    case "trailingSpace" => LineKernels.trailingSpace(line)
  }
  override protected def withNewChildInternal(newChild: Expression): LineScan =
    copy(child = newChild)
}

/** The cores of [[TurnLines]] and [[LineScan]]: static methods that the
 * kernels' generated code calls through [[Kernel]], and that the span
 * walk's zone rule and line feeder call directly. */
object LineKernels {

  /** array<struct<line_in_turn, line, block_idx, line_idx>>, with the types
   * and nullability the window chain (a `posexplode_outer`, a window `sum`
   * and a `row_number`) gave these columns. */
  val linesType: ArrayType = ArrayType(StructType(Seq(
    StructField("line_in_turn", IntegerType, nullable = true),
    StructField("line", StringType, nullable = true),
    StructField("block_idx", LongType, nullable = true),
    StructField("line_idx", IntegerType, nullable = false))), containsNull = false)

  def turnLinesOf(text: Column): Column = bridge.column(TurnLines(bridge.expression(text)))
  def firstWordOf(line: Column): Column = scan(line, "firstWord")
  def lettersOf(line: Column): Column = scan(line, "letters")
  def trailingSpaceOf(line: Column): Column = scan(line, "trailingSpace")
  private def scan(line: Column, leg: String): Column =
    bridge.column(LineScan(bridge.expression(line), leg))

  /** Valid UTF-8 as is; invalid bytes become U+FFFD, as the `String` that
   * `split` and the regex expressions work on. */
  private def clean(u: UTF8String): UTF8String =
    if (u.isValid) u else UTF8String.fromString(u.toString)

  /** `[\x20\t\f]`: ASCII bytes, so never part of a multi-byte sequence. */
  private def isSpace(b: Byte): Boolean = b == ' ' || b == '\t' || b == '\f'

  private def byteAt(u: UTF8String, i: Int): Byte =
    Platform.getByte(u.getBaseObject, u.getBaseOffset + i)

  private def copyOut(u: UTF8String, from: Int, until: Int): UTF8String =
    if (from == until) UTF8String.EMPTY_UTF8
    else {
      val out = new Array[Byte](until - from)
      Platform.copyMemory(u.getBaseObject, u.getBaseOffset + from,
        out, Platform.BYTE_ARRAY_OFFSET, out.length)
      UTF8String.fromBytes(out)
    }

  def turnLines(text: UTF8String): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val b = clean(text).getBytes
    val n = b.length
    val out = new java.util.ArrayList[Any]()
    var lineInTurn = 0
    var block = -1L
    var lineIdx = 0
    var prevBlank = true
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == '\n') {
        var j = start
        while (j < i && b(j) == ' ') j += 1
        val blank = j == i
        if (!blank) {
          if (prevBlank) { block += 1; lineIdx = 0 }
          out.add(new GenericInternalRow(Array[Any](
            lineInTurn, UTF8String.fromBytes(b, start, i - start), block, lineIdx)))
          lineIdx += 1
        }
        prevBlank = blank
        lineInTurn += 1
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def firstWord(line: UTF8String): UTF8String = {
    if (line == null) return UTF8String.EMPTY_UTF8
    val u = clean(line)
    val run = firstRun(u)
    val (from, until) = (runFrom(run), runUntil(run))
    val len = wordBytes(u, from, until)
    if (len == until - from) copyOut(u, from, until)
    else {
      val out = new Array[Byte](len)
      var k = 0
      var i = from
      while (i < until) {
        val c = byteAt(u, i)
        if (c != '\r' && c != '\n') { out(k) = c; k += 1 }
        i += 1
      }
      UTF8String.fromBytes(out)
    }
  }

  /** The first run of bytes outside `[\x20\t\f]` in `u` (valid UTF-8), as
   * `from << 32 | until`: [[firstWord]]'s leg core, shared with the span
   * walk's zone rule ([[runFrom]], [[runUntil]]). */
  private[graft] def firstRun(u: UTF8String): Long = {
    val n = u.numBytes
    var from = 0
    while (from < n && isSpace(byteAt(u, from))) from += 1
    var until = from
    while (until < n && !isSpace(byteAt(u, until))) until += 1
    (from.toLong << 32) | until
  }
  private[graft] def runFrom(run: Long): Int = (run >>> 32).toInt
  private[graft] def runUntil(run: Long): Int = run.toInt

  /** The bytes of `[from, until)` in `u` other than `\r` and `\n`: the
   * length of [[firstWord]] over [[firstRun]]. */
  private[graft] def wordBytes(u: UTF8String, from: Int, until: Int): Int = {
    var k = 0
    var i = from
    while (i < until) {
      val c = byteAt(u, i)
      if (c != '\r' && c != '\n') k += 1
      i += 1
    }
    k
  }

  /** The code points whose `Character.isLetter` holds — Java regex `\p{L}`
   * is the L general category, as is `isLetter`. */
  def letters(line: UTF8String): UTF8String =
    if (line == null) null else validLetters(clean(line))

  /** [[letters]] of `u`, which is valid UTF-8: the leg core, shared with the
   * span walk's zone rule. */
  private[graft] def validLetters(u: UTF8String): UTF8String = {
    val n = u.numBytes
    val out = new Array[Byte](n)
    var k = 0
    var i = 0
    while (i < n) {
      val b0 = byteAt(u, i)
      var len = 1
      var cp = b0 & 0xFF
      if (b0 < 0) {
        len = UTF8String.numBytesForFirstByte(b0)
        cp = len match {
          case 2 => ((b0 & 0x1F) << 6) | (byteAt(u, i + 1) & 0x3F)
          case 3 => ((b0 & 0x0F) << 12) | ((byteAt(u, i + 1) & 0x3F) << 6) |
            (byteAt(u, i + 2) & 0x3F)
          case _ => ((b0 & 0x07) << 18) | ((byteAt(u, i + 1) & 0x3F) << 12) |
            ((byteAt(u, i + 2) & 0x3F) << 6) | (byteAt(u, i + 3) & 0x3F)
        }
      }
      if (Character.isLetter(cp)) {
        var j = 0
        while (j < len) { out(k + j) = byteAt(u, i + j); j += 1 }
        k += len
      }
      i += len
    }
    if (k == n) u else UTF8String.fromBytes(java.util.Arrays.copyOf(out, k))
  }

  /** `TextCols.pattern` of `u` (valid UTF-8): [[validLetters]], lower-cased
   * by the call Spark's `Lower` makes, with the session's
   * `spark.sql.icu.caseMappings.enabled` as `icu`. */
  private[graft] def pattern(u: UTF8String, icu: Boolean): UTF8String =
    CollationSupport.Lower.exec(validLetters(u), StringType.collationId, icu)

  /** The run of `[\x20\t\f]` that ends where Java's `$` first matches:
   * before one final line terminator (`\r\n`, `\n`, `\r`, U+0085, U+2028 or
   * U+2029) when the line ends in one, else at the end. So `"abc \r"`
   * gives `" "` and `"ab \r\r"` gives `""`. */
  def trailingSpace(line: UTF8String): UTF8String = {
    if (line == null) return null
    val u = clean(line)
    val end = trailingEnd(u)
    copyOut(u, trailingStart(u, end), end)
  }

  /** Where [[trailingSpace]]'s run in `u` (valid UTF-8) ends: where Java's
   * `$` first matches. Shared with the span walk's line feeder. */
  private[graft] def trailingEnd(u: UTF8String): Int = {
    val n = u.numBytes
    def at(i: Int): Int = byteAt(u, i) & 0xFF
    if (n >= 2 && at(n - 2) == '\r' && at(n - 1) == '\n') n - 2
    else if (n >= 1 && (at(n - 1) == '\n' || at(n - 1) == '\r')) n - 1
    else if (n >= 2 && at(n - 2) == 0xC2 && at(n - 1) == 0x85) n - 2
    else if (n >= 3 && at(n - 3) == 0xE2 && at(n - 2) == 0x80 &&
      (at(n - 1) == 0xA8 || at(n - 1) == 0xA9)) n - 3
    else n
  }

  /** Where the run of `[\x20\t\f]` that ends at `end` starts. */
  private[graft] def trailingStart(u: UTF8String, end: Int): Int = {
    var from = end
    while (from > 0 && isSpace(byteAt(u, from - 1))) from -= 1
    from
  }
}
