package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.text.Tok

/**
 * Native Catalyst expression for the delimiter tokenizer: a [[Kernel]] (not
 * a Scala UDF) whose generated code is one static call to
 * [[Tokenize.tokenize]], producing Catalyst `ArrayData` of
 * `InternalRow(tok, sep)` with no encoder round-trip per token.
 *
 * Semantics are exactly [[graft.text.Tok.tokenize]] (fixture-pinned,
 * property-tested); null input yields an empty array (the UDF contract).
 */
case class Tokenize(child: Expression) extends Kernel[UTF8String] {
  override def dataType: DataType = Tokenize.outType
  override def prettyName: String = "graft_tokenize"
  override protected def target: String = "graft.functions.Tokenize$.MODULE$.tokenize"
  override protected def compute(text: UTF8String): Any = Tokenize.tokenize(text)
  override protected def withNewChildInternal(newChild: Expression): Tokenize =
    copy(child = newChild)
}

object Tokenize {

  /** array<struct<tok: string, sep: string>> */
  val outType: ArrayType = ArrayType(StructType(Seq(
    StructField("tok", StringType, nullable = false),
    StructField("sep", StringType, nullable = false))), containsNull = false)

  // Tok's char-class table rebuilt from its public delimiter sets: 0 =
  // regular, 1 = whitespace, 2 = stand-alone delimiter. All classed
  // codepoints are < 0x2220 (BMP), so astral codepoints — surrogate
  // PAIRS on the String path, single codepoints here — are class 0 on
  // both paths and token boundaries agree.
  private[functions] val maxClassed: Int =
    (Tok.whitespace ++ Tok.punctDelims).map(_.toInt).max
  private[functions] val charClass: Array[Byte] = {
    val t = new Array[Byte](maxClassed + 1)
    Tok.whitespace.foreach(c => t(c.toInt) = 1)
    Tok.punctDelims.foreach(c => t(c.toInt) = 2)
    t
  }

  /** One `(tok, sep)` element (not the varargs `InternalRow(..)`, whose
   * `toArray` is reflective). */
  private def row(tok: UTF8String, sep: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](tok, sep))

  // tasks run this kernel concurrently, so each thread reuses its own scan
  private val scans = ThreadLocal.withInitial[TokenScan](() => new TokenScan)

  /** Runtime kernel, called from generated code and from `eval`.
   *
   * Fast path: scan the UTF-8 BYTES directly ([[TokenScan]]) and emit
   * tokens/separators as `fromBytes` slices over one shared array — no
   * UTF-16 decode, no per-token re-encode, no substring copies (the
   * `toString` → `Tok.tokenize` → `fromString` round-trip was the hottest
   * frame group of the flagship reduce stage). The scan records the token
   * bounds first, so the element array is allocated once, at its size.
   * Byte-identical to the String path for valid UTF-8 (same class table
   * over decoded codepoints, same state machine; TokenizeKernelSpec pins
   * the equivalence, the byte-exact fixture suites pin the pipeline);
   * INVALID UTF-8 falls back to the String path so its U+FFFD sanitization
   * semantics are preserved exactly. */
  def tokenize(u: UTF8String): ArrayData = {
    if (u == null) return new GenericArrayData(Array.empty[Any])
    if (!u.isValid) return tokenizeViaString(u)
    val b = u.getBytes
    val s = scans.get
    s.scan(b)
    val out = new Array[Any](s.count)
    var k = 0
    while (k < out.length) {
      out(k) = row(UTF8String.fromBytes(b, s.tokFrom(k), s.tokUntil(k) - s.tokFrom(k)),
        UTF8String.fromBytes(b, s.sepFrom(k), s.sepUntil(k) - s.sepFrom(k)))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** The original String-path kernel — the invalid-UTF-8 fallback and
   * the differential-test twin (TokenizeKernelSpec). */
  private[graft] def tokenizeViaString(u: UTF8String): ArrayData = {
    val toks = Tok.tokenize(u.toString)
    val arr = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      arr(i) = row(UTF8String.fromString(t.text), UTF8String.fromString(t.sepBefore))
      i += 1
    }
    new GenericArrayData(arr)
  }

  /** Column over an attribute name (resolved at analysis time). */
  def ofAttr(name: String): Column =
    org.apache.spark.sql.graftbridge.bridge.column(Tokenize(UnresolvedAttribute.quoted(name)))
}

/**
 * The tokenizer's state machine over the bytes of valid UTF-8: the one core
 * of [[Tokenize]] and of the span walk's line feeder (`graft.plans.LineWalk`,
 * which tokenizes each body line itself). After [[scan]], token `k` is the
 * bytes [`tokFrom(k)`, `tokUntil(k)`) and the whitespace before it
 * [`sepFrom(k)`, `sepUntil(k)`). One instance serves line after line: its
 * bound array only grows.
 */
private[graft] final class TokenScan {
  import Tokenize.{charClass, maxClassed}
  private var at = new Array[Int](64) // per token: tok from, until, sep from, until
  private var n = 0

  /** Tokens found by the last [[scan]]. */
  def count: Int = n
  def tokFrom(k: Int): Int = at(4 * k)
  def tokUntil(k: Int): Int = at(4 * k + 1)
  def sepFrom(k: Int): Int = at(4 * k + 2)
  def sepUntil(k: Int): Int = at(4 * k + 3)

  private def add(tokFrom: Int, tokUntil: Int, sepFrom: Int, sepUntil: Int): Unit = {
    if (4 * n + 4 > at.length) at = java.util.Arrays.copyOf(at, 2 * at.length)
    at(4 * n) = tokFrom; at(4 * n + 1) = tokUntil
    at(4 * n + 2) = sepFrom; at(4 * n + 3) = sepUntil
    n += 1
  }

  /** Tokenize `b`, which must be valid UTF-8. */
  def scan(b: Array[Byte]): Unit = {
    val len = b.length
    n = 0
    var i = 0
    var sepStart = 0
    var sepEnd = 0
    var tokStart = -1
    while (i < len) {
      val b0 = b(i)
      var cpLen = 1
      var cp: Int = b0 & 0xFF
      if ((b0 & 0x80) != 0) {
        cpLen = UTF8String.numBytesForFirstByte(b0)
        cp = cpLen match {
          case 2 => ((b0 & 0x1F) << 6) | (b(i + 1) & 0x3F)
          case 3 => ((b0 & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) |
            (b(i + 2) & 0x3F)
          case _ => 0x10000 // 4-byte: always astral, always class 0
        }
      }
      val cls: Byte = if (cp <= maxClassed) charClass(cp) else 0
      if (cls != 0) { // whitespace or a delimiter ends the open token
        if (tokStart >= 0) {
          add(tokStart, i, sepStart, sepEnd)
          sepStart = i; sepEnd = i; tokStart = -1
        }
        if (cls == 1) sepEnd = i + cpLen
        else { // stand-alone delimiter token
          add(i, i + cpLen, sepStart, sepEnd)
          sepStart = i + cpLen; sepEnd = i + cpLen
        }
      } else if (tokStart < 0) tokStart = i
      i += cpLen
    }
    if (tokStart >= 0) add(tokStart, len, sepStart, sepEnd)
  }
}
