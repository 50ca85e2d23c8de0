package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd kernel for the 13-column Gopher repetition suite
 * ([[graft.ops.Gopher.repetitionStats]]) — the heaviest per-row projection
 * in the engine. The Catalyst form is 9 shingle constructions + sorts +
 * run-length zips per row, and every higher-order function is
 * `CodegenFallback` (one interpreted expression-tree walk PER ELEMENT), so
 * the suite ran interpreted at ~0.5 ms/doc. This expression computes all 13
 * metrics in ONE compiled pass over the words array (hash-map run counting
 * instead of sort + zip run-length), called directly from generated code,
 * so the projection stays inside WholeStageCodegen.
 *
 * Results are BIT-IDENTICAL to the HOF form (differential-pinned by
 * GopherKernelSpec and the unchanged GopherSpec hand computations; the
 * driver oracles replay the same values in SQL):
 *  - the exact same string primitives in the same order: `UTF8String.trim`
 *    (0x20-only), `UTF8String.toLowerCase` (the UTF8_BINARY `lower` path),
 *    `UTF8String.split(pattern, -1)` (the non-legacy `split`), and the same
 *    Java regexes for whitespace normalization;
 *  - char mass = `numChars` (code points), summed in long;
 *  - the modal gram's tie-break is (count, char length, gram) with the gram
 *    leg compared as UTF-8 binary — exactly `array_max` over the sorted
 *    run structs (ties on the first two legs resolved by a streaming
 *    byte-compare of the space-joined grams, never materialized);
 *  - fractions use the same exact-integer half-up rounding as
 *    [[graft.ops.Cols.ratio4dp]]: `(p·2·10⁴ + q) div (2·q)`, then an exact
 *    /10⁴ in double.
 * Null input behaves as the call-site `coalesce(text, '')`: all-zero row.
 */
case class GopherRepetition(child: Expression) extends Kernel[UTF8String] {
  override def dataType: DataType = GopherRepetition.outType
  override def prettyName: String = "graft_gopher_rep"
  override protected def target: String = "graft.functions.GopherRepetition$.MODULE$.compute"
  override protected def compute(text: UTF8String): Any = GopherRepetition.compute(text)
  override protected def withNewChildInternal(newChild: Expression): GopherRepetition =
    copy(child = newChild)
}

object GopherRepetition {

  /** Output fields, in [[graft.ops.Gopher.repetitionStats]] column order. */
  val fieldNames: Seq[String] =
    Seq("dup_line_frac", "dup_line_char_frac",
      "dup_para_frac", "dup_para_char_frac") ++
    Seq(2, 3, 4).map(n => s"top_${n}gram_char_frac") ++
    (5 to 10).map(n => s"dup_${n}gram_char_frac")

  val outType: StructType =
    StructType(fieldNames.map(StructField(_, DoubleType, nullable = false)))

  /** Column API. */
  def of(text: Column): Column =
    bridge.column(GopherRepetition(bridge.expression(text)))

  // the same pattern objects Spark's split/regexp_replace would compile
  private val WsPlus = Pattern.compile("\\s+")
  private val wsPlusU = UTF8String.fromString("\\s+")
  private val nlU = UTF8String.fromString("\n")
  private val nl2U = UTF8String.fromString("\n\n")

  import KernelMath.ratio4dp

  /** Runtime kernel, called from generated code and from `eval`. */
  def compute(text0: UTF8String): InternalRow = {
    val text = if (text0 == null) UTF8String.EMPTY_UTF8 else text0
    val out = new Array[Any](13)

    // — dup line/para fracs over whitespace-normalized non-empty units —
    dupUnitFracs(text.split(nlU, -1), out, 0)
    dupUnitFracs(text.split(nl2U, -1), out, 2)

    // — words (the shingle base): split(lower(trim(text)), "\s+"), non-empty —
    val pieces = text.trim().toLowerCase().split(wsPlusU, -1)
    var nw = 0
    var i = 0
    while (i < pieces.length) {
      if (pieces(i).numBytes() > 0) nw += 1
      i += 1
    }
    val words = new Array[UTF8String](nw)
    val ids = new Array[Int](nw)
    val charPre = new Array[Long](nw + 1) // prefix sums of numChars
    val intern = new java.util.HashMap[UTF8String, Integer](nw * 2)
    var j = 0
    i = 0
    while (i < pieces.length) {
      val p = pieces(i)
      if (p.numBytes() > 0) {
        words(j) = p
        charPre(j + 1) = charPre(j) + p.numChars()
        var id = intern.get(p)
        if (id == null) { id = Integer.valueOf(intern.size); intern.put(p, id) }
        ids(j) = id.intValue()
        j += 1
      }
      i += 1
    }

    var fi = 4
    var n = 2
    while (n <= 4) {
      out(fi) = java.lang.Double.valueOf(gramFracs(words, ids, charPre, n, top = true))
      fi += 1; n += 1
    }
    n = 5
    while (n <= 10) {
      out(fi) = java.lang.Double.valueOf(gramFracs(words, ids, charPre, n, top = false))
      fi += 1; n += 1
    }
    new GenericInternalRow(out)
  }

  /** dup-by-count and dup-by-chars fractions of the normalized non-empty
   * units (lines or paragraphs), written to `out(at)` / `out(at+1)`. */
  private def dupUnitFracs(raw: Array[UTF8String], out: Array[Any], at: Int): Unit = {
    var cnt = 0L
    var distinct = 0L
    var tc = 0L
    var dtc = 0L
    val seen = new java.util.HashSet[String]
    var i = 0
    while (i < raw.length) {
      // regexp_replace(lower(trim(l)), "\s+", " ") then filter non-empty
      val s = WsPlus.matcher(raw(i).trim().toLowerCase().toString).replaceAll(" ")
      if (!s.isEmpty) {
        cnt += 1
        val len = s.codePointCount(0, s.length).toLong
        tc += len
        if (seen.add(s)) { distinct += 1; dtc += len }
      }
      i += 1
    }
    out(at) = java.lang.Double.valueOf(
      if (cnt > 0) ratio4dp(cnt - distinct, cnt) else 0.0)
    out(at + 1) = java.lang.Double.valueOf(
      if (tc > 0) ratio4dp(tc - dtc, tc) else 0.0)
  }

  /** Gram-space fraction for window size n: the modal gram's char mass
   * (`top = true`, tie-break (count, len, binary gram)) or the duplicate
   * occurrences' char mass (`top = false`), over total gram chars. */
  private def gramFracs(words: Array[UTF8String], ids: Array[Int],
      charPre: Array[Long], n: Int, top: Boolean): Double = {
    val nw = words.length
    if (nw < n) {
      // single whole-doc gram: array(array_join(ws, " "))
      val len = if (nw == 0) 0L else charPre(nw) + (nw - 1)
      return if (len > 0) { if (top) ratio4dp(len, len) else 0.0 } else 0.0
    }
    val nWin = nw - n + 1
    val map = new java.util.HashMap[GramKey, GramInfo](nWin * 2)
    var totalChars = 0L
    var distinctChars = 0L
    var w = 0
    while (w < nWin) {
      val len = charPre(w + n) - charPre(w) + (n - 1)
      totalChars += len
      val key = new GramKey(ids, w, n)
      val info = map.get(key)
      if (info == null) {
        map.put(key, new GramInfo(w, len))
        distinctChars += len
      } else info.count += 1
      w += 1
    }
    if (totalChars <= 0) return 0.0
    if (!top) return ratio4dp(totalChars - distinctChars, totalChars)
    // modal gram: max by (count, char length, UTF-8-binary gram) — exactly
    // array_max over the sorted-run structs
    var best: GramInfo = null
    val it = map.values().iterator()
    while (it.hasNext) {
      val g = it.next()
      if (best == null || g.count > best.count ||
        (g.count == best.count && (g.len > best.len ||
          (g.len == best.len && cmpJoined(words, g.start, best.start, n) > 0))))
        best = g
    }
    ratio4dp(best.count * best.len, totalChars)
  }

  /** Streaming UTF-8 byte comparison of the two space-joined grams
   * words[a..a+n) vs words[b..b+n) — the StringType binary ordering of the
   * joined shingle strings, without materializing them. */
  private def cmpJoined(words: Array[UTF8String], a: Int, b: Int, n: Int): Int = {
    var wa = 0; var ia = 0 // word index within gram, byte index within word
    var wb = 0; var ib = 0
    while (true) {
      // next byte of side a: word bytes, then a virtual 0x20 separator
      val la = words(a + wa).numBytes()
      val lb = words(b + wb).numBytes()
      val aEnd = wa == n - 1 && ia == la
      val bEnd = wb == n - 1 && ib == lb
      if (aEnd || bEnd)
        return if (aEnd && bEnd) 0 else if (aEnd) -1 else 1
      val ba: Int =
        if (ia < la) { val v = words(a + wa).getByte(ia) & 0xFF; ia += 1; v }
        else { wa += 1; ia = 0; 0x20 }
      val bb: Int =
        if (ib < lb) { val v = words(b + wb).getByte(ib) & 0xFF; ib += 1; v }
        else { wb += 1; ib = 0; 0x20 }
      if (ba != bb) return ba - bb
    }
    0 // unreachable
  }

  /** n consecutive word ids starting at `start` — all keys of one document
   * share the `ids` array, so equality is an elementwise compare. */
  private final class GramKey(val ids: Array[Int], val start: Int, val n: Int) {
    override val hashCode: Int = {
      var h = 1
      var i = start
      while (i < start + n) { h = h * 31 + ids(i); i += 1 }
      h
    }
    override def equals(o: Any): Boolean = {
      val g = o.asInstanceOf[GramKey]
      if (g.n != n) return false
      var i = 0
      while (i < n) {
        if (ids(start + i) != g.ids(g.start + i)) return false
        i += 1
      }
      true
    }
  }

  private final class GramInfo(val start: Int, val len: Long) {
    var count: Long = 1L
  }
}
