package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd kernel for [[graft.ops.Dedup.shingles]] — word n-gram
 * construction, the map-side feeder of every minhash/LSH/Jaccard/decontam
 * path. The Catalyst form (`transform(sequence(...), i =>
 * array_join(slice(ws, i+1, n), " "))` over the bound word split) is a
 * higher-order function, hence CodegenFallback: one interpreted
 * expression-tree walk and several intermediate allocations PER WINDOW.
 * This expression builds the same joined windows in one compiled pass.
 *
 * Bit-identical by construction (differential-pinned by ShingleKernelSpec):
 * the same `UTF8String.trim`/`toLowerCase`/`split("\s+", -1)` word
 * tokenization as [[graft.ops.TextStats.words]], windows joined with a
 * single 0x20 via `UTF8String.concatWs` (= `array_join(_, " ")` on
 * never-null elements), and the same `< n` degenerate: ONE whole-doc gram
 * (the empty string for a zero-word document). Null in → null out, exactly
 * the HOF form's null propagation.
 */
case class Shingles(child: Expression, n: Int) extends Kernel[UTF8String] {
  require(n > 0, "n must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_shingles"
  override protected def target: String = "graft.functions.Shingles$.MODULE$.compute"
  override protected def args: Seq[Any] = Seq(n)
  override protected def compute(text: UTF8String): Any = Shingles.compute(text, n)
  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {

  private val wsPlusU = UTF8String.fromString("\\s+")
  private val spaceU = UTF8String.fromString(" ")

  def of(text: Column, n: Int): Column =
    bridge.column(Shingles(bridge.expression(text), n))

  /** The shared word tokenization: split(lower(trim(text)), "\s+"),
   * empties dropped — [[graft.ops.TextStats.words]] in kernel form. */
  private[functions] def wordsOf(text: UTF8String): Array[UTF8String] = {
    val pieces = text.trim().toLowerCase().split(wsPlusU, -1)
    var nw = 0
    var i = 0
    while (i < pieces.length) {
      if (pieces(i).numBytes() > 0) nw += 1
      i += 1
    }
    if (nw == pieces.length) return pieces
    val words = new Array[UTF8String](nw)
    var j = 0
    i = 0
    while (i < pieces.length) {
      if (pieces(i).numBytes() > 0) { words(j) = pieces(i); j += 1 }
      i += 1
    }
    words
  }

  def compute(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return null
    val words = wordsOf(text)
    val nw = words.length
    if (nw < n)
      return new GenericArrayData(Array[Any](UTF8String.concatWs(spaceU, words: _*)))
    val out = new Array[Any](nw - n + 1)
    val window = new Array[UTF8String](n)
    var w = 0
    while (w < nw - n + 1) {
      System.arraycopy(words, w, window, 0, n)
      out(w) = UTF8String.concatWs(spaceU, window: _*)
      w += 1
    }
    new GenericArrayData(out)
  }
}
