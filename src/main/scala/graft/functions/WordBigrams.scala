package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd kernel for [[graft.ops.LangModel]]'s adjacent-word bigram
 * construction: `zip_with(ws, slice(ws, 2, size-1), (a,b) =>
 * struct(a, b))` filtered on non-null `w`, over the
 * [[graft.ops.TextStats.words]] split — a higher-order-function pair
 * (CodegenFallback), interpreted per element. One compiled pass.
 *
 * Bit-identical by construction (differential-pinned by
 * ShingleKernelSpec): same word tokenization, pairs (w_i, w_{i+1}) in
 * order, empty array under two words, null in → null out.
 */
case class WordBigrams(child: Expression) extends Kernel[UTF8String] {
  override def dataType: DataType = WordBigrams.outType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_word_bigrams"
  override protected def target: String = "graft.functions.WordBigrams$.MODULE$.compute"
  override protected def compute(text: UTF8String): Any = WordBigrams.compute(text)
  override protected def withNewChildInternal(newChild: Expression): WordBigrams =
    copy(child = newChild)
}

object WordBigrams {

  val outType: ArrayType = ArrayType(StructType(Seq(
    StructField("prev", StringType, nullable = true),
    StructField("w", StringType, nullable = true))), containsNull = false)

  def of(text: Column): Column =
    bridge.column(WordBigrams(bridge.expression(text)))

  def compute(text: UTF8String): ArrayData = {
    if (text == null) return null
    val words = Shingles.wordsOf(text)
    val nw = words.length
    if (nw < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nw - 1)
    var i = 0
    while (i < nw - 1) {
      out(i) = new GenericInternalRow(Array[Any](words(i), words(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }
}
