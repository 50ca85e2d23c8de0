package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd kernel for [[graft.ops.Dsir.buckets]] — hashed unigram+bigram
 * featurization, the map-side cost of every DSIR fit/score pass. The
 * Catalyst form (word split + `zip_with` bigrams + a per-gram
 * md5/conv/mod `transform`) is a higher-order-function cascade
 * (CodegenFallback): interpreted tree walks and several string
 * allocations per gram. One compiled pass instead.
 *
 * Bit-identical by construction (differential-pinned by ShingleKernelSpec):
 * the same trim/lower/split word tokenization over the null-coalesced
 * text, unigrams then bigrams in order WITH multiplicity, and per gram
 * exactly `conv(substring(md5(g),1,6),16,10) % b` — the first 3 md5 bytes
 * as a non-negative int, modulo b (`DigestUtils.md5` over the gram's
 * UTF-8 bytes; bigrams joined with a single 0x20).
 */
case class DsirBuckets(child: Expression, b: Int) extends Kernel[UTF8String] {
  require(b > 0, "b must be positive")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_dsir_buckets"
  override protected def target: String = "graft.functions.DsirBuckets$.MODULE$.compute"
  override protected def args: Seq[Any] = Seq(b)
  override protected def compute(text: UTF8String): Any = DsirBuckets.compute(text, b)
  override protected def withNewChildInternal(newChild: Expression): DsirBuckets =
    copy(child = newChild)
}

object DsirBuckets {

  private val spaceU = UTF8String.fromString(" ")

  def of(text: Column, b: Int): Column =
    bridge.column(DsirBuckets(bridge.expression(text), b))

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** `('0x' || substr(md5(g),1,6))::INT % b`: first 3 digest bytes as a
   * non-negative int (< 2^24), mod b. */
  private def bucketOf(gramBytes: Array[Byte], b: Int): Int = {
    val md = digest.get()
    md.reset()
    val d = md.digest(gramBytes)
    val v = ((d(0) & 0xFF) << 16) | ((d(1) & 0xFF) << 8) | (d(2) & 0xFF)
    v % b
  }

  def compute(text0: UTF8String, b: Int): ArrayData = {
    val text = if (text0 == null) UTF8String.EMPTY_UTF8 else text0
    val words = Shingles.wordsOf(text)
    val nw = words.length
    val nBi = if (nw >= 2) nw - 1 else 0
    val out = new Array[Int](nw + nBi)
    var i = 0
    while (i < nw) {
      out(i) = bucketOf(words(i).getBytes, b)
      i += 1
    }
    i = 0
    while (i < nBi) {
      val joined = UTF8String.concatWs(spaceU, words(i), words(i + 1))
      out(nw + i) = bucketOf(joined.getBytes, b)
      i += 1
    }
    new GenericArrayData(out)
  }
}
