package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd kernel for the window-gram hashing inside
 * [[graft.ops.Passage.occurrencesUnits]]: `transform(sequence(0, size-n),
 * i => md5(lower(concat_ws(" ", slice(units, i+1, n)))))` — a higher-order
 * function (CodegenFallback), so every window paid an interpreted tree
 * walk plus slice/concat/lower allocations. One compiled pass instead.
 *
 * Bit-identical by construction (differential-pinned by ShingleKernelSpec):
 * `concat_ws` skips null elements (same as ConcatWs), the join is lowered
 * AFTER joining (`lower` over the joined window — context-sensitive
 * mappings like final sigma depend on it), and the hash is
 * `DigestUtils.md5Hex` over the lowered window's UTF-8 bytes — exactly
 * Spark's `Md5`. Null array in → null out.
 */
case class GramMd5(child: Expression, n: Int) extends Kernel[ArrayData] {
  require(n > 0, "n must be positive")
  override protected def inputType: DataType = ArrayType(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_gram_md5"
  override protected def target: String = "graft.functions.GramMd5$.MODULE$.compute"
  override protected def args: Seq[Any] = Seq(n)
  override protected def compute(units: ArrayData): Any = GramMd5.compute(units, n)
  override protected def withNewChildInternal(newChild: Expression): GramMd5 =
    copy(child = newChild)
}

object GramMd5 {

  private val spaceU = UTF8String.fromString(" ")

  // one digest per thread: DigestUtils.md5Hex allocates a MessageDigest
  // (provider lookup included) per call — per WINDOW here, the hot loop
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def of(units: Column, n: Int): Column =
    bridge.column(GramMd5(bridge.expression(units), n))

  def compute(units: ArrayData, n: Int): ArrayData = {
    if (units == null) return null
    val nu = units.numElements()
    val elems = new Array[UTF8String](nu)
    var i = 0
    while (i < nu) {
      elems(i) = if (units.isNullAt(i)) null
        else units.getUTF8String(i)
      i += 1
    }
    // sequence(0, size - n) is non-empty only when size >= n; the call
    // site filters size >= n, but mirror the HOF's empty output for
    // smaller arrays (sequence(0, negative) errors; transform over the
    // filtered frame never sees one)
    if (nu < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nu - n + 1)
    val window = new Array[UTF8String](n)
    var w = 0
    while (w < nu - n + 1) {
      System.arraycopy(elems, w, window, 0, n)
      val joined = UTF8String.concatWs(spaceU, window: _*)
      val lowered = joined.toLowerCase()
      val md = digest.get()
      md.reset()
      // md5Hex = MD5 + lowercase hex; same bytes, no per-call digest alloc
      out(w) = UTF8String.fromString(
        org.apache.commons.codec.binary.Hex.encodeHexString(
          md.digest(lowered.getBytes)))
      w += 1
    }
    new GenericArrayData(out)
  }
}
