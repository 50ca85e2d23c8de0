package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{DataType, StringType}

/**
 * The one shape of the engine's unary Catalyst kernels: an input column and
 * one static call to the kernel's core. Generated code is
 * `<javaType> v = <target>(childIsNull ? null : child, args…)`, so rows stay
 * inside WholeStageCodegen with no UDF encoder round-trip; interpreted
 * `eval` is the same core through [[compute]]. A subclass states its
 * `prettyName`, `dataType`, the static [[target]], [[compute]], any extra
 * [[args]] and, if its result can be null, `nullable`.
 *
 * `I` is the evaluated input ([[inputType]]'s internal form).
 */
abstract class Kernel[I] extends UnaryExpression {
  /** The input type, compared ignoring nullability. */
  protected def inputType: DataType = StringType
  /** Fully-qualified static call, e.g.
   * `graft.functions.Shingles$.MODULE$.compute`. */
  protected def target: String
  /** Call arguments after the input: an `Int` is written into the code,
   * anything else is passed as a reference object. */
  protected def args: Seq[Any] = Nil
  /** The core on one input value, null included. */
  protected def compute(in: I): Any

  /** Never null unless a kernel propagates null input. */
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (DataTypeUtils.equalsIgnoreNullability(child.dataType, inputType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ${inputType.sql}, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): Any = compute(child.eval(input).asInstanceOf[I])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = child.genCode(ctx)
    val rest = args.map {
      case n: Int => s", $n"
      case o => ", " + ctx.addReferenceObj("kernelArg", o, o.getClass.getCanonicalName)
    }.mkString
    val call =
      code"""
         |${in.code}
         |${CodeGenerator.javaType(dataType)} ${ev.value} =
         |  $target(${in.isNull} ? null : ${in.value}$rest);
       """.stripMargin
    if (nullable) ev.copy(code = call + code"boolean ${ev.isNull} = ${ev.value} == null;")
    else ev.copy(code = call, isNull = FalseLiteral)
  }
}
