package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** One body per fused kernel: the per-row loop is one method on a lone
  * Scala object (a "walker" — lone so generated Java can call its static
  * forwarders), called from both eval and codegen; the declarative twin
  * each kernel documents stays in the specs as the test reference. A
  * kernel supplies the walker call twice over the same method: as Scala
  * for `nullSafeEval` (`walk`) and as Java for generated code
  * (`genWalk`); the two bases below own the rest.
  *
  * This base is the unary case — `input` in, walker, fixed `out` type out
  * — and owns the type check and the result type. Serializable because
  * Java deserialization of a kernel needs its first non-serializable
  * superclass to have a no-arg constructor, and this one has two params. */
private[functions] abstract class WalkExpression(input: DataType, out: DataType)
    extends UnaryExpression with Serializable {

  /** The walker applied to the (non-null) child value. */
  protected def walk(in: Any): Any

  /** Java call of the same walker method on generated variable `c`. */
  protected def genWalk(c: String): String

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (input, child.dataType) match {
      case (ArrayType(want, _), ArrayType(got, _)) => want == got
      case (want, got) => want == got
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
      s"${input.simpleString}, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = out

  override protected def nullSafeEval(in: Any): Any = walk(in)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${genWalk(c)};")
}

/** The binary case for kernels with a nullable result: the walker returns
  * a box, and a null box is the SQL NULL — no in-band sentinel, since
  * every value of the result type can be a real result. */
private[functions] abstract class BinaryWalkExpression extends BinaryExpression {

  /** The walker applied to the (non-null) child values. */
  protected def walk(a: Any, b: Any): AnyRef

  /** Java call of the same walker method on generated variables. */
  protected def genWalk(a: String, b: String): String

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = walk(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("boxed")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${CodeGenerator.boxedType(dataType)} $boxed = ${genWalk(a, b)};
         |${ev.isNull} = $boxed == null;
         |if ($boxed != null) ${ev.value} = $boxed;""".stripMargin)
  }
}
