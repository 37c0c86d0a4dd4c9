package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused dot product over two `array<float|double>` columns — the custom
  * Catalyst `Expression` path of SURVEY.md §2.9/§4: where `zip_with` +
  * `aggregate` builds an intermediate lambda-variable array per row, this
  * compiles to a single primitive loop inside WholeStageCodegen. Each side
  * may independently be float or double (the IVF quantizer dots float
  * embeddings against double centroids).
  *
  * Semantics are IDENTICAL to the declarative fold
  * `aggregate(zip_with(a, b, (x,y) => double(x)*double(y)), 0.0, _+_)`:
  * sequential accumulation in array order (bit-stable across engines),
  * null if either array is null, lengths must match (else null), and a
  * null ELEMENT poisons the whole result to null — exactly what the fold
  * computes (null product → null accumulator, sticky). That exact
  * equivalence is what licenses [[VecDotRewrite]] to swap the fold for
  * this expression.
  */
case class VecDot(left: Expression, right: Expression)
  extends BinaryWalkExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(elemType(_).isDefined)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<float|double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  @transient private lazy val floats = (elemType(left).contains(FloatType),
    elemType(right).contains(FloatType))

  override protected def walk(a: Any, b: Any): AnyRef = VecDotWalk.dot(
    a.asInstanceOf[ArrayData], floats._1, b.asInstanceOf[ArrayData], floats._2)

  override protected def genWalk(x: String, y: String): String =
    s"graft.functions.VecDotWalk.dot($x, ${floats._1}, $y, ${floats._2})"

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** [[VecDot]]'s walker, called by eval and generated code. */
object VecDotWalk {
  @inline private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Σ x(i)·y(i), accumulated in array order; null when the lengths
    * differ or either side has a null slot. */
  def dot(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += get(x, i, xFloat) * get(y, i, yFloat)
      i += 1
    }
    acc
  }
}
