package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Fused PQ codeword assignment: `pq_assign(sub, books)` returns the `cid`
  * of the codeword in `books` (an `array<struct<cid: bigint, cvec:
  * array<double>>>`, the collected per-subspace codebook) with the
  * smallest squared L2 distance to `sub` (`array<float|double>`), ties
  * broken by the LOWEST cid.
  *
  * Semantics are IDENTICAL to the declarative encode it replaces
  * ([[graft.ops.Vectors]] pqIndex):
  * `max_by(cid, struct(-d2, -cid))` over the K exploded codeword rows,
  * with `d2 = aggregate(zip_with(sub, cvec, (x,y) => (double(x)-y)²),
  * 0.0, _+_)` — the fold accumulates sequentially in array order, so the
  * per-dimension loop below performs the SAME IEEE additions in the SAME
  * order, and [[PqWalk]] compares the pair exactly as Spark orders the
  * struct — so the two forms agree on hostile input too:
  *   - a null entry, null cvec, null slot in `sub` or `cvec`, or a
  *     length-mismatched `cvec` (zip_with pads with nulls) nulls that
  *     codeword's d²; a null d² sorts first, so the codeword loses to
  *     every non-null d² (among all-null d², the lowest cid still wins);
  *   - a NaN d² (e.g. Inf − Inf) sorts greatest under Spark's double
  *     ordering, so it wins; ±Inf inputs give d² = +Inf, which loses;
  *   - an empty book yields null (max_by over no rows), as does a null
  *     cid that wins.
  * A null `sub` or `books` yields null, the null-in/null-out contract
  * every graft kernel keeps.
  *
  * Why it exists (guide §1.2 per-task work, the [[VecDot]] precedent):
  * the declarative encode explodes n·M·K scored rows through a broadcast
  * join, evaluates an INTERPRETED 16-dim lambda fold per row, and
  * re-collapses through a (vec_id, m) hash aggregate — an Exchange over
  * the full code table. The fused form keeps the encode at n·M rows,
  * map-only, inside whole-stage codegen. */
case class PqAssign(left: Expression, right: Expression)
  extends BinaryWalkExpression {

  private def subElem: Option[DataType] = left.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  private def booksOk: Boolean = right.dataType match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _),
      StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (subElem.isDefined && booksOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "pq_assign requires (array<float|double>, array<struct<bigint, " +
        s"array<double>>>), got (${left.dataType.simpleString}, " +
        s"${right.dataType.simpleString})")

  override def dataType: DataType = LongType

  @transient private lazy val subFloat = subElem.contains(FloatType)

  override protected def walk(a: Any, b: Any): AnyRef =
    PqWalk.assign(a.asInstanceOf[ArrayData], subFloat, b.asInstanceOf[ArrayData])

  override protected def genWalk(sub: String, books: String): String =
    s"graft.functions.PqWalk.assign($sub, $subFloat, $books)"

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): PqAssign =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "pq_assign"
}

/** [[PqAssign]]'s walker, called by eval and generated code. */
object PqWalk {

  /** The cid `max_by(cid, struct(-d2, -cid))` picks over `books`; null
    * when `books` is empty or the winning entry's cid is null. */
  def assign(sub: ArrayData, subFloat: Boolean, books: ArrayData): java.lang.Long = {
    val n = sub.numElements()
    // sub is read once per row, not once per codeword
    val xs = new Array[Double](n)
    var subNull = false
    var i = 0
    while (i < n) {
      if (sub.isNullAt(i)) subNull = true
      else xs(i) = if (subFloat) sub.getFloat(i).toDouble else sub.getDouble(i)
      i += 1
    }
    var found = false
    var bestD2Null = true
    var bestD2 = 0.0
    var bestCidNull = true
    var bestCid = 0L
    var k = 0
    val nk = books.numElements()
    while (k < nk) {
      // a null entry, cid or cvec reads as a null field of the ordering struct
      var cidNull = true
      var cid = 0L
      var d2Null = true
      var d2 = 0.0
      if (!books.isNullAt(k)) {
        val row = books.getStruct(k, 2)
        if (!row.isNullAt(0)) { cidNull = false; cid = row.getLong(0) }
        if (!subNull && !row.isNullAt(1)) {
          val cvec = row.getArray(1)
          // zip_with pads the shorter side with nulls: a length mismatch
          // or any null slot nulls d²
          if (cvec.numElements() == n) {
            d2Null = false
            i = 0
            while (i < n && !d2Null) {
              if (cvec.isNullAt(i)) d2Null = true
              else { val d = xs(i) - cvec.getDouble(i); d2 += d * d }
              i += 1
            }
          }
        }
      }
      // Spark's order on struct(-d2, -cid): a null field sorts first, NaN
      // last, -0.0 == 0.0; max_by replaces only on strictly greater
      val byD2 =
        if (!found) 1
        else if (d2Null || bestD2Null) (if (d2Null) 0 else 1) - (if (bestD2Null) 0 else 1)
        else SQLOrderingUtil.compareDoubles(-d2, -bestD2)
      val wins = byD2 > 0 || (byD2 == 0 &&
        (if (cidNull || bestCidNull) !cidNull && bestCidNull else -cid > -bestCid))
      if (wins) {
        found = true
        bestD2Null = d2Null; bestD2 = d2; bestCidNull = cidNull; bestCid = cid
      }
      k += 1
    }
    if (!found || bestCidNull) null else bestCid
  }
}
