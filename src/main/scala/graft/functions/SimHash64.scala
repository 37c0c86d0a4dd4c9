package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

/** 63-bit SimHash signature from an array of 64-bit token hashes — the
  * fused form of the per-bit majority vote (reference semantics: SURVEY.md
  * §2.10 dedup_simhash; bit 63 dropped so downstream power-of-two sums stay
  * within a signed long under ANSI overflow checking).
  *
  * Equivalent declarative plan: explode(tokens) × explode(0..62) →
  * groupBy(doc, bit).sum(vote) → groupBy(doc).sum(1<<bit) — i.e. a
  * tokens×63-row shuffle. This expression computes the identical value in
  * one primitive loop per row inside WholeStageCodegen: zero shuffle,
  * O(tokens×63) register arithmetic. Null elements are skipped; a null
  * array yields null.
  */
case class SimHash64(child: Expression)
    extends WalkExpression(ArrayType(LongType), LongType) {

  override protected def walk(in: Any): Any =
    SimHashWalk.sig(in.asInstanceOf[ArrayData])

  override protected def genWalk(c: String): String =
    s"graft.functions.SimHashWalk.sig($c)"

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

/** [[SimHash64]]'s walker, called by eval and generated code. */
object SimHashWalk {
  def sig(arr: ArrayData): Long = {
    val counts = new Array[Int](63)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 63) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 63) {
      if (counts(b) > 0) r |= 1L << b
      b += 1
    }
    r
  }
}
