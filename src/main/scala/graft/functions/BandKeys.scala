package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}

/** Fused banded sign-LSH signature over an `array<float>` embedding: all
  * [[BandWalk.Bands]]×[[BandWalk.BandBits]] hyperplane projections in ONE
  * primitive loop inside WholeStageCodegen, returning the packed per-band
  * keys as `array<int>`.
  *
  * Semantics are IDENTICAL to the declarative formulation it replaces
  * (128 separate `when(vec_dot(emb, ±1-plane) >= 0, bit)` sums — measured
  * ~600µs/row interpreted vs ~5µs/row fused): projection j is the
  * sequential double fold Σ_d emb(d)·w(j,d) with the deterministic ±1
  * weight bank of [[BandWalk.weight]] (Knuth multiplicative mix — the
  * DuckDB oracle inlines the same constants); bit i of band b is set when
  * the projection of hyperplane j = b·BandBits+i is ≥ 0. Arrays whose
  * length differs from [[BandWalk.Dim]] yield all-zero keys (the
  * `vec_dot` length-mismatch → null → no-bit behavior of the declarative
  * form); null elements contribute 0 to the fold.
  */
case class BandKeys(child: Expression)
    extends WalkExpression(ArrayType(FloatType), ArrayType(IntegerType, containsNull = false)) {

  override protected def walk(in: Any): Any =
    BandWalk.keys(in.asInstanceOf[ArrayData])

  override protected def genWalk(c: String): String =
    s"graft.functions.BandWalk.keys($c)"

  override protected def withNewChildInternal(newChild: Expression): BandKeys =
    copy(child = newChild)

  override def prettyName: String = "band_keys"
}

/** [[BandKeys]]'s walker and its constants. */
object BandWalk {
  val Dim = 64
  val Bands = 16
  val BandBits = 8

  /** ±1 weight of hyperplane j at dimension d: Knuth multiplicative mix of
    * the flat index, bit 13 — shared verbatim with the SQL twin
    * (SignLsh.sqlBandKeys inlines these as literals). */
  def weight(j: Int, d: Int): Int = {
    val h = ((j.toLong * Dim + d) * 2654435761L) % 4294967296L
    if (((h >> 13) & 1L) == 0L) 1 else -1
  }

  /** Flat (j·Dim+d) weight table. */
  private val Weights: Array[Double] =
    Array.tabulate(Bands * BandBits * Dim)(k => weight(k / Dim, k % Dim).toDouble)

  def keys(x: ArrayData): GenericArrayData = {
    val keys = new Array[Int](Bands)
    if (x.numElements() == Dim) {
      var b = 0
      while (b < Bands) {
        var key = 0
        var i = 0
        while (i < BandBits) {
          val j = b * BandBits + i
          var acc = 0.0
          var d = 0
          while (d < Dim) {
            if (!x.isNullAt(d)) acc += x.getFloat(d).toDouble * Weights(j * Dim + d)
            d += 1
          }
          if (acc >= 0) key |= 1 << (BandBits - 1 - i)
          i += 1
        }
        keys(b) = key
        b += 1
      }
    }
    new GenericArrayData(keys)
  }
}
