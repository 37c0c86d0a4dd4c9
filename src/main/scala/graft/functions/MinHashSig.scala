package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** MinHash signature over an array of 64-bit shingle hashes: for each of
  * `numHashes` hash functions k, the minimum of `xxhash64(k, h)` over the
  * array — BIT-COMPATIBLE with the declarative
  * `transform(sequence(0, n-1), k -> array_min(transform(hs, h -> xxhash64(k, h))))`
  * (Spark's XxHash64 chains `XXH64.hashInt(k, 42)` then `hashLong(h, ·)`;
  * the per-function seeds are precomputed in [[MinHashWalk]]).
  *
  * The declarative form allocates n+1 intermediate arrays per row; this is
  * one primitive double loop inside WholeStageCodegen. Empty arrays yield
  * an all-Long.MaxValue signature (array_min of empty is null in ANSI-safe
  * plans — callers filter empty shingle sets first, as dedup_minhash does).
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends WalkExpression(ArrayType(LongType), ArrayType(LongType, containsNull = false)) {

  require(numHashes > 0 && numHashes <= MinHashWalk.MaxHashes)

  override protected def walk(in: Any): Any =
    MinHashWalk.sig(in.asInstanceOf[ArrayData], numHashes)

  override protected def genWalk(c: String): String =
    s"graft.functions.MinHashWalk.sig($c, $numHashes)"

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

/** [[MinHashSig]]'s walker, called by eval and generated code. */
object MinHashWalk {
  val MaxHashes = 256

  /** Per-function seeds `XXH64.hashInt(k, 42)`, the first link of Spark's
    * `xxhash64(k, h)` chain, computed once for every k. */
  private val Seeds: Array[Long] =
    Array.tabulate(MaxHashes)(k => XXH64.hashInt(k, 42L))

  def sig(arr: ArrayData, numHashes: Int): GenericArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var k = 0
        while (k < numHashes) {
          val v = XXH64.hashLong(h, Seeds(k))
          if (v < sig(k)) sig(k) = v
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}
