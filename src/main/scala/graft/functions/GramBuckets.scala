package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused hashed unigram+bigram feature extraction for the DSIR posting
  * pass — BIT-IDENTICAL to the declarative chain
  * {{{
  *   t  = filter(split(lowered, "[^a-z0-9']+"), x => x != "")
  *   g  = concat(t, zip-adjacent concat_ws(" ", tᵢ, tᵢ₊₁))
  *   b  = transform(g, x => md5_prefix32(x) % buckets)
  * }}}
  * in ONE byte-walk over the (already-lowercased — the caller keeps
  * Spark's `lower()`, preserving its Unicode semantics) input. The
  * declarative chain materializes the token STRING array, a second
  * bigram string array (one fresh `concat_ws` allocation per adjacent
  * pair), caches the concatenation, and only then hashes — measured at
  * sf1 those per-gram string allocations, not the digests, dominated
  * pipeline_dsir's per-row constant (round-13 verdict #5). Here token
  * BYTE SPANS are found by the same maximal-`[a-z0-9']+`-run scan as
  * [[TextByteWalk.tokenRuns]] (byte-exact vs the regex split: every
  * class byte is pure ASCII, so UTF-8 continuation/lead bytes ≥ 0x80 are
  * always separators, exactly as the decoded-string regex behaves), each
  * unigram digest runs over its span slice, and each bigram digest runs
  * over (spanᵢ, `' '`, spanᵢ₊₁) via incremental `MessageDigest.update`
  * calls — the md5 of the very bytes `concat_ws` would have built,
  * without building them. Output order is unigrams-then-bigrams,
  * faithful to the `concat`; consumers aggregate, so order never
  * matters downstream. */
case class GramBuckets(child: Expression, buckets: Long)
    extends WalkExpression(StringType, ArrayType(LongType, containsNull = false)) {

  override def checkInputDataTypes(): TypeCheckResult =
    if (buckets > 0) super.checkInputDataTypes()
    else TypeCheckResult.TypeCheckFailure(
      s"gram_buckets requires a positive bucket count, got $buckets")

  override protected def walk(in: Any): Any =
    GramWalk.buckets(in.asInstanceOf[UTF8String], buckets)

  override protected def genWalk(c: String): String =
    s"graft.functions.GramWalk.buckets($c, ${buckets}L)"

  override protected def withNewChildInternal(newChild: Expression): GramBuckets =
    copy(child = newChild)

  override def prettyName: String = "gram_buckets"
}

/** Executor-side gram walker (lone object ⇒ static forwarders for
  * generated Java). */
object GramWalk {

  @inline private def isTok(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '\''

  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val SpaceByte = Array(' '.toByte)

  @inline private def prefix32(dig: Array[Byte]): Long =
    ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)

  /** Unigram+bigram md5-prefix32 buckets of the lowered string `s`:
    * `[md5(tokᵢ) % m …, md5(tokᵢ + ' ' + tokᵢ₊₁) % m …]`. */
  def buckets(s: UTF8String, m: Long): GenericArrayData = {
    val b = s.getBytes
    // pass 1: token spans (start offsets + lengths), counted exactly
    var nt = 0
    var i = 0
    var inRun = false
    while (i < b.length) {
      val t = isTok(b(i))
      if (t && !inRun) nt += 1
      inRun = t
      i += 1
    }
    val starts = new Array[Int](nt)
    val lens = new Array[Int](nt)
    var k = 0
    i = 0
    inRun = false
    while (i < b.length) {
      val t = isTok(b(i))
      if (t && !inRun) { starts(k) = i; k += 1 }
      if (t) lens(k - 1) += 1
      inRun = t
      i += 1
    }
    val d = md.get()
    val out = new Array[Long](if (nt >= 2) 2 * nt - 1 else nt)
    i = 0
    while (i < nt) {
      d.reset()
      d.update(b, starts(i), lens(i))
      out(i) = prefix32(d.digest()) % m
      i += 1
    }
    i = 0
    while (i < nt - 1) {
      d.reset()
      d.update(b, starts(i), lens(i))
      d.update(SpaceByte, 0, 1)
      d.update(b, starts(i + 1), lens(i + 1))
      out(nt + i) = prefix32(d.digest()) % m
      i += 1
    }
    new GenericArrayData(out)
  }
}
