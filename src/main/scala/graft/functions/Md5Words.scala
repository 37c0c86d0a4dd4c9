package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Both 60-bit md5 words of a string in ONE digest pass —
  * BIT-IDENTICAL to the declarative
  * `conv(substring(md5(s), 1, 15), 16, 10)` /
  * `conv(substring(md5(s), 17, 15), 16, 10)` pair (hex chars 1-15 are
  * digest bytes 0..6 plus the high nibble of byte 7; chars 17-31 are
  * bytes 8..14 plus the high nibble of byte 15), so every DuckDB oracle
  * written against the md5-prefix idiom keeps matching.
  *
  * The declarative pair costs TWO full `md5()` evaluations (Spark's Md5
  * instantiates a MessageDigest per call), two 32-char hex-string
  * allocations, two substrings, and two base-16 string parses — measured
  * at sf1 this tripled the capped-posting build. This expression runs one
  * thread-local digest and extracts both words with shifts, inside
  * WholeStageCodegen. */
case class Md5Words(child: Expression)
    extends WalkExpression(StringType, ArrayType(LongType, containsNull = false)) {

  override protected def walk(in: Any): Any =
    Md5Digest.words(in.asInstanceOf[UTF8String])

  override protected def genWalk(c: String): String =
    s"graft.functions.Md5Digest.words($c)"

  override protected def withNewChildInternal(newChild: Expression): Md5Words =
    copy(child = newChild)

  override def prettyName: String = "md5_words"
}

/** The 32-bit md5 prefix of a string as an unsigned long — BIT-IDENTICAL
  * to the declarative `conv(substring(md5(s), 1, 8), 16, 10).cast("long")`
  * (hex chars 1-8 are digest bytes 0..3), so every DuckDB oracle written
  * against the 8-hex-char prefix idiom keeps matching. The declarative
  * form pays a full 32-char hex-string allocation, a substring, and a
  * base-16 string parse per evaluation — and it sits on the per-GRAM /
  * per-TOKEN hot paths (DSIR postings, winnowing shingles, the hashing
  * trick), where those allocations dominate the honest-sink timing. One
  * thread-local digest, four shifts, zero string churn. */
case class Md5Prefix32(child: Expression)
    extends WalkExpression(StringType, LongType) {

  override protected def walk(in: Any): Any =
    Md5Digest.prefix32(in.asInstanceOf[UTF8String])

  override protected def genWalk(c: String): String =
    s"graft.functions.Md5Digest.prefix32($c)"

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix32 =
    copy(child = newChild)

  override def prettyName: String = "md5_prefix32"
}

/** Executor-side digest helper (lone object ⇒ static forwarders, so
  * generated Java can call `graft.functions.Md5Digest.words(...)`). */
object Md5Digest {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def words(s: UTF8String): GenericArrayData = {
    val d = md.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    def word(off: Int): Long = {
      var v = 0L
      var i = off
      while (i < off + 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
      (v << 4) | ((dig(off + 7) & 0xf0L) >>> 4)
    }
    new GenericArrayData(Array(word(0), word(8)))
  }

  /** First 4 digest bytes as an unsigned 32-bit value in a long —
    * `conv(substring(md5(s), 1, 8), 16, 10)` exactly. */
  def prefix32(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
  }
}
