package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** Total syllable count of a token array under the standard vowel-group
  * heuristic: per word, the number of maximal `[aeiouy]+` runs, min 1;
  * summed as a long. The fused form of the declarative
  * `aggregate(transform(words, w -> greatest(size(regexp_extract_all(w,
  * '[aeiouy]+', 0)), 1)), 0L, _+_)` — which pays a regex engine invocation
  * AND a matched-substring array allocation PER WORD. This expression
  * computes the identical value in one byte-walk per row inside
  * WholeStageCodegen (round-12 verdict #6: text_readability was the
  * largest per-row constant on the linear surface). Byte-level is exact:
  * tokens are lowercased, and UTF-8 continuation/lead bytes of non-ASCII
  * characters are ≥ 0x80, so they can never equal an ASCII vowel and a
  * multi-byte character simply breaks a vowel run — exactly what the
  * regex on the decoded string does, since no non-ASCII char is in
  * `[aeiouy]`. Null elements are skipped; a null array yields null. */
case class SyllableSum(child: Expression)
    extends WalkExpression(ArrayType(StringType), LongType) {

  override protected def walk(in: Any): Any =
    SyllableWalk.sum(in.asInstanceOf[ArrayData])

  override protected def genWalk(c: String): String =
    s"graft.functions.SyllableWalk.sum($c)"

  override protected def withNewChildInternal(newChild: Expression): SyllableSum =
    copy(child = newChild)

  override def prettyName: String = "syllable_sum"
}

/** [[SyllableSum]]'s walker, called by eval and generated code. */
object SyllableWalk {
  def sum(arr: ArrayData): Long = {
    var total = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val b = arr.getUTF8String(i).getBytes
        var runs = 0
        var inRun = false
        var j = 0
        while (j < b.length) {
          val c = b(j)
          val v = c == 'a' || c == 'e' || c == 'i' || c == 'o' ||
            c == 'u' || c == 'y'
          if (v && !inRun) runs += 1
          inRun = v
          j += 1
        }
        total += (if (runs > 0) runs else 1)
      }
      i += 1
    }
    total
  }
}
