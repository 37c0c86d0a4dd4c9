package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row text counters for the quality/filter features — each is
  * ONE byte-walk replacing a `size(regexp_extract_all(...))` (a regex
  * engine invocation plus a matched-substring ARRAY allocation per row,
  * discarded immediately by `size`) or a `size(split(...))` (the token
  * array built just to be counted). The quality scorer and the token
  * counter are pure per-row passes — the cheapest possible 100 TB scans —
  * so their cost IS these constants (round-12 verdict #6: after
  * readability's fix, quality_classifier at 6.5 s/sf1 was the next
  * per-row-constant leader on the honest-sink ledger).
  *
  * Byte-level is exact for all three because every character class
  * involved is pure ASCII: UTF-8 continuation/lead bytes of non-ASCII
  * characters are ≥ 0x80, so they can never equal an ASCII class member —
  * a multi-byte character breaks a run / counts as one non-member code
  * point, exactly what the regex does on the decoded string (lead byte =
  * one code point; java.util.regex char classes match per code point).
  * The DuckDB oracles keep their regexp formulations and keep matching.
  *
  * NULL contract: as `UnaryExpression`s these return NULL for NULL input,
  * where the `size(split(...))` / `size(regexp_extract_all(...))` chains
  * they replaced return -1 under Spark's default legacy `sizeOfNull`
  * (round-13 advice). The divergence is unreachable on the engine's own
  * surface: `documents.text` is non-null in every fixture AND in the
  * generator contract (TESTDATA.md's deterministic synthesis never emits
  * null text), and every oracle twin runs the same non-null column — a
  * future nullable-text source must wrap these in
  * `coalesce(..., lit(-1))` if it wants the legacy size() convention.
  */
object TextByteWalk { // public: generated Java calls the static forwarders

  @inline private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '\''

  /** Count of maximal `[a-z0-9']+` runs — BIT-IDENTICAL to
    * `size(filter(split(lowered, "[^a-z0-9']+"), t => t != ""))`, i.e.
    * the size of the canonical [[graft.ops.Text.tokens]] array, without
    * building it. Input must already be lowercased (the caller keeps
    * Spark's `lower()`, so Unicode lowercasing semantics stay Spark's). */
  def tokenRuns(s: UTF8String): Long = {
    val b = s.getBytes
    var runs = 0L
    var inRun = false
    var i = 0
    while (i < b.length) {
      val t = isTokenByte(b(i))
      if (t && !inRun) runs += 1
      inRun = t
      i += 1
    }
    runs
  }

  /** The quality scorer's stopword list — keep in sync with the oracle
    * pattern `\b(the|a|and|of|to|in|is|for|on|it)\b` (every entry ≤ 3
    * bytes, pure ASCII lowercase). */
  private val Stop3 = Array("the", "and", "for").map(_.getBytes)
  private val Stop2 = Array("of", "to", "in", "is", "on", "it").map(_.getBytes)

  @inline private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  /** Decode the UTF-8 code point whose LEAD byte is at `i` (caller
    * guarantees `b(i)` ≥ 0x80); malformed sequences yield -1 (non-word). */
  private def codePointAt(b: Array[Byte], i: Int): Int = {
    val c = b(i) & 0xff
    def cont(j: Int): Int =
      if (j < b.length && (b(j) & 0xC0) == 0x80) b(j) & 0x3f else -1
    if (c < 0xC0) -1 // stray continuation / invalid lead
    else if (c < 0xE0) {
      val c1 = cont(i + 1)
      if (c1 < 0) -1 else ((c & 0x1f) << 6) | c1
    } else if (c < 0xF0) {
      val c1 = cont(i + 1); val c2 = cont(i + 2)
      if (c1 < 0 || c2 < 0) -1 else ((c & 0x0f) << 12) | (c1 << 6) | c2
    } else if (c < 0xF8) {
      val c1 = cont(i + 1); val c2 = cont(i + 2); val c3 = cont(i + 3)
      if (c1 < 0 || c2 < 0 || c3 < 0) -1
      else ((c & 0x07) << 18) | (c1 << 12) | (c2 << 6) | c3
    } else -1
  }

  /** java.util.regex `Bound.hasBaseCharacter`: scan BACKWARD from the
    * char before `pos` — a letter/digit is a base (true), a non-spacing
    * mark is transparent (keep scanning), anything else stops (false). */
  private def nsmHasBase(b: Array[Byte], pos: Int): Boolean = {
    var i = pos
    while (i > 0) {
      i -= 1
      if ((b(i) & 0x80) == 0) { // ASCII
        val c = b(i)
        return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9')
      }
      if ((b(i) & 0xC0) != 0x80) { // a lead byte: decode this code point
        val cp = codePointAt(b, i)
        if (cp >= 0 && Character.isLetterOrDigit(cp)) return true
        if (cp < 0 || Character.getType(cp) != Character.NON_SPACING_MARK)
          return false
        // non-spacing mark: transparent, keep walking back
      }
    }
    false
  }

  /** Is the code point ADJACENT to an ASCII word-run a `\b` word char?
    * java.util.regex's `\b` (without UNICODE_CHARACTER_CLASS) tests
    * `ch == '_' || Character.isLetterOrDigit(ch)` — UNICODE-aware even
    * though `\w` stays ASCII, so `the蟹and` has NO boundary at the CJK
    * letter and `\bthe\b` does not match there. A non-spacing combining
    * mark counts as word iff a letter/digit base precedes it (the JDK
    * `Bound` rule, so `thé` keeps matching the regex byte-for-byte).
    * An ASCII neighbour is never a word char here: the run is maximal
    * over [[isWordByte]], which equals `\b`'s ASCII word set exactly. */
  private def isWordNeighbour(b: Array[Byte], lead: Int): Boolean = {
    val cp = codePointAt(b, lead)
    if (cp < 0) false
    else if (Character.isLetterOrDigit(cp)) true
    else Character.getType(cp) == Character.NON_SPACING_MARK &&
      nsmHasBase(b, lead)
  }

  /** Count of regex matches of `\b(the|a|and|of|to|in|is|for|on|it)\b`
    * over a lowercased string. Since every alternative is made of word
    * characters only, a match must cover a maximal ASCII-`\w` run whose
    * non-ASCII neighbours (if any) are not `\b`-word code points, so the
    * count equals the number of such runs equal to a stopword — one
    * byte-walk, no regex, no match array. Runs containing `A-Z`/`0-9`/`_`
    * simply never compare equal, matching the regex on the same string. */
  def stopRuns(s: UTF8String): Long = {
    val b = s.getBytes
    var count = 0L
    var i = 0
    while (i < b.length) {
      if (isWordByte(b(i))) {
        val start = i
        while (i < b.length && isWordByte(b(i))) i += 1
        val len = i - start
        var hit = false
        if (len == 1) {
          hit = b(start) == 'a'
        } else if (len == 2) {
          var k = 0
          while (!hit && k < Stop2.length) {
            val w = Stop2(k)
            hit = b(start) == w(0) && b(start + 1) == w(1)
            k += 1
          }
        } else if (len == 3) {
          var k = 0
          while (!hit && k < Stop3.length) {
            val w = Stop3(k)
            hit = b(start) == w(0) && b(start + 1) == w(1) && b(start + 2) == w(2)
            k += 1
          }
        }
        if (hit) {
          // \b on each side: an ASCII neighbour is non-word by run
          // maximality; a non-ASCII neighbour must not be a Unicode
          // letter/digit (walk back over continuation bytes to its lead)
          if (start > 0 && (b(start - 1) & 0x80) != 0) {
            var j = start - 1
            while (j > 0 && (b(j) & 0xC0) == 0x80) j -= 1
            if (isWordNeighbour(b, j)) hit = false
          }
          if (hit && i < b.length && (b(i) & 0x80) != 0 &&
            isWordNeighbour(b, i)) hit = false
        }
        if (hit) count += 1
      } else i += 1
    }
    count
  }

  /** Count of code points matching `[^a-z0-9\s']` (java.util.regex `\s`
    * is ASCII: space \t \n \x0B \f \r) over the RAW text — uppercase
    * letters count, every non-ASCII code point counts (lead byte = one
    * code point; continuation bytes are skipped). */
  def punctChars(s: UTF8String): Long = {
    val b = s.getBytes
    var count = 0L
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c & 0xC0) != 0x80) { // ASCII or a UTF-8 lead byte = one code point
        val allowed = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
          c == '\'' || c == ' ' || c == '\t' || c == '\n' ||
          c == 0x0B || c == '\f' || c == '\r'
        if (!allowed) count += 1
      }
      i += 1
    }
    count
  }
}

/** `token_count(lowered)` — size of the canonical token split, fused. */
case class TokenCount(child: Expression)
    extends WalkExpression(StringType, LongType) {
  override protected def walk(in: Any): Any =
    TextByteWalk.tokenRuns(in.asInstanceOf[UTF8String])
  override protected def genWalk(c: String): String =
    s"graft.functions.TextByteWalk.tokenRuns($c)"
  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
  override def prettyName: String = "token_count"
}

/** `stop_count(lowered)` — quality-scorer stopword matches, fused. */
case class StopCount(child: Expression)
    extends WalkExpression(StringType, LongType) {
  override protected def walk(in: Any): Any =
    TextByteWalk.stopRuns(in.asInstanceOf[UTF8String])
  override protected def genWalk(c: String): String =
    s"graft.functions.TextByteWalk.stopRuns($c)"
  override protected def withNewChildInternal(newChild: Expression): StopCount =
    copy(child = newChild)
  override def prettyName: String = "stop_count"
}

/** `punct_count(raw)` — `[^a-z0-9\s']` code points, fused. */
case class PunctCount(child: Expression)
    extends WalkExpression(StringType, LongType) {
  override protected def walk(in: Any): Any =
    TextByteWalk.punctChars(in.asInstanceOf[UTF8String])
  override protected def genWalk(c: String): String =
    s"graft.functions.TextByteWalk.punctChars($c)"
  override protected def withNewChildInternal(newChild: Expression): PunctCount =
    copy(child = newChild)
  override def prettyName: String = "punct_count"
}
