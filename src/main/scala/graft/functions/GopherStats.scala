package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row counters for the Gopher rule funnel
  * ([[graft.ops.Pipeline]] gopherFrame) — the whole operator is a pure
  * per-row scan (the cheapest possible 100 TB pass), so its cost IS the
  * per-row expression work. The declarative formulation paid, per row:
  * one regex `split` materializing the token array, an interpreted
  * `aggregate` lambda over it (length sum), an interpreted `filter` with
  * a per-TOKEN `rlike` regex (alpha check), eight `array_contains`
  * traversals (stopwords), a second `split` materializing the line array,
  * two interpreted `filter`s over it (one with a per-LINE regex), and two
  * full-text `regexp_replace` passes — higher-order functions and regex
  * nodes that all evaluate interpreted inside the codegen stage. These
  * two expressions replace ALL of it with two byte-walks that build no
  * arrays and run no regex engine.
  *
  * Byte-level is exact (the [[TextByteWalk]] argument): every character
  * class involved is pure ASCII, and UTF-8 continuation/lead bytes are
  * ≥ 0x80, so a non-ASCII code point can never equal a class member —
  * it breaks a token run / counts as a non-match exactly as the regex
  * does on the decoded string. Tokens are maximal `[a-z0-9']+` runs of
  * the ALREADY-LOWERCASED text (the caller keeps Spark's `lower()`, so
  * Unicode lowercasing semantics stay Spark's), hence pure ASCII, hence
  * `length(tok)` (code points) equals the byte run length.
  *
  * NULL contract: `UnaryExpression` null-safe — NULL text yields NULL
  * stats, unreachable on the engine's surface (fixture text is non-null
  * by the generator contract; see [[TextByteWalk]]).
  */
object GopherWalk { // public: generated Java calls the static forwarders

  @inline private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '\''

  /** The Gopher stopword gate list — keep in sync with
    * [[graft.ops.Pipeline]].GopherStops (Rae et al. 2021 §A1.1) and the
    * oracle SQL's `list_contains` cascade. Grouped by byte length for the
    * run-equality test. */
  private val Stop2 = Array("be", "to", "of").map(_.getBytes)
  private val Stop3 = Array("the", "and").map(_.getBytes)
  private val Stop4 = Array("that", "have", "with").map(_.getBytes)
  // bit positions for the presence mask: one bit per distinct stopword
  private val Stop2Bit = Array(0, 1, 2)
  private val Stop3Bit = Array(3, 4)
  private val Stop4Bit = Array(5, 6, 7)

  /** `[n_words, word_chars, n_alpha, n_stop]` over LOWERCASED text in one
    * byte-walk. Definitions (bit-identical to the declarative chain):
    *   - n_words:    count of maximal `[a-z0-9']+` runs — the size of the
    *                 canonical token split ([[TextByteWalk.tokenRuns]]).
    *   - word_chars: Σ length(token) — tokens are ASCII-only, so the sum
    *                 of run byte-lengths.
    *   - n_alpha:    count of tokens containing ≥ 1 `[a-z]` byte (the
    *                 `rlike("[a-z]")` per-token filter).
    *   - n_stop:     count of DISTINCT Gopher stopwords present as a
    *                 whole token (`array_contains` per word — presence,
    *                 not occurrences), via an 8-bit mask + popcount. */
  def wordStats(s: UTF8String): GenericArrayData = {
    val b = s.getBytes
    var nWords = 0L
    var wordChars = 0L
    var nAlpha = 0L
    var stopMask = 0
    var i = 0
    while (i < b.length) {
      if (isTokenByte(b(i))) {
        val start = i
        var hasAlpha = false
        while (i < b.length && isTokenByte(b(i))) {
          if (b(i) >= 'a' && b(i) <= 'z') hasAlpha = true
          i += 1
        }
        val len = i - start
        nWords += 1
        wordChars += len
        if (hasAlpha) nAlpha += 1
        if (len >= 2 && len <= 4) {
          val ws = if (len == 2) Stop2 else if (len == 3) Stop3 else Stop4
          val bits = if (len == 2) Stop2Bit else if (len == 3) Stop3Bit
            else Stop4Bit
          var k = 0
          while (k < ws.length) {
            val w = ws(k)
            var j = 0
            while (j < len && b(start + j) == w(j)) j += 1
            if (j == len) { stopMask |= 1 << bits(k); k = ws.length }
            else k += 1
          }
        }
      } else i += 1
    }
    new GenericArrayData(Array(nWords, wordChars, nAlpha,
      Integer.bitCount(stopMask).toLong))
  }

  /** `[n_lines, n_bullet, n_ell_line, n_hash, n_ell]` over RAW text in one
    * byte-walk. Definitions (bit-identical to the declarative chain):
    *   - n_lines:    size of `split(text, "\n", -1)` = '\n' count + 1
    *                 (limit -1 keeps trailing empties; "" splits to [""]).
    *   - n_bullet:   lines matching `^\s*[-*•]`. Java `\s` is ASCII
    *                 [ \t\n\x0B\f\r]; '\n' cannot occur inside a line, and
    *                 no `\s` member is in the bullet class, so greedy
    *                 skip-all-whitespace-then-test equals the regex (any
    *                 backtrack would place a whitespace byte at the class
    *                 position and fail). '•' is U+2022 = E2 80 A2.
    *                 DuckDB's RE2 `\s` excludes \x0B, so on a line
    *                 opening with a vertical tab this walker (Java
    *                 semantics) and the DuckDB oracle diverge.
    *   - n_ell_line: lines with `endsWith("...")`.
    *   - n_hash:     '#' occurrences (the length-minus-replace idiom; '#'
    *                 is ASCII so char count = byte count).
    *   - n_ell:      non-overlapping "..." matches, left to right (the
    *                 `regexp_replace(text, "\.\.\.", "")` length delta
    *                 DIV 3). A match can't span a non-dot byte, so this is
    *                 Σ floor(run/3) over maximal '.' runs. */
  def lineStats(s: UTF8String): GenericArrayData = {
    val b = s.getBytes
    var nLines = 1L
    var nBullet = 0L
    var nEllLine = 0L
    var nHash = 0L
    var nEll = 0L
    var lineStart = 0
    var dotRun = 0L
    var i = 0
    while (i <= b.length) {
      val atEnd = i == b.length
      val c: Byte = if (atEnd) '\n' else b(i) // sentinel closes the last line
      if (c == '\n') {
        // finalize line [lineStart, i)
        var j = lineStart
        while (j < i && (b(j) == ' ' || b(j) == '\t' || b(j) == 0x0B ||
          b(j) == '\f' || b(j) == '\r')) j += 1
        if (j < i && (b(j) == '-' || b(j) == '*' ||
          (j + 2 < i && (b(j) & 0xff) == 0xE2 && (b(j + 1) & 0xff) == 0x80 &&
            (b(j + 2) & 0xff) == 0xA2))) nBullet += 1
        if (i - lineStart >= 3 && b(i - 1) == '.' && b(i - 2) == '.' &&
          b(i - 3) == '.') nEllLine += 1
        if (!atEnd) nLines += 1
        lineStart = i + 1
      }
      if (c == '#') nHash += 1
      if (c == '.') dotRun += 1
      else { nEll += dotRun / 3; dotRun = 0 }
      i += 1
    }
    nEll += dotRun / 3 // unreachable (sentinel is '\n') but keeps the law local
    new GenericArrayData(Array(nLines, nBullet, nEllLine, nHash, nEll))
  }
}

/** `gopher_word_stats(lowered)` — [n_words, word_chars, n_alpha, n_stop]. */
case class GopherWordStats(child: Expression)
    extends WalkExpression(StringType, ArrayType(LongType, containsNull = false)) {
  override protected def walk(in: Any): Any =
    GopherWalk.wordStats(in.asInstanceOf[UTF8String])
  override protected def genWalk(c: String): String =
    s"graft.functions.GopherWalk.wordStats($c)"
  override protected def withNewChildInternal(newChild: Expression): GopherWordStats =
    copy(child = newChild)
  override def prettyName: String = "gopher_word_stats"
}

/** `gopher_line_stats(raw)` — [n_lines, n_bullet, n_ell_line, n_hash, n_ell]. */
case class GopherLineStats(child: Expression)
    extends WalkExpression(StringType, ArrayType(LongType, containsNull = false)) {
  override protected def walk(in: Any): Any =
    GopherWalk.lineStats(in.asInstanceOf[UTF8String])
  override protected def genWalk(c: String): String =
    s"graft.functions.GopherWalk.lineStats($c)"
  override protected def withNewChildInternal(newChild: Expression): GopherLineStats =
    copy(child = newChild)
  override def prettyName: String = "gopher_line_stats"
}
