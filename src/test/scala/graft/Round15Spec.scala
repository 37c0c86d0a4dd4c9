package graft

import org.apache.spark.sql.functions._

/** Round-15 additions: the fused Gopher byte-walk counters
  * ([[graft.functions.GopherWalk]]) proven against the round-14
  * declarative formulation they replaced, on adversarial strings AND on
  * the fixture corpus. */
class Round15Spec extends SparkTestBase {
  import spark.implicits._

  /** The ROUND-14 declarative gopher counter chain, verbatim (regex
    * splits + interpreted higher-order lambdas + regexp_replace) — kept
    * here as the differential truth for the fused byte-walks. */
  private def declarativeCounts(src: org.apache.spark.sql.DataFrame) = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val toks = filter(split(lower(col("text")), "[^a-z0-9']+"), t => t =!= "")
    src
      .withColumn("w", toks)
      .withColumn("ln", split(col("text"), "\n", -1))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        aggregate(col("w"), lit(0L),
          (a, x) => a + length(x).cast("long")).as("word_chars"),
        size(filter(col("w"), x => x.rlike("[a-z]"))).cast("long")
          .as("n_alpha"),
        stops.map(s => when(array_contains(col("w"), s), 1L).otherwise(0L))
          .reduce(_ + _).as("n_stop"),
        size(col("ln")).cast("long").as("n_lines"),
        size(filter(col("ln"), x => x.rlike("^\\s*[-*•]"))).cast("long")
          .as("n_bullet"),
        size(filter(col("ln"), x => x.endsWith("..."))).cast("long")
          .as("n_ell_line"),
        (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
          .cast("long").as("n_hash"),
        ((length(col("text"))
          - length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3)
          .cast("long").as("n_ell"))
  }

  private def fusedCounts(src: org.apache.spark.sql.DataFrame) = src
    .withColumn("wstats",
      graft.functions.GraftFunctions.gopherWordStats(spark,
        lower(col("text"))))
    .withColumn("lstats",
      graft.functions.GraftFunctions.gopherLineStats(spark, col("text")))
    .select(col("doc_id"),
      col("wstats").getItem(0).as("n_words"),
      col("wstats").getItem(1).as("word_chars"),
      col("wstats").getItem(2).as("n_alpha"),
      col("wstats").getItem(3).as("n_stop"),
      col("lstats").getItem(0).as("n_lines"),
      col("lstats").getItem(1).as("n_bullet"),
      col("lstats").getItem(2).as("n_ell_line"),
      col("lstats").getItem(3).as("n_hash"),
      col("lstats").getItem(4).as("n_ell"))

  test("gopher byte-walk counters ≡ the declarative chain, adversarial " +
    "strings and fixture corpus") {
    val adversarial = Seq(
      "",                                  // one empty line, zero tokens
      "\n", "\n\n",                        // trailing empties kept (limit -1)
      "the the the and that",              // repeated stops: presence, not count
      "theory band toss offs",             // stopword substrings must NOT count
      "THE And ThAt",                      // caller lowercases before wordStats
      "don't 'tis '' '",                   // apostrophe-only tokens: no alpha
      "1234 5'6 a1 ''",                    // digit tokens, mixed
      "  - bullet\n\t* star\n• dot\nx- no",  // ^\s*[-*•] incl. U+2022
      "•no-space bullet",             // bullet with no leading ws
      " \t\u000B\f\r- all five ws kinds",  // Java \s class members
      "\u000B- vt bullet",                 // \x0B alone: Java \s, not RE2's
      "ends...\nnot..\n....\n.....\n......",  // ell lines + dot runs 4,5,6
      "...",                               // whole text one ellipsis line
      "a#b##c### #",                       // hash runs
      "dots....mid...text.",               // non-overlap ... count = floor runs
      "héllo wörld çafé",                  // non-ASCII breaks token runs
      "日本語テキスト and some ascii",      // CJK: zero-alpha byte runs
      "mixed•middle • line\n•",       // U+2022 mid-line (not a bullet)
      "...…...",                      // U+2026 is NOT ascii "..."
      "tab\tsep\nspace sep\r\nCRLF line",  // \r ends up inside the line
      "x" * 5000 + " the be to of and that have with", // all 8 stops
      ((0 until 200).map(i => s"w$i") :+ "...").mkString(" ")
    )
    val advDf = adversarial.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val fixture = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    for (src <- Seq(advDf, fixture)) {
      val got = fusedCounts(src).orderBy("doc_id").collect()
      val want = declarativeCounts(src).orderBy("doc_id").collect()
      assert(got.length == want.length)
      got.zip(want).foreach { case (g, w) =>
        assert(g == w, s"fused $g != declarative $w")
      }
    }
  }

  test("gopher word/line stats run inside whole-stage codegen") {
    // a parquet-backed source: a literal frame constant-folds to a
    // LocalTableScan and never enters codegen at all
    val df = fusedCounts(Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("[codegen id :"), formatted)
    assert(formatted.contains("gopher_word_stats"), formatted)
    // no interpreted higher-order nodes survive in the fused frame
    assert(!formatted.contains("aggregate("), formatted)
    assert(!formatted.contains("regexp_replace"), formatted)
  }
}
