package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Custom Catalyst expression semantics: vec_dot and simhash64 must agree
  * with their declarative (built-in lambda / explode-agg) formulations in
  * both the codegen and interpreted paths, and honor null contracts.
  */
class FunctionsSpec extends SparkTestBase {
  import org.apache.spark.sql.Row

  private def vecDf = {
    import spark.implicits._
    Seq(
      (1L, Some(Array(1.0f, 2.0f, 3.0f)), Some(Array(4.0f, 5.0f, 6.0f))),
      (2L, Some(Array(0.5f, -0.5f)), Some(Array(2.0f, 2.0f))),
      (3L, None: Option[Array[Float]], Some(Array(1.0f))),
      (4L, Some(Array(1.0f, 2.0f)), Some(Array(1.0f))) // length mismatch
    ).toDF("id", "a", "b")
  }

  test("vec_dot matches the zip_with+aggregate fold and handles nulls") {
    val df = vecDf
    val fused = df.select(col("id"),
      GraftFunctions.vecDot(spark, col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(fused(1L) == 4.0 + 10.0 + 18.0)
    assert(fused(2L) == 0.0)
    assert(fused(3L) == null, "null array -> null")
    assert(fused(4L) == null, "length mismatch -> null")

    val declarative = df.filter(col("a").isNotNull && col("b").isNotNull
        && size(col("a")) === size(col("b")))
      .select(col("id"), aggregate(
        zip_with(col("a"), col("b"), (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
        lit(0.0), (acc, x) => acc + x).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    declarative.foreach { case (k, v) => assert(fused(k) == v) }
  }

  test("vec_dot survives the interpreted (non-codegen) path") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val r = vecDf.filter(col("id") === 1)
        .select(GraftFunctions.vecDot(spark, col("a"), col("b")))
        .collect().head.getDouble(0)
      assert(r == 32.0)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("vec_dot is registered as a SQL function") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").collect().head.getDouble(0)
    assert(r == 11.0)
  }

  test("simhash64 equals the explode-and-vote formulation") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("the", "quick", "brown", "fox")),
      (2L, Seq("the", "quick", "brown", "fox")), // identical -> same hash
      (3L, Seq("lorem", "ipsum", "dolor")),
      (4L, Seq.empty[String])
    ).toDF("doc_id", "toks")
      .withColumn("hs", transform(col("toks"), t => xxhash64(t)))

    val fused = docs.select(col("doc_id"),
      GraftFunctions.simHash64(spark, col("hs")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // declarative: per-bit majority vote via explode + two-level agg
    val declarative = docs
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(62))).as("bit"))
      .withColumn("vote",
        when(call_function("shiftright", col("h"), col("bit"))
          .bitwiseAND(1) === 1, 1).otherwise(-1))
      .groupBy(col("doc_id"), col("bit")).agg(sum(col("vote")).as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("v") > 0, call_function("shiftleft", lit(1L), col("bit")))
        .otherwise(0L)).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    declarative.foreach { case (k, v) => assert(fused(k) == v, s"doc $k") }
    assert(fused(1L) == fused(2L), "identical docs share a signature")
    assert(fused(1L) != fused(3L), "different docs differ")
    assert(fused(4L) == 0L, "empty token set -> all-zero signature")
    assert(fused.values.forall(_ >= 0L), "bit 63 clear")
  }

  test("minhash_sig is bit-compatible with the declarative transform") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(12L, -99L, 42L, 7L)),
      (2L, Seq(0L, Long.MaxValue, Long.MinValue)),
      (3L, Seq(5L))
    ).toDF("id", "hs")
    val fused = df.select(col("id"),
      GraftFunctions.minHashSig(spark, col("hs"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val declarative = df.select(col("id"),
      transform(sequence(lit(0), lit(15)),
        seed => array_min(transform(col("hs"), h => xxhash64(seed, h)))).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    declarative.foreach { case (k, v) => assert(fused(k) == v, s"id $k") }
  }

  test("md5_words is bit-compatible with the conv(substring(md5)) pair, " +
    "codegen and interpreted") {
    import spark.implicits._
    val df = Seq("", "a", "hello", "the quick brown fox", "naïve ünïcode 字",
      (1 to 200).map(i => s"tok$i").mkString(" ")).toDF("s")
    def declarative(off: Int) =
      conv(substring(md5(col("s")), off, 15), 16, 10).cast("long")
    val got = df.select(
        GraftFunctions.md5Words(spark, col("s")).as("w"),
        declarative(1).as("d1"), declarative(17).as("d2"))
      .select(element_at(col("w"), 1), element_at(col("w"), 2),
        col("d1"), col("d2"))
      .as[(Long, Long, Long, Long)].collect()
    for ((w1, w2, d1, d2) <- got) { assert(w1 == d1); assert(w2 == d2) }
    // interpreted path: disabling wholeStage alone leaves expression
    // codegen in FALLBACK (nullSafeEval never runs) — NO_CODEGEN forces
    // the interpreted eval path for real (round-13 advice)
    interpreted {
      val g2 = df.select(GraftFunctions.md5Words(spark, col("s")).as("w"),
          declarative(1).as("d1"))
        .select(element_at(col("w"), 1), col("d1"))
        .as[(Long, Long)].collect()
      for ((w1, d1) <- g2) assert(w1 == d1)
    }
  }

  test("BitmapDistinct skips NULL ids — COUNT(DISTINCT) semantics") {
    import spark.implicits._
    val bitmap = org.apache.spark.sql.functions.udaf(
      new GraftFunctions.BitmapDistinct,
      org.apache.spark.sql.Encoders.LONG)
    val df = Seq[(String, Option[Long])](
      ("a", Some(1L)), ("a", Some(1L)), ("a", Some(-7L)), ("a", None),
      ("b", None), ("b", None))
      .toDF("g", "id")
    val got = df.groupBy("g").agg(bitmap(col("id")).as("n"))
      .as[(String, Long)].collect().toMap
    // nulls are ignored, not counted and not a crash; negative ids valid
    assert(got == Map("a" -> 2L, "b" -> 0L))
  }

  test("VecCentroid merge law: split accumulation equals single-pass") {
    val agg = new GraftFunctions.VecCentroid(3)
    val vs = Seq(Array(1.0f, 2.0f, 3.0f), Array(2.0f, 3.0f, 4.0f),
      Array(-1.0f, 0.0f, 1.0f), Array(0.25f, 0.5f, 0.75f))
    val single = vs.foldLeft(agg.zero)(agg.reduce)
    val left = vs.take(2).foldLeft(agg.zero)(agg.reduce)
    val right = vs.drop(2).foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(left, right)
    assert(agg.finish(single).toSeq == agg.finish(merged).toSeq)
    assert(single._2 == 4L)
  }

  test("reliable checkpoints: CC dedup identical with a checkpoint dir set") {
    // cluster mode: with spark.sparkContext.setCheckpointDir the iterative
    // lineage cuts (Tables.lineageCut) write reliable checkpoints that
    // survive executor loss; output must be byte-identical to the
    // localCheckpoint (single-node) mode
    val without = ops.Dedup.dedupClusters(spark, sf).collect().toSeq
    OpCaches.releaseAll()
    val ckpt = java.nio.file.Files.createTempDirectory("cc_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try {
      val withDir = ops.Dedup.dedupClusters(spark, sf).collect().toSeq
      assert(withDir == without)
      // the reliable path actually wrote checkpoint data
      val wrote = java.nio.file.Files.walk(ckpt).count()
      assert(wrote > 1, "no reliable checkpoint files written")
    } finally OpCaches.releaseAll()
  }

  test("op-internal caches release: cache manager empty after each family") {
    // every op family that caches an intermediate (dedup, text, vectors,
    // decontaminate) must leave NOTHING cached once the caller releases —
    // a long-lived library session must not accumulate executor memory
    spark.catalog.clearCache()
    OpCaches.releaseAll()
    val caching = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "dedup_ngram_jaccard" -> ops.Dedup.dedupNgramJaccard _,
      "text_tokenize_tf" -> ops.Text.textTokenizeTf _,
      "sim_cosine_lsh" -> ops.Vectors.simCosineLsh _,
      "pipeline_decontaminate" -> ops.Pipeline.pipelineDecontaminate _)
    caching.foreach { case (name, fn) =>
      fn(spark, sf).count()
      assert(!spark.sharedState.cacheManager.isEmpty,
        s"$name no longer caches — drop it from this spec")
      OpCaches.releaseAll()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left cached frames behind after releaseAll")
    }
  }

  /** Adversarial strings for the fused byte-walk counters: ASCII classes
    * next to multi-byte UTF-8 (two- and three-byte chars, an astral
    * 4-byte emoji), uppercase (counts as punct, breaks no \w run),
    * apostrophes (token char, regex non-word), underscores (\w but not a
    * token char), every java-\s member, and stopwords at string edges /
    * inside runs / flanked by unicode. */
  private val countFixtures = Seq(
    "",
    "a",
    "the cat sat on the mat, it is a test!",
    "it's and of to in is for on it A AND The",
    "the_cat and_ _of to9 in' 'is for'on it",
    "naïve ünïcode 字 the蟹and 🦀a🦀 ô'the'ô",
    "  \t\n\f\r  theand\fof ",
    "aand anda theand a'a 'a' a",
    // combining marks: \b treats a non-spacing mark as word iff a
    // letter/digit base precedes it (JDK Bound.hasBaseCharacter)
    "the\u0301 x\u0301the \u0301a .\u0301the a\u0301nd \u0301\u0301the",
    "x" * 500 + " the " + "y" * 500,
    (1 to 100).map(i => s"w$i it").mkString(" "))

  test("token_count / stop_count / punct_count are bit-compatible with " +
    "the regexp formulations, codegen and interpreted") {
    import spark.implicits._
    val stopPat = "\\b(the|a|and|of|to|in|is|for|on|it)\\b"
    val df = countFixtures.toDF("s")
    def check(): Unit = {
      val got = df.select(
        GraftFunctions.tokenCount(spark, lower(col("s"))).as("tc"),
        size(filter(split(lower(col("s")), "[^a-z0-9']+"), t => t =!= ""))
          .cast("long").as("td"),
        GraftFunctions.stopCount(spark, lower(col("s"))).as("sc"),
        size(regexp_extract_all(lower(col("s")), lit(stopPat), lit(0)))
          .cast("long").as("sd"),
        GraftFunctions.punctCount(spark, col("s")).as("pc"),
        size(regexp_extract_all(col("s"), lit("[^a-z0-9\\s']"), lit(0)))
          .cast("long").as("pd"),
        col("s"))
        .as[(Long, Long, Long, Long, Long, Long, String)].collect()
      for ((tc, td, sc, sd, pc, pd, s) <- got) {
        assert(tc == td, s"token_count on '$s'")
        assert(sc == sd, s"stop_count on '$s'")
        assert(pc == pd, s"punct_count on '$s'")
      }
    }
    check()
    interpreted { check() }
    // and over the real corpus: every document, all three counters
    val corpus = Tables.load(spark, sf, "documents").select(
      GraftFunctions.tokenCount(spark, lower(col("text"))).as("tc"),
      size(filter(split(lower(col("text")), "[^a-z0-9']+"), t => t =!= ""))
        .cast("long").as("td"),
      GraftFunctions.stopCount(spark, lower(col("text"))).as("sc"),
      size(regexp_extract_all(lower(col("text")), lit(stopPat), lit(0)))
        .cast("long").as("sd"),
      GraftFunctions.punctCount(spark, col("text")).as("pc"),
      size(regexp_extract_all(col("text"), lit("[^a-z0-9\\s']"), lit(0)))
        .cast("long").as("pd"))
    assert(corpus.filter(col("tc") =!= col("td") || col("sc") =!= col("sd")
      || col("pc") =!= col("pd")).count() == 0)
  }

  test("md5_prefix32 is bit-compatible with conv(substring(md5, 1, 8)), " +
    "codegen and interpreted") {
    import spark.implicits._
    val df = (countFixtures :+ " binary ish").toDF("s")
    def check(): Unit = {
      val got = df.select(
        GraftFunctions.md5Prefix32(spark, col("s")).as("f"),
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("d"))
        .as[(Long, Long)].collect()
      for ((f, d) <- got) assert(f == d)
    }
    check()
    interpreted { check() }
  }

  test("gram_buckets is bit-compatible with the tokenize + bigram " +
    "concat_ws + md5_prefix32 chain, codegen and interpreted") {
    import spark.implicits._
    val m = 8192L
    val df = (countFixtures ++ Seq("one", "", "   ", "a b", "don't stop",
      "naïve mix 字 of scripts")).toDF("s")
    def declarative = {
      val t = filter(split(lower(col("s")), "[^a-z0-9']+"), x => x =!= "")
      val g = concat(t, when(size(t) >= 2, transform(
        sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
        .otherwise(array().cast("array<string>")))
      transform(g, x =>
        conv(substring(md5(x), 1, 8), 16, 10).cast("long") % m)
    }
    def check(): Unit = {
      val got = df.select(
        GraftFunctions.gramBuckets(spark, lower(col("s")), m).as("f"),
        declarative.as("d"), col("s"))
        .as[(Seq[Long], Seq[Long], String)].collect()
      for ((f, d, s0) <- got) assert(f == d, s"gram_buckets on '$s0'")
    }
    check()
    interpreted { check() }
    // and the full corpus
    val corpus = Tables.load(spark, sf, "documents")
    val fused = corpus.select(col("doc_id"),
      GraftFunctions.gramBuckets(spark, lower(col("text")), m).as("f"))
    val decl = corpus.select(col("doc_id"),
      declarative_text(m).as("d"))
    val joined = fused.join(decl, "doc_id")
      .filter(col("f") =!= col("d")).count()
    assert(joined == 0L)
  }

  private def declarative_text(m: Long) = {
    val t = filter(split(lower(col("text")), "[^a-z0-9']+"), x => x =!= "")
    val g = concat(t, when(size(t) >= 2, transform(
      sequence(lit(1), size(t) - 1),
      i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
      .otherwise(array().cast("array<string>")))
    transform(g, x =>
      conv(substring(md5(x), 1, 8), 16, 10).cast("long") % m)
  }

  test("pq_assign ≡ max_by(cid, struct(-d2, -cid)) over the zip_with fold " +
    "on hostile input, codegen and interpreted") {
    import org.apache.spark.sql.types._
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    // (sub, books, the cid Spark's declarative form picks)
    val cases = Seq[(Seq[Any], Seq[Any], Any)](
      (Seq(1.0, 2.0), Seq(Row(5L, Seq(1.0, 2.0)), Row(3L, Seq(0.0, 0.0)),
        Row(7L, Seq(1.0, 2.0))), 5L), // d² tie → lowest cid
      (Seq(nan, 1.0), Seq(Row(4L, Seq(0.0, 0.0)), Row(2L, Seq(9.0, 9.0))), 2L),
      (Seq(0.0, 0.0), Seq(Row(1L, Seq(0.0, 0.0)), Row(2L, Seq(nan, 0.0))), 2L),
      (Seq(inf, 0.0), Seq(Row(1L, Seq(0.0, 0.0)), Row(2L, Seq(inf, 0.0))), 2L),
      (Seq(-inf, 1.0), Seq(Row(2L, Seq(1.0, 1.0)), Row(1L, Seq(2.0, 2.0))), 1L),
      (Seq(null, 1.0), Seq(Row(3L, Seq(0.0, 0.0)), Row(1L, Seq(5.0, 5.0))), 1L),
      (Seq(0.0, 0.0), Seq(Row(1L, Seq(null, 0.0)), Row(2L, Seq(5.0, 5.0))), 2L),
      (Seq(0.0, 0.0), Seq.empty, null),
      (Seq(0.0, 0.0), Seq(Row(1L, Seq(0.0)), Row(2L, Seq(9.0, 9.0)),
        Row(3L, Seq(0.0, 0.0, 0.0))), 2L),
      (Seq(0.0, 0.0), Seq(Row(4L, Seq(0.0)), Row(2L, Seq(0.0, 0.0, 0.0))), 2L),
      (Seq(1.0, 1.0), Seq(null, Row(3L, null), Row(6L, Seq(1.0, 1.0))), 6L),
      (Seq(0.0, 0.0), Seq(Row(null, Seq(0.0, 0.0)), Row(1L, Seq(5.0, 5.0))), null),
      (Seq(0.0, 0.0), Seq(Row(null, Seq(0.0, 0.0)), Row(4L, Seq(0.0, 0.0))), 4L),
      (Seq.empty, Seq(Row(3L, Seq.empty), Row(1L, Seq(0.0))), 3L))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("sub", ArrayType(DoubleType)),
      StructField("books", ArrayType(StructType(Seq(
        StructField("cid", LongType),
        StructField("cvec", ArrayType(DoubleType))))))))
    val df = scanned(spark.createDataFrame(spark.sparkContext.parallelize(
        cases.zipWithIndex.map { case ((s, b, _), i) => Row(i.toLong, s, b) }, 1),
      schema)).withColumn("fsub", col("sub").cast("array<float>"))
    def declarative(sub: String) = df
      .select(col("id"), col(sub).as("sub"), explode_outer(col("books")).as("b"))
      .withColumn("d2", aggregate(zip_with(col("sub"), col("b.cvec"),
        (x, y) => (x.cast(DoubleType) - y) * (x.cast(DoubleType) - y)),
        lit(0.0), (acc, x) => acc + x))
      .groupBy(col("id"))
      .agg(max_by(col("b.cid"), struct(-col("d2"), -col("b.cid"))).as("cid"))
    def byId(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val want = cases.zipWithIndex.map { case ((_, _, c), i) => i.toLong -> c }.toMap
    def check(): Unit = for (sub <- Seq("sub", "fsub")) {
      assert(byId(declarative(sub)) == want, s"declarative twin on $sub")
      assert(byId(df.select(col("id"),
        GraftFunctions.pqAssign(spark, col(sub), col("books")))) == want,
        s"pq_assign on $sub")
    }
    check()
    interpreted { check() }
  }

  /** A sample of fixture rows plus hostile ones, one column per kernel
    * input type. Hostile: `\x0B`, invalid UTF-8, NaN/±Inf, empty,
    * null-slotted and length-mismatched arrays, PQ books with null
    * entries, cids, cvecs and slots. */
  private lazy val paritySample = {
    import org.apache.spark.sql.types._
    val docs = Tables.load(spark, sf, "documents").orderBy("doc_id")
      .select("text").limit(12).collect().map(_.getString(0))
    val embs = Tables.load(spark, sf, "embeddings").orderBy("vec_id")
      .select("embedding").limit(12).collect().map(_.getSeq[Float](0))
    val books = embs.take(4).toSeq.zipWithIndex
      .map { case (e, j) => Row(j * 7L, e.map(_.toDouble)) }
    val fixture = docs.indices.map { i =>
      val toks = docs(i).toLowerCase.split(" ").toSeq
      Row(i.toLong, docs(i).getBytes("UTF-8"),
        toks.map(_.hashCode * 0x9E3779B97F4A7C15L), embs(i),
        embs((i + 1) % embs.length).map(_.toDouble), toks, books)
    }
    val (nan, inf) = (Float.NaN, Float.PositiveInfinity)
    val hostile = Seq(
      Row(100L, "\u000B- vt bullet\nthe\u000Band\u000B...".getBytes("UTF-8"),
        Seq(1L, null, 3L), Seq(1f, null, nan), Seq(inf.toDouble, 0.0, -1.0),
        Seq("aye", null, ""), Seq(Row(1L, Seq(1.0, null, 2.0)), null,
          Row(null, Seq(0.0, 0.0, 0.0)), Row(2L, null))),
      Row(101L, Array[Byte](-1, 97, -61, 32, 116, 104, 101, 32, -30, -128),
        Seq.empty[Long], Seq.empty[Float], Seq.empty[Double],
        Seq.empty[String], Seq.empty[Row]),
      Row(102L, null, null, null, null, null, null),
      Row(103L, Array.emptyByteArray, Seq(Long.MinValue, Long.MaxValue),
        Seq.fill(64)(nan), Seq.fill(63)(-inf.toDouble), Seq(null),
        Seq(Row(5L, Seq.fill(64)(Double.NaN)), Row(3L, Seq.fill(63)(0.0)))),
      Row(104L, "x\u000By".getBytes("UTF-8"), Seq(7L),
        Seq.tabulate(64)(i => if (i == 9) null else i.toFloat),
        Seq.fill(64)(Double.NegativeInfinity), Seq("queueing"), books))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("sb", BinaryType),
      StructField("hs", ArrayType(LongType)),
      StructField("fv", ArrayType(FloatType)),
      StructField("dv", ArrayType(DoubleType)),
      StructField("toks", ArrayType(StringType)),
      StructField("books", ArrayType(StructType(Seq(
        StructField("cid", LongType),
        StructField("cvec", ArrayType(DoubleType))))))))
    scanned(spark.createDataFrame(
        spark.sparkContext.parallelize(fixture ++ hostile, 1), schema)
      .withColumn("s", col("sb").cast("string")).drop("sb"))
  }

  test("every registered function gives the same rows under CODEGEN_ONLY " +
    "and NO_CODEGEN, on fixture and hostile rows") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    val df = paritySample
    // candidate arguments; each function is called with every 1- and
    // 2-argument combination it accepts, so a new kernel is covered as
    // soon as it is registered
    val pool = Seq("s", "lower(s)", "hs", "fv", "dv", "toks", "books", "16")
    val resolved = df.selectExpr(pool: _*).queryExecution.analyzed
      .expressions.map { case Alias(c, _) => c; case e => e }
    val args = pool.zip(resolved)
    val calls = GraftFunctions.descriptors.flatMap { case (id, _, build) =>
      val sigs = (args.map(Seq(_)) ++ (for (a <- args; b <- args) yield Seq(a, b)))
        .filter(sig => scala.util.Try(
          build(sig.map(_._2)).checkInputDataTypes().isSuccess).getOrElse(false))
      assert(sigs.nonEmpty,
        s"${id.funcName}: no sample column fits its input type — add one")
      sigs.map(sig => s"${id.funcName}(${sig.map(_._1).mkString(", ")})")
    }
    def run() = df.selectExpr("id" +: calls: _*).collect().sortBy(_.getLong(0))
    val codegen = inMode(wholeStage = true, "CODEGEN_ONLY")(run())
    val interp = interpreted(run())
    assert(codegen.length == interp.length)
    for ((c, i) <- codegen.zip(interp); k <- calls.indices)
      assert(Row(c.get(k + 1)) == Row(i.get(k + 1)),
        s"${calls(k)} on row ${c.getLong(0)}: codegen ${c.get(k + 1)}, " +
          s"interpreted ${i.get(k + 1)}")
  }

  /** Write `df` as parquet and read it back: projections over a scan run
    * inside whole-stage codegen, where ConvertToLocalRelation would
    * evaluate them over a literal frame with an interpreted projection. */
  private def scanned(df: org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fn").resolve("t")
    df.write.parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  /** Run `f` with BOTH wholeStage codegen off and expression codegen
    * forced to NO_CODEGEN — disabling wholeStage alone leaves expression
    * codegen in FALLBACK mode, so the interpreted nullSafeEval path of
    * custom expressions would never actually execute (round-13 advice). */
  private def interpreted[A](f: => A): A =
    inMode(wholeStage = false, "NO_CODEGEN")(f)

  private def inMode[A](wholeStage: Boolean, factoryMode: String)(f: => A): A = {
    val prevWs = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFm = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    try f finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prevWs)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFm)
    }
  }
}
