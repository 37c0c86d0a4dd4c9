package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generated property tests (SURVEY.md §5.3): the laws the
  * engine's correctness rests on, checked over random inputs rather than
  * the fixtures — upsert idempotence (the InfluxDB point-write law),
  * window aggregation vs a driver-side brute force, dot-product algebra,
  * and signature stability of the dedup sketches.
  */
class PropertySpec extends SparkTestBase {

  /** Deterministic samples from a Gen (fixed seed — CI-stable). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val batchGen: Gen[List[(Long, Long, Double, Long)]] =
    Gen.listOfN(60, for {
      key <- Gen.choose(0L, 5L)       // tag
      t <- Gen.choose(0L, 20L)        // time (collisions intended)
      v <- Gen.choose(-100.0, 100.0)
      ver <- Gen.choose(0L, 1000L)
    } yield (key, t, v, ver))

  /** last-write-wins dedup on (key, t) by version desc (version ties broken
    * by value desc so the law is deterministic even for duplicate versions). */
  private def upsert(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("key"), col("t"))
      .orderBy(col("ver").desc, col("v").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  test("upsert law: applying a batch twice equals applying it once") {
    import spark.implicits._
    for (batch <- samples(batchGen, 8)) {
      val df = batch.toDF("key", "t", "v", "ver")
      val once = upsert(df)
      val twice = upsert(df.union(df))
      val a = once.collect().map(_.toSeq).toSet
      val b = twice.collect().map(_.toSeq).toSet
      assert(a == b, s"idempotence violated for batch of ${batch.size}")
    }
  }

  test("running sum over a window equals driver-side scanLeft") {
    import spark.implicits._
    for (batch <- samples(batchGen, 5)) {
      // unique (key, t) rows so the ordering is total
      val rows = batch.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val df = rows.toDF("key", "t", "v", "ver")
      val w = Window.partitionBy(col("key")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val got = df.withColumn("rs", sum(col("v")).over(w))
        .select("key", "t", "rs").as[(Long, Long, Double)]
        .collect().map { case (k, t, rs) => (k, t) -> rs }.toMap
      val want = rows.groupBy(_._1).flatMap { case (k, rs) =>
        val sorted = rs.sortBy(_._2)
        sorted.scanLeft((k, -1L, 0.0)) { case ((_, _, acc), (_, t, v, _)) =>
          (k, t, acc + v)
        }.drop(1)
      }.map { case (k, t, rs) => (k, t) -> rs }.toMap
      want.foreach { case (kt, v) =>
        assert(math.abs(got(kt) - v) < 1e-9, s"mismatch at $kt")
      }
    }
  }

  private val vecGen: Gen[List[Float]] =
    Gen.listOfN(16, Gen.choose(-8.0f, 8.0f))

  test("vec_dot algebra: commutative, psd, matches driver-side fold") {
    import spark.implicits._
    val vs = samples(Gen.zip(vecGen, vecGen), 20)
    val df = vs.map { case (a, b) => (a.toArray, b.toArray) }.toDF("a", "b")
    val rows = df.select(
      functions.GraftFunctions.vecDot(spark, col("a"), col("b")).as("ab"),
      functions.GraftFunctions.vecDot(spark, col("b"), col("a")).as("ba"),
      functions.GraftFunctions.vecDot(spark, col("a"), col("a")).as("aa"))
      .as[(Double, Double, Double)].collect()
    rows.zip(vs).foreach { case ((ab, ba, aa), (a, b)) =>
      assert(ab == ba, "commutativity must be bit-exact")
      assert(aa >= 0.0, "self dot is positive semidefinite")
      val fold = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + x.toDouble * y.toDouble
      }
      assert(ab == fold, "must equal the sequential IEEE fold")
    }
  }

  /** Deterministic pseudo-random unit-ish vector. */
  private def randVec(rnd: scala.util.Random): Array[Float] =
    Array.fill(ops.SignLsh.Dim)((rnd.nextDouble() * 2 - 1).toFloat)

  private def lshBase(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(functions.GraftFunctions.vecDot(
        spark, col("embedding"), col("embedding"))))
      .withColumn("bk", functions.GraftFunctions.bandKeys(spark, col("embedding")))
  }

  test("sign-LSH cap: no surviving bucket exceeds BucketCap even under a " +
    "degenerate mega-cluster; candidate count stays linear in n") {
    val rnd = new scala.util.Random(7)
    val hot = randVec(rnd)
    // 200 identical vectors (a pathological cluster: every band bucket AND
    // every full signature collides) + 100 random ones
    val rows = (0L until 200L).map(i => (i, hot.clone())) ++
      (200L until 300L).map(i => (i, randVec(rnd)))
    val base = lshBase(rows)
    val sizes = ops.SignLsh.kept(base)
      .groupBy(col("band"), col("rkey")).count()
      .agg(max(col("count"))).collect()(0)
    assert(sizes.isNullAt(0) || sizes.getLong(0) <= ops.SignLsh.BucketCap,
      s"surviving bucket larger than cap: $sizes")
    val nCand = ops.SignLsh.candidates(base).count()
    val bound = ops.SignLsh.Bands.toLong * rows.size * ops.SignLsh.BucketCap / 2
    assert(nCand <= bound, s"candidates $nCand exceed linear bound $bound")
    // the mega-cluster must have been dropped, not exploded into ~20k pairs
    assert(nCand < 2000, s"mega-cluster leaked into candidates: $nCand")
  }

  test("sign-LSH recall: planted near-dup pairs (cosine ≥ .99) are found") {
    val rnd = new scala.util.Random(11)
    val planted = (0 until 60).map { i =>
      val x = randVec(rnd)
      // small perturbation: cosine(x, y) ≈ 0.999
      val y = x.map(v => v + (rnd.nextDouble() * 0.04 - 0.02).toFloat)
      Seq((2L * i, x), (2L * i + 1, y))
    }
    val base = lshBase(planted.flatten)
    val cand = ops.SignLsh.candidates(base)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = planted.count(p => cand.contains((p(0)._1, p(1)._1)))
    assert(found >= 54, s"recall ${found}/60 below 0.9 for planted near-dups")
  }

  test("simhash64: permutation-invariant in vote counts, content-sensitive") {
    import spark.implicits._
    val tokGen = Gen.nonEmptyListOf(Gen.identifier).map(_.distinct)
    for (toks <- samples(tokGen, 10) if toks.nonEmpty) {
      val perm = scala.util.Random.shuffle(toks)
      val df = Seq((1L, toks), (2L, perm)).toDF("id", "toks")
        .withColumn("hs", transform(col("toks"), t => xxhash64(t)))
        .select(col("id"),
          functions.GraftFunctions.simHash64(spark, col("hs")).as("sh"))
      val m = df.as[(Long, Long)].collect().toMap
      assert(m(1L) == m(2L), "order must not matter (majority vote)")
    }
  }

  test("line protocol: random points render -> parse round-trips exactly") {
    import spark.implicits._
    // values exercising every lexical field form plus the escapable chars
    val tagVal = Gen.oneOf("plain", "with space", "c,omma", "e=q", "x")
    val point = for {
      meas <- Gen.oneOf("m1", "pul ses", "a,b")
      t1 <- tagVal
      t2 <- tagVal
      fDouble <- Gen.chooseNum(-1e6, 1e6)
      fLong <- Gen.chooseNum(-1000000L, 1000000L)
      fBool <- Gen.oneOf(true, false)
      ns <- Gen.chooseNum(0L, 4102444800L).map(_ * 1000000000L)
    } yield (meas, t1, t2, fDouble, fLong, fBool, ns)
    def esc(s: String): String =
      s.replace(" ", "\\ ").replace(",", "\\,").replace("=", "\\=")
    val pts = (0 until 200)
      .flatMap(i => point.apply(Gen.Parameters.default, Seed(7L + i)))
    val lines = pts.map { case (m, t1, t2, d, l, b, ns) =>
      s"${esc(m)},ta=${esc(t1)},tb=${esc(t2)} d=$d,l=${l}i,ok=$b $ns"
    }.toDF("line")
    val parsed = graft.ingest.LineProtocol.tagCols(
        graft.ingest.LineProtocol.parseLines(lines), Seq("ta", "tb"))
      .filter(!col("is_bad"))
    assert(parsed.count() == pts.size * 3L) // three fields per point
    val got = parsed.select(col("measurement"), col("ta"), col("tb"),
        col("field_key"), col("f_double"), col("f_long"), col("f_bool"),
        unix_micros(col("time")) * 1000)
      .as[(String, String, String, String, Option[Double], Option[Long],
        Option[Boolean], Long)]
      .collect().toSet
    val want = pts.flatMap { case (m, t1, t2, d, l, b, ns) => Seq(
      (m, t1, t2, "d", Some(d), None, None, ns),
      (m, t1, t2, "l", None, Some(l), None, ns),
      (m, t1, t2, "ok", None, None, Some(b), ns))
    }.toSet
    assert(got == want)
  }

  test("line protocol: quoted separators parse; bad lines quarantine ATOMICALLY") {
    import spark.implicits._
    // raw separators inside BALANCED quotes are valid line protocol and
    // now parse (quoted-run masking); truly malformed lines still
    // quarantine atomically — no field of a bad line half-ingests
    val lines = Seq(
      """m,ta=t msg="a,b c=d",x=1i 1704067200000000000""", // sep in quotes: GOOD
      """m,ta=t x=1,y=notanumber 1704067200000000000""", // untypeable value
      """m,ta=t x=2,y= 1704067200000000000""",           // empty value
      """m,ta=t =5,x=9 1704067200000000000""",           // empty field KEY
      """m,ta=t msg="unbalanced,x=7 1704067200000000000""", // dangling quote
      """m,ta=t ok=3 1704067200000000000""").toDF("line") // control: good
    val parsed = graft.ingest.LineProtocol.parseLines(lines)
    val good = parsed.filter(!col("is_bad"))
    // the quoted line contributes (msg, x), the control (ok)
    assert(good.count() == 3)
    assert(good.filter(col("field_key") === "msg").select("f_str")
      .head.getString(0) == "a,b c=d")
    assert(good.filter(col("field_key") === "x").select("f_long")
      .head.getLong(0) == 1L)
    // every row of each bad line carries is_bad — no partial ingest (x=1
    // of the untypeable line, x=9, x=7 of the unbalanced line never leak)
    assert(good.filter(col("field_key") === "x").count() == 1)
    // InfluxDB parity inside quotes: `\"` is the ONLY escape — `\,`/`\=`
    // stay literal backslash sequences (outside quotes they still escape,
    // covered by the round-trip property above)
    val esc = graft.ingest.LineProtocol.parseLines(
      Seq("""m,ta=t msg="a\,b\=c \"q\" e,f",x=1 1704067200000000000""")
        .toDF("line"))
    assert(esc.filter(col("is_bad")).count() == 0)
    assert(esc.filter(col("field_key") === "msg").select("f_str")
      .head.getString(0) == """a\,b\=c "q" e,f""")
  }

  test("store model law: random mutation sequences match a reference map") {
    import spark.implicits._
    import java.sql.Timestamp
    // small deterministic domain: 3 series × 4 days × 4 slots
    val tags = Seq("a", "b", "c")
    val times = for {
      d <- 1 to 4; h <- Seq(0, 6, 12, 18)
    } yield Timestamp.valueOf(f"2024-01-0$d $h%02d:00:00")
    val rnd = new scala.util.Random(4242)
    val root = java.nio.file.Files.createTempDirectory("ms_model").toString
    val store = new graft.store.MeasurementStore(spark, root)
    val model = scala.collection.mutable.Map.empty[(String, Timestamp), Double]
    var version = 0L
    def writeBatch(keys: Seq[(String, Timestamp)]): Unit = {
      version += 1
      val rows = keys.map { case (tag, t) =>
        val v = rnd.nextInt(1000).toDouble
        model((tag, t)) = v
        (tag, t, v, version)
      }
      store.upsert("m", rows.toDF("event_type", "time", "value", "ver"),
        keys = Seq("event_type", "time"), versionCol = "ver")
    }
    def check(label: String): Unit = {
      val got = store.read("m")
        .select("event_type", "time", "value")
        .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r.getDouble(2))
        .toMap
      assert(got == model.toMap, s"divergence after $label")
    }
    writeBatch(for (tag <- tags; t <- times) yield (tag, t)) // seed all keys
    for (step <- 1 to 12) {
      rnd.nextInt(5) match {
        case 0 => // upsert a random subset (overrides, last-write-wins)
          writeBatch(Seq.fill(6)((tags(rnd.nextInt(3)), times(rnd.nextInt(times.size)))))
        case 1 => // time-scoped DELETE
          val bound = times(rnd.nextInt(times.size))
          store.deleteWhere(s"DELETE FROM m WHERE time < '$bound'")
          model.filterInPlace { case ((_, t), _) => !t.before(bound) }
        case 2 => // tag+time-scoped DELETE
          val tag = tags(rnd.nextInt(3))
          val bound = times(rnd.nextInt(times.size))
          store.deleteWhere(s"DELETE FROM m WHERE event_type = '$tag' AND time < '$bound'")
          model.filterInPlace { case ((g, t), _) => !(g == tag && t.before(bound)) }
        case 3 => // DROP SERIES, then re-seed it so later steps have data
          val tag = tags(rnd.nextInt(3))
          store.dropSeries(s"DROP SERIES FROM m WHERE event_type = '$tag'")
          model.filterInPlace { case ((g, _), _) => g != tag }
          writeBatch(times.take(4).map(t => (tag, t)))
        case 4 => // compaction must be invisible to content
          store.compact("m")
      }
      check(s"step $step")
    }
  }

  /** Random tiny corpora for the set-similarity laws: a handful of docs
    * over a 12-word vocabulary (so shingle overlap is common), plus exact
    * duplicates and subset docs planted by construction. */
  private val corpusGen: Gen[Seq[(Long, String)]] = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val doc = Gen.chooseNum(6, 18).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, vocab.size - 1)).map(_.map(vocab).mkString(" ")))
    Gen.listOfN(5, doc).map { docs =>
      val base = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
      // plant: doc 100 = exact copy of doc 0; doc 101 = doc 1's prefix
      // embedded in a longer doc (the containment shape)
      base ++ Seq(
        (100L, docs.head),
        (101L, docs(1) + " " + docs(2) + " " + docs(3)))
    }
  }

  test("set-similarity laws on random corpora: containment >= jaccard " +
    "pairwise, exact dups score 1.0 in both, measures stay in [0,1]") {
    import spark.implicits._
    for ((corpus, i) <- samples(corpusGen, 4).zipWithIndex) {
      val dir = java.nio.file.Files.createTempDirectory(s"simlaw$i").toString
      corpus.map { case (id, text) => (id, text, "en", "gen", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      val jac = ops.Dedup.dedupNgramJaccard(spark, dir)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val con = ops.Dedup.dedupContainment(spark, dir)
        .select("id_a", "id_b", "containment")
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      // range law
      assert(jac.values.forall(v => v >= 0.3 && v <= 1.0))
      assert(con.values.forall(v => v >= 0.8 && v <= 1.0))
      // dominance law: containment(A,B) = inter/min >= inter/union =
      // jaccard(A,B) — any pair BOTH ops emit must respect it
      for ((k, j) <- jac; c <- con.get(k))
        assert(c >= j - 1e-12, s"containment $c < jaccard $j for $k")
      // the exact duplicate (0,100) scores 1.0 in both (identical sets);
      // guard: only when doc 0 has >= 3 tokens so it shingles at all
      if (corpus.head._2.split(" ").length >= 3) {
        assert(jac.get((0L, 100L)).contains(1.0), s"missing exact dup in jaccard: $jac")
        assert(con.get((0L, 100L)).contains(1.0), s"missing exact dup in containment: $con")
      }
      OpCaches.releaseAll()
    }
  }

  test("pattern-match z-invariance: any affine transform (a*x+b, a>0) of " +
    "a series leaves every match distance and rank unchanged") {
    import spark.implicits._
    val vals = samples(Gen.listOfN(16, Gen.choose(-50.0, 50.0)), 1).head
    def mk(scale: Double, off: Double) =
      vals.zipWithIndex.map { case (v, i) =>
        ((i + 1).toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"),
          1L, "s", v * scale + off, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def run(df: org.apache.spark.sql.DataFrame): Seq[(Int, Double)] = {
      val dir = java.nio.file.Files.createTempDirectory("zinv").toString
      df.coalesce(1).write.parquet(s"$dir/events.parquet")
      val out = ops.TimeSeries.tsPatternMatch(spark, dir)
        .select("rk", "dist2").as[(Int, Double)].collect().sorted.toSeq
      OpCaches.releaseAll(); out
    }
    val base = run(mk(1.0, 0.0))
    assert(base.nonEmpty)
    // z-normalization must erase scale and offset EXACTLY at 6 dp: the
    // rounded per-term squares are equal, so the decimal sums are equal
    assert(run(mk(3.0, 17.0)) == base)
    assert(run(mk(0.25, -40.0)) == base)
  }
}
