package graft
import java.nio.file.{Files, Paths}
object Bench {
  def main(args: Array[String]): Unit = Harness.run { spark =>
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // warm the session once (executor spin-up, codegen compiler, parquet
    // footer caches) so the first timed query isn't charged for it
    Tables.load(spark, sfDir, "nation")
      .groupBy("n_regionkey").count().collect()
    // expression-JIT warmup (round-11 verdict stretch #8): the md5-word /
    // minhash / simhash signature kernels are the repo's heaviest scalar
    // expressions, and their first evaluation carries Janino + C2
    // compilation that showed up as a 6.4 s single-run vs 2.5 s min-of-3
    // spread on dedup_minhash at sf0.1 — one tiny evaluation here moves
    // that compiler cost out of the first timed query that touches them
    locally {
      import graft.functions.GraftFunctions.{md5Words, minHashSig, simHash64}
      import org.apache.spark.sql.functions.{col, transform, element_at, split, lower}
      val hs = transform(split(lower(col("n_name")), ""),
        t => element_at(md5Words(spark, t), 1))
      Tables.load(spark, sfDir, "nation")
        .select(minHashSig(spark, hs, 16), simHash64(spark, hs)).collect()
      ()
    }
    // bucketed layout is a write-once storage decision: create it here so
    // join_bucketed times the join, not the table build
    ops.Joins.ensureBucketedTables(spark, sfDir)
    def timeOne(name: String, fn: Harness.Query): Double =
      Harness.time(spark, sfDir, name, fn)
    // optional subset (comma-separated names) — the sf1 data-bound bench
    // point times only the slowest-20 of the sf0.1 ledger
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_(n)) }
    val firstPass = selected.map { case (name, fn) =>
      name -> timeOne(name, fn)
    }
    // single timings swing up to 3× between runs (JIT, GC, page cache), so
    // the slowest queries — the ones round-over-round verdicts actually
    // compare — are re-run twice more and reported as the MEDIAN of three;
    // the fast tail keeps its single timing (noise there is absolute ~ms)
    // raised 20 → 50 (round-10 verdict item 7): round-over-round verdicts
    // kept hitting single-run-only ids; the top-50 covers every query the
    // cross-round comparisons have ever flagged
    val Reruns = 50
    // any query whose single-run drifts >1.5× against the last committed
    // ledger joins the re-run set too — round-over-round regressions must
    // be judged on a median, not one noisy sample (round-8 verdict: the
    // mm_phash_pairs ×2.19 "regression" was exactly this); the explicit
    // watch set keeps the round-8 flagged pair on min-of-3 either way
    val DriftFactor = 1.5
    // round-9/10 single-run drift scares under min-of-3 watch until two
    // clean rounds (the mm_phash_pairs discipline)
    // dedup_exact doubles as the cross-container calibration ANCHOR (its
    // plan is scan + hash agg, immune to every family-specific change) —
    // always min-of-3 so container-speed normalization has a stable floor
    // sim_knn_join: the committed R12 curve measured n^1.38 (the earlier
    // n^1.03 note here was the stale artifact — adjudicated round 12);
    // the occupancy-capped sub-split bounds it, keep it on min-of-3
    val watch = Set("mm_phash_pairs", "dedup_span_stats",
      "dedup_paragraph", "text_lm_bigram",
      "mm_decode_features", "text_winnowing", "dedup_exact",
      "sim_knn_join")
    val prevPath = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "BENCH_LOCAL.json"))
    val prev: Map[String, Double] = scala.util.Try {
      val txt = Files.readString(prevPath)
      // parse ONLY the "queries" object — the trailing min_of_3 map uses
      // the same key names and would otherwise overwrite the medians,
      // making drift be judged against the min-of-3 floor instead
      val qobj = """"queries":\{([^}]*)\}""".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      // values may be scientific-notation if the writer ever changes
      val m = """"([a-z0-9_]+)":\s*([0-9.eE+-]+)""".r
      m.findAllMatchIn(qobj).map(x => x.group(1) -> x.group(2).toDouble).toMap
    }.getOrElse(Map.empty)
    // an existing ledger that parses EMPTY means the format drifted and
    // drift detection would silently turn off — fail loudly instead
    if (prev.isEmpty && Files.exists(prevPath) && prevPath.toString != "/dev/null")
      System.err.println(s"[bench] WARNING: previous ledger $prevPath " +
        "exists but parsed to an empty queries map - drift detection is " +
        "OFF this run; check the ledger format")
    val drifted = firstPass.collect {
      case (n, t) if prev.get(n).exists(p => p > 0 && t > p * DriftFactor) => n
    }.toSet
    val rerunSet = firstPass.sortBy(-_._2).take(Reruns).map(_._1).toSet ++
      drifted ++ watch.filter(SparkEntry.queries.contains)
    val samples: Map[String, Seq[Double]] = firstPass.map { case (name, t1) =>
      if (rerunSet(name)) {
        val fn = SparkEntry.queries(name)
        name -> (Seq(t1, timeOne(name, fn), timeOne(name, fn)).sorted)
      } else name -> Seq(t1)
    }.toMap
    def median(ts: Seq[Double]): Double = ts(ts.size / 2)
    val results = firstPass.map { case (name, _) => name -> median(samples(name)) }
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def jsonMap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
    val total = r3(results.map(_._2).sum)
    // the log capture keeps only the last ~2000 chars of output, and the
    // full per-query map (~3 KB and growing) can never fit — the stdout
    // line carries the total plus the slowest queries within a fixed char
    // budget; BENCH_LOCAL.json (committed per round) holds every timing
    val byCost = results.sortBy(-_._2)
    var used = 0
    val shown = byCost.takeWhile { case (k, _) =>
      used += k.length + 10; used <= 1650
    }
    val omitted = results.size - shown.size
    // every artifact names its sink generation: pre-r12 count()-sink
    // ledgers and noop-sink ones are silently incomparable for map-only
    // ops — the field lets cross-round tooling refuse mixed comparisons
    // mechanically (round-12 verdict #7)
    // build provenance: stale-artifact detection must be mechanical, not
    // git archaeology (round-13 verdict #7) — the commit the numbers were
    // measured on plus the full registered surface size ride every artifact
    val commit = scala.util.Try(
      scala.sys.process.Process(Seq("git", "rev-parse", "--short", "HEAD"))
        .!!.trim).getOrElse("unknown")
    val prov = s""""commit":"$commit","surface_n":${SparkEntry.queries.size}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},""" +
        s"""$prov,"sink":"noop","queries":${jsonMap(shown.sortBy(_._1))},""" +
        s""""omitted_fastest":$omitted,"full":"BENCH_LOCAL.json","sf":"$sfDir"}"""
    // min map for the re-run set: the floor a plan change must beat
    val mins = samples.filter(_._2.size > 1).toSeq
      .map { case (k, ts) => k -> ts.min }.sortBy(_._1)
    // the calibration anchor: dedup_exact's min-of-3 floor, named so a
    // cross-container comparison can normalize before judging drift
    val anchor = samples.get("dedup_exact")
      .map(ts => s""","anchor":{"dedup_exact":${r3(ts.min)}}""").getOrElse("")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec",$prov,"sink":"noop",""" +
        s""""queries":${jsonMap(results)},""" +
        s""""min_of_3":${jsonMap(mins)}$anchor,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    Files.writeString(Paths.get(outPath), full + "\n")
    println(line)
  }
}
