package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Banded random-hyperplane (sign) LSH shared by `sim_cosine_lsh` and
  * `dedup_embcos` — the scale-safe candidate generator that replaces the
  * round-1 fixed-8-bucket variant (which was O(n²/8): bucket count did not
  * grow with corpus size).
  *
  * Design (the MinHash-banding idiom applied to cosine space):
  *   - [[Bands]]×[[BandBits]] deterministic ±1 hyperplanes; bit = sign of
  *     the projection. Determinism (vs. sampled Gaussians) is what lets the
  *     DuckDB oracle inline the identical plane bank and hash-match.
  *   - Per band, vectors sharing the packed [[BandBits]]-bit key are
  *     candidates: 2^[[BandBits]] buckets per band, so collision probability
  *     per random pair is 2^-[[BandBits]] per band, independent of n.
  *   - Bucket cap (the MaxShingleDf idiom from [[Dedup]]): a band bucket
  *     holding more than [[BucketCap]] vectors is degenerate for that band
  *     (e.g. a dense cluster or a zero-heavy region). It is refined by the
  *     FULL signature (all Bands keys); groups still over the cap after
  *     refinement — i.e. ≥cap near-identical signatures — are dropped for
  *     that band (exact duplicates are dedup_exact's job). This caps
  *     candidate pairs at Bands · n · BucketCap / 2 — LINEAR in n, never n².
  *
  * Recall: a pair agreeing on all bits of ≥1 band is found. For true
  * near-dups (cosine ≥ .99, per-bit agreement ≈ .97) a band hits with
  * p ≈ .77, so 16 bands miss with p ≈ 1e-10 (asserted in the planted-pair
  * spec). For the weakly-similar tail (cosine ≈ .45 — all the fixture has)
  * recall is ≈ .4 by design: LSH trades the far tail for never scanning n².
  */
private[graft] object SignLsh {
  val Dim: Int = graft.functions.BandWalk.Dim
  val Bands: Int = graft.functions.BandWalk.Bands
  val BandBits: Int = graft.functions.BandWalk.BandBits
  val BucketCap = 64

  /** ±1 weight of hyperplane j at dimension d (see
    * [[graft.functions.BandWalk.weight]] — single source of truth shared
    * with the fused expression and inlined by the SQL twin below). */
  def weight(j: Int, d: Int): Int = graft.functions.BandWalk.weight(j, d)

  /** embeddings table + norm + band-key array (callers cache: it feeds the
    * banding pass and both sides of the verify join). */
  def withKeys(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.load(spark, dir, "embeddings")
      .withColumn("nrm",
        sqrt(GraftFunctions.vecDot(spark, col("embedding"), col("embedding"))))
      .withColumn("bk", GraftFunctions.bandKeys(spark, col("embedding")))

  /** Cap-and-refine survivors: (vec_id, band, rkey). Exposed for the spec
    * asserting no surviving bucket exceeds `cap`. Shuffles only
    * (id, band, key, fullkey) — embeddings never ride the banding shuffle. */
  def kept(base: DataFrame, cap: Int = BucketCap): DataFrame =
    keptDetail(base, cap)
      .filter(col("cnt2") <= cap)
      .select(col("vec_id"), col("band"), col("rkey"))

  /** The pre-filter banding frame with both cap counters (cnt1 = raw
    * bucket size, cnt2 = refined-bucket size) — [[kept]] is this filtered
    * to cnt2 ≤ cap; the cap-stats audit op aggregates it unfiltered. */
  def keptDetail(base: DataFrame, cap: Int = BucketCap): DataFrame = {
    val banded = base.select(col("vec_id"),
      concat_ws("-", col("bk").cast("array<string>")).as("fullkey"),
      posexplode(col("bk")).as(Seq("band", "key")))
    val wB = Window.partitionBy(col("band"), col("key"))
    val wR = Window.partitionBy(col("band"), col("rkey"))
    banded
      .withColumn("cnt1", count(lit(1)).over(wB))
      .withColumn("rkey", when(col("cnt1") <= cap, col("key").cast("string"))
        .otherwise(concat(lit("F"), col("fullkey"))))
      .withColumn("cnt2", count(lit(1)).over(wR))
  }

  /** Candidate pairs (id_a < id_b) with the number of agreeing bands. The
    * self-join key is (band, rkey); per-key fan-out ≤ [[BucketCap]]. */
  def candidates(base: DataFrame, cap: Int = BucketCap): DataFrame = {
    val k = kept(base, cap)
    k.as("a").join(k.as("b"),
        col("a.band") === col("b.band") && col("a.rkey") === col("b.rkey")
          && col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  // ------------------------------------------------------------ DuckDB twin

  private def sqlBandKeys(emb: String): String =
    (0 until Bands).map { b =>
      (0 until BandBits).map { i =>
        val j = b * BandBits + i
        val wl = (0 until Dim).map(weight(j, _)).mkString("[", ",", "]")
        s"(CASE WHEN list_aggregate(list_transform(list_zip($emb, $wl), " +
          s"x -> CAST(x[1] AS DOUBLE) * x[2]), 'sum') >= 0 " +
          s"THEN ${1 << (BandBits - 1 - i)} ELSE 0 END)"
      }.mkString(" + ")
    }.mkString("[\n", ",\n", "]")

  /** CTE chain `base` → `banded` → `kept` → `cand`, the SQL twin of
    * [[withKeys]] + [[candidates]]; callers append verify + projection. */
  def sqlCandCtes(cap: Int = BucketCap): String =
    s"""base AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_aggregate(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
       |    ${sqlBandKeys("embedding")} AS bk
       |  FROM embeddings),
       |banded AS (
       |  SELECT vec_id, t.band - 1 AS band, bk[t.band] AS key,
       |    array_to_string(bk, '-') AS fullkey
       |  FROM base, generate_series(1, $Bands) AS t(band)),
       |k1 AS (SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS cnt1
       |       FROM banded),
       |k2 AS (SELECT *, CASE WHEN cnt1 <= $cap THEN CAST(key AS VARCHAR)
       |       ELSE 'F' || fullkey END AS rkey FROM k1),
       |k3 AS (SELECT *, COUNT(*) OVER (PARTITION BY band, rkey) AS cnt2
       |       FROM k2),
       |kept AS (SELECT vec_id, band, rkey FROM k3 WHERE cnt2 <= $cap),
       |cand AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, COUNT(*) AS n_bands
       |  FROM kept a JOIN kept b ON a.band = b.band AND a.rkey = b.rkey
       |    AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2)""".stripMargin
}
