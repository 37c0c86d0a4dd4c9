package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Deduplication operators for LLM training-data pipelines (SURVEY.md
  * §2.10): exact, n-gram Jaccard (inverted-index candidate generation),
  * MinHash+LSH banding, and SimHash. The 100 TB design rule everywhere:
  * never materialize O(n²) — candidates come from shared-key joins
  * (shingle, band bucket) whose fan-out is bounded, and only candidates
  * pay the exact-verification cost.
  */
object Dedup {
  import Relational.{totalOrder, orderAll}

  /** Word 3-gram shingle set per document (distinct). Shared with the
    * boilerplate miner ([[Text.textBoilerplate]]), which is this
    * vocabulary's other half. */
  private[ops] def shingled(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    load(spark, dir, "documents")
      .withColumn("t", toks)
      // guard: under ANSI mode element_at past the end errors, so docs with
      // <3 tokens get an empty shingle set instead of an implicit null-pad
      .withColumn("shingles", when(size(col("t")) >= 3,
        array_distinct(transform(
          sequence(lit(0), size(col("t")) - 3),
          i => concat_ws(" ",
            element_at(col("t"), i + 1),
            element_at(col("t"), i + 2),
            element_at(col("t"), i + 3)))))
        .otherwise(array().cast("array<string>")))
      .select(col("doc_id"), col("shingles"))
      // cache before any explode: Generate re-evaluates its child
      // expression per OUTPUT row, so exploding the un-materialized
      // transform() recomputes the whole shingle array once per shingle
      // (~50x the work; measured 30s vs 0.4s at sf0.1)
      .transform(graft.OpCaches.cached)
  }

  /** Exact dedup: group by content hash of normalized text; the canonical
    * survivor is the lowest doc_id (SURVEY §2.10 dedup_exact). Shuffles
    * 32-byte hashes, never the documents themselves. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    totalOrder(load(spark, dir, "documents")
      .withColumn("h",
        sha2(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 256))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") >= 2))

  /** Max document frequency for a shingle to count as discriminative: a
    * shingle seen in more docs carries no near-dup signal (the stop-word
    * guard of AllPairs-style similarity joins). Both Jaccard and MinHash
    * work over this capped vocabulary, so their results are comparable.
    *
    * The cap is a corpus FRACTION with this value as the floor, calibrated
    * on the 5000-doc sf0.1 corpus — see [[shingleDfCap]]. An ABSOLUTE cap
    * does not survive scale: growing the corpus multiplies every df
    * (verified at 30×: every shingle crossed the old fixed cap, the
    * discriminative vocabulary emptied, and the whole near-dup family
    * silently returned zero pairs while its oracle — replicating the same
    * broken cap — agreed). Discriminativeness is df/n, not df. */
  private[ops] val MaxShingleDf = 20

  /** Calibration corpus size for the cap floors (the sf0.1 fixture). */
  private val CapCalibDocs = 5000L

  /** Corpus-relative shingle-df cap: `max(MaxShingleDf, ⌈n/250⌉)` — the
    * MaxShingleDf/CapCalibDocs fraction, integer-exact so the DuckDB
    * oracle reproduces it with `GREATEST(20, (COUNT(*) + 249) // 250)`. */
  private[ops] def shingleDfCap(nDocs: Long): Long =
    math.max(MaxShingleDf.toLong, (nDocs + 249) / 250)

  /** Corpus-relative Hamming-LSH band-bucket cap for the simhash family:
    * `max(64, ⌈64·n/5000⌉)` — same calibration, same rationale (a
    * replicated corpus puts every replica group in one bucket; a fixed
    * cap would drop ALL of them, which is precisely the near-dup mass the
    * op exists to find). */
  private[ops] def bandBucketCap(nDocs: Long): Long =
    math.max(64L, (64L * nDocs + CapCalibDocs - 1) / CapCalibDocs)

  /** Memoized corpus size (one cheap parquet count per (session, dir);
    * the caps above are plan-build scalars, not per-row lookups). */
  private val nDocsMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), java.lang.Long]()
  private[ops] def nDocs(spark: SparkSession, dir: String): Long = {
    if (nDocsMemo.size > 64) nDocsMemo.clear()
    nDocsMemo.computeIfAbsent((spark, dir),
      _ => load(spark, dir, "documents").count()).longValue
  }

  /** Cross-engine 60-bit hash word `off` of a string column: hex chars
    * [off, off+15) of its md5, parsed base-16 — the repo's md5-prefix
    * idiom (text_winnowing, pipeline_shuffle_order) widened to 60 bits.
    * 15 hex chars keep the value under 2^60, so the string→long cast is
    * ANSI-safe in Spark and the DuckDB twin is
    * `CAST(('0x' || substring(md5(x), off, 15))::UBIGINT AS BIGINT)`.
    * One md5 per string yields two independent words (off = 1 and 17).
    * This declarative form is the SPECIFICATION (and what FunctionsSpec
    * checks the fused expression against); hot paths use
    * [[graft.functions.Md5Words]], which computes both words from one
    * digest with no hex-string round-trip. */
  private[ops] def md5w(c: Column, off: Int): Column =
    conv(substring(md5(c), off, 15), 16, 10)
      .cast(org.apache.spark.sql.types.LongType)

  /** Rotate a 60-bit word left by k (0 ≤ k < 60) without ever forming a
    * value ≥ 2^63: mask-then-shift, engine-portable (DuckDB:
    * `((b % (1::BIGINT << (60-k))) << k) | (b >> (60-k))`). */
  private[ops] def rot60(b: Column, k: Int): Column =
    if (k == 0) b
    else shiftleft(b % lit(1L << (60 - k)), k).bitwiseOR(shiftright(b, 60 - k))

  /** Discriminative shingle postings: (doc_id, h, h2) with two independent
    * 60-bit md5 words of the shingle ([[md5w]] — cross-engine, so every
    * consumer down to the MinHash signatures carries a full DuckDB
    * oracle; xxhash64 here would be engine-private), restricted to
    * df(h) <= MaxShingleDf. The df filter is a
    * broadcast semi-join against the (tiny, partial-aggregated) per-hash
    * count table — the postings themselves are never shuffled or sorted for
    * it (a window over partitionBy(h) would sort the full posting list).
    * At 100 TB the df table outgrows a broadcast and this becomes a
    * shuffle join on `h` — an 8-byte key either way. */
  private def cappedPosting(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.md5Words
    val posting = shingled(spark, dir)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      // ONE digest per shingle via the fused Md5Words expression — the
      // declarative md5w pair costs two digests + two hex parses per row
      // and tripled this build at sf1 (values bit-identical, see Md5Words)
      .select(col("doc_id"), md5Words(spark, col("s")).as("w"))
      .select(col("doc_id"), element_at(col("w"), 1).as("h"),
        element_at(col("w"), 2).as("h2"))
    val keep = posting.groupBy(col("h")).count()
      .filter(col("count") <= shingleDfCap(nDocs(spark, dir))).select(col("h"))
    posting.join(broadcast(keep), "h")
      // cache: the posting feeds both sides of the candidate self-join plus
      // the size lookup (and the MinHash path); without it Catalyst
      // re-derives the shingling subtree once per reference. At cluster
      // scale this would be a checkpoint to break the lineage.
      .transform(graft.OpCaches.cached)
  }

  /** Near-dup pairs by exact Jaccard over the discriminative vocabulary:
    * inverted-index self-join on hashed shingles (only docs sharing one
    * ever meet; cost Σ df² ≤ postings·MaxShingleDf, never n²), then the
    * intersection count falls out of a (pair → count) hash agg — no
    * shingle arrays are ever shipped through the shuffle. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    totalOrder(jaccardPairs(spark, dir))

  /** The unsorted verified pair frame shared by [[dedupNgramJaccard]] and
    * [[dedupClusters]] (the cluster op must not pay the driver-contract
    * total-order sort — range partitioning samples the child twice).
    *
    * Exact duplicates are collapsed BEFORE candidate generation — the
    * production pipeline order. Docs with identical kept shingle-hash
    * sets form one group represented by the min doc id; the inverted-
    * index self-join runs over group representatives only, and group
    * pairs re-expand to doc pairs afterwards at OUTPUT size. On a corpus
    * where each doc carries r exact copies this cuts the join candidate
    * mass from Σ(r·df)² to Σdf² — r² cheaper (at 30× replication: 2.5B
    * candidate rows down to ~2.8M) — while the result is bit-identical
    * (identical sets ⇒ identical jaccard to every counterpart, and
    * within-group pairs are jaccard-1 by construction). On a corpus with
    * no exact dups every group is a singleton and the plan degenerates to
    * the plain inverted-index join plus one cheap set-keyed group-by. */
  private def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val groups = shingleGroups(spark, dir)
    expandPairs(groups, verifiedRepPairs(groups), "jaccard")
  }

  /** Rep pairs with the exact Jaccard verify — the threshold-filtered
    * group-grain pair frame every textual-dedup consumer derives from. */
  private def verifiedRepPairs(groups: DataFrame): DataFrame =
    repPairsSized(groups)
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.3)

  /** Connectivity-preserving SPANNING edge set of the textual near-dup
    * graph at DOC grain — for CC consumers that must union with OTHER
    * doc-grain edge sources (the cross-modal cluster op): within-group
    * cliques are replaced by the (rep → member) star (m−1 edges instead
    * of C(m,2)) and the cross-group doc-pair expansion by ONE rep-pair
    * edge (x–rep_A–rep_B–y walks the same component), so components —
    * and with them survivors and sizes — are IDENTICAL to the full
    * expanded graph while the edge count stays linear in docs + rep
    * pairs instead of quadratic in the exact-dup replication factor
    * (the round-12 sf30 finding on [[dedupClusters]], applied to the
    * union-graph consumer). */
  private def jaccardSpanningEdges(spark: SparkSession, dir: String): DataFrame = {
    val groups = shingleGroups(spark, dir)
    val star = groups.filter(col("m") >= 2)
      .select(col("rep_id").as("id_a"), explode(col("members")).as("id_b"))
      .filter(col("id_a") < col("id_b")) // rep IS the group min; drop self
    verifiedRepPairs(groups)
      .select(col("ra").as("id_a"), col("rb").as("id_b"))
      .unionByName(star)
  }

  /** Containment threshold for [[dedupContainment]] — 80% of the smaller
    * doc's shingles present in the other. */
  private[ops] val ContainmentMin = 0.8

  /** Asymmetric near-dup detection by set CONTAINMENT: inter / min(|A|,
    * |B|) ≥ [[ContainmentMin]] — the measure that catches a document
    * EMBEDDED in a much larger one (an article quoted inside a digest, a
    * README pasted into a monorepo dump), where Jaccard is diluted by the
    * larger doc's size and stays under any sensible pair threshold.
    * Broome/Broder's containment, the quote-detection half every corpus
    * dedup runs next to the symmetric Jaccard pass. Same machinery as
    * [[dedupNgramJaccard]] — capped postings, exact-dup collapse, one
    * inverted-index self-join (cost Σdf², never n²) — only the scoring
    * expression differs, so the two ops share plan shape, caches, and the
    * 100 TB story. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val groups = shingleGroups(spark, dir)
    val rpairs = repPairsSized(groups)
      .withColumn("containment", col("inter").cast(DoubleType) /
        least(col("n_a"), col("n_b")))
      .filter(col("containment") >= ContainmentMin)
    totalOrder(expandPairs(groups, rpairs, "containment"))
  }

  /** Exact-dup groups over the kept shingle-hash sets — the collapse
    * stage shared by every set-similarity pair op. Group key = the full
    * sorted hash set (not a re-hash of it: the oracle compare is exact,
    * so collapse must be collision-free). */
  private def shingleGroups(spark: SparkSession, dir: String): DataFrame =
    groupsOf(cappedPosting(spark, dir))
      .transform(graft.OpCaches.cached)

  /** The grouping body of [[shingleGroups]], reusable over a SIDE of a
    * split posting frame (the incremental ops collapse each side of the
    * corpus/shard split separately — a global collapse would merge a
    * replica family straddling the split into one group and erase the
    * very cross-side pairs the probe exists to find). */
  private def groupsOf(posting: DataFrame): DataFrame =
    posting.select(col("doc_id"), col("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
      .groupBy(col("hs"))
      .agg(min(col("doc_id")).as("rep_id"),
        collect_list(col("doc_id")).as("members"),
        count(lit(1)).as("m"))

  /** Representative-pair frame with intersection and both set sizes:
    * the inverted-index self-join every set measure (Jaccard,
    * containment) scores from — (ra, rb, inter, n_a, n_b), ra < rb. */
  private def repPairsSized(groups: DataFrame): DataFrame = {
    val repPost = groups.select(col("rep_id"), explode(col("hs")).as("h"))
    val sizes = groups.select(col("rep_id"), size(col("hs")).as("n_sh"))
    repPost.as("a").join(repPost.as("b"),
        col("a.h") === col("b.h") && col("a.rep_id") < col("b.rep_id"))
      .groupBy(col("a.rep_id").as("ra"), col("b.rep_id").as("rb"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("rep_id").as("ra"), col("n_sh").as("n_a")), "ra")
      .join(sizes.select(col("rep_id").as("rb"), col("n_sh").as("n_b")), "rb")
  }

  /** Re-expand surviving rep pairs to doc pairs (every (x ∈ A, y ∈ B)
    * inherits its group pair's inter + measure), plus the within-group
    * pairs, where identical kept sets make every set measure exactly 1.0
    * (IEEE-exact on the oracle side too). `rpairs` must carry (ra, rb,
    * inter, <measure>); least/greatest restores the id_a < id_b form. */
  private def expandPairs(groups: DataFrame, rpairs: DataFrame,
      measure: String): DataFrame = {
    val cross = rpairs
      .join(groups.select(col("rep_id").as("ra"), col("members").as("ma")), "ra")
      .join(groups.select(col("rep_id").as("rb"), col("members").as("mb")), "rb")
      .select(explode(col("ma")).as("x"), col("mb"), col("inter"), col(measure))
      .select(col("x"), explode(col("mb")).as("y"), col("inter"), col(measure))
      .select(least(col("x"), col("y")).as("id_a"),
        greatest(col("x"), col("y")).as("id_b"),
        col("inter"), col(measure))
    val within = groups.filter(col("m") >= 2)
      .select(size(col("hs")).as("inter"), explode(col("members")).as("x"),
        col("members"))
      .select(col("x"), explode(col("members")).as("y"), col("inter"))
      .filter(col("x") < col("y"))
      .select(col("x").as("id_a"), col("y").as("id_b"), col("inter"),
        lit(1.0).as(measure))
    cross.unionByName(within)
  }

  /** MinHash + LSH banding (SURVEY §2.10 dedup_minhash): 16 min-hashes per
    * doc, 4 bands × 4 rows; docs sharing any band bucket are candidates;
    * candidates are verified by exact Jaccard ≥ 0.3. Banding bounds the
    * pair explosion (P[candidate] ≈ 1-(1-j⁴)⁴).
    *
    * The hash family is cross-engine by construction (round-10 verdict
    * item 1): hash k of a shingle is `h XOR rot60(h2, k)` over the two
    * md5 words the capped posting already carries — ONE md5 per shingle,
    * then 16 register-arithmetic rotations, all reproducible in DuckDB
    * (`xor`, `<<`, `>>`), so the op carries a FULL hash oracle where the
    * previous xxhash64 seeding could only be rows-only-checked. The
    * signature is a plain 16-column min aggregate (partial-aggregable,
    * map-side combined — no per-doc array materialization), and a band
    * bucket is the raw 4-tuple of signature values (joining on the tuple
    * is exactly as discriminating as hashing it, and needs no hash at
    * all). Precision/recall spec vs the exact op retained. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    totalOrder(minhashPairs(spark, dir))

  /** Per-doc 16-value MinHash signature (doc_id, m0..m15) — one
    * partial-aggregable hash agg over the capped postings, shared by the
    * in-corpus pair pass and the persisted incremental index. */
  private def minhashSig(spark: SparkSession, dir: String): DataFrame =
    cappedPosting(spark, dir).groupBy(col("doc_id")).agg(
      min(col("h").bitwiseXOR(rot60(col("h2"), 0))).as("m0"),
      (1 until 16).map(k =>
        min(col("h").bitwiseXOR(rot60(col("h2"), k))).as(s"m$k")): _*)

  /** Signature frame → band rows (doc_id, band, k1..k4). */
  private def minhashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array((0 until 4).map { bd =>
        struct(lit(bd).as("band"),
          col(s"m${bd * 4}").as("k1"), col(s"m${bd * 4 + 1}").as("k2"),
          col(s"m${bd * 4 + 2}").as("k3"), col(s"m${bd * 4 + 3}").as("k4"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.k1").as("k1"),
        col("bb.k2").as("k2"), col("bb.k3").as("k3"), col("bb.k4").as("k4"))

  /** Like [[jaccardPairs]], exact duplicates are collapsed BEFORE the
    * banding self-join (a replicated corpus puts every replica family in
    * the same bucket of every band — uncollapsed, the candidate mass is
    * r² in the family size; the 30×/100× evidence fixtures ARE that
    * corpus). The collapse is a provable identity — identical kept sets
    * have identical signatures, so a member pairs with exactly whoever
    * its representative pairs with at the same jaccard, and within-group
    * pairs are jaccard-1 — which is why the DuckDB oracle reproduces the
    * UNCOLLAPSED algorithm and still hash-matches. */
  private def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val groups = shingleGroups(spark, dir)
    val bands = minhashBands(minhashSig(spark, dir)
      .join(groups.select(col("rep_id").as("doc_id")), "doc_id"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1")
          && col("a.k2") === col("b.k2") && col("a.k3") === col("b.k3")
          && col("a.k4") === col("b.k4") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"))
      .distinct()
    // exact verification (long-array intersect) for the candidate set only
    val sized = groups.select(col("rep_id"), col("hs"), size(col("hs")).as("n"))
    val rpairs = cand
      .join(sized.select(col("rep_id").as("ra"), col("hs").as("hs_a"),
        col("n").as("n_a")), "ra")
      .join(sized.select(col("rep_id").as("rb"), col("hs").as("hs_b"),
        col("n").as("n_b")), "rb")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.3)
      .select(col("ra"), col("rb"), col("inter"), col("jaccard"))
    expandPairs(groups, rpairs, "jaccard")
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ------------- incremental dedup against a persisted band index (§2.10)

  /** New-arrival rule for [[dedupIncremental]]: doc_id % 5 == 0 (20% of
    * the table — a full re-crawl shard) plays the incoming batch;
    * everything else is the already-indexed corpus. Proportional at every
    * scale factor (the replicated evidence fixtures spread each replica
    * family across mod classes), so the probe workload grows with the
    * corpus exactly the way a production ingest does — and the planted
    * near-dup families straddle the split at every fixture sf, so the op
    * can never pass vacuously. */
  private[ops] val IncrMod = 5L
  private[ops] val IncrRem = 0L

  /** Builds actually performed — the reuse spec's observable. */
  private[graft] var bandIndexBuildCount = 0

  /** Build (once per source dir) the PERSISTED corpus band index: one row
    * per (corpus exact-dup GROUP, band) carrying the raw signature
    * 4-tuple, an internal 64-bit bucket handle `bkey`, and the group's
    * members + verification set, written as a table
    * BUCKETED AND SORTED on bkey — the write-once storage decision that
    * turns every later ingest probe into a ONE-SIDED shuffle: the index
    * side scans pre-placed, pre-sorted buckets with NO Exchange (the
    * joinBucketed idiom, PlanSpec-gated), and only the incoming shard
    * is hashed across the cluster. At 100 TB this is the difference
    * between re-pairing the whole corpus per ingest and reading the
    * buckets the new shard actually touches. Indexing GROUPS, not docs,
    * is the replica-proofing the jaccard pass already has: a replica
    * family is one index row per band, not r rows sharing a bucket, so
    * probe candidate mass can never go r². bkey is an internal join
    * handle (xxhash64 of the tuple — engine-private is fine here): a
    * collision can only ADD a candidate pair, and exact-Jaccard
    * verification discards it, so op outputs stay hash-choice-free and
    * fully oracled. */
  private[ops] def ensureBandIndex(spark: SparkSession, dir: String): String = {
    val tbl = "graft_mh_idx_" + Integer.toHexString(dir.hashCode)
    graft.OpCaches.once(spark, dir + "#band", "band_index") { out =>
      // a table of that name from an earlier build points at a released dir
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      // cache: the grouping (two wide shuffles) feeds both the sig
      // join and the members/hs join below — uncached, Catalyst
      // re-derives it per reference
      val groups = graft.OpCaches.cached(
        groupsOf(cappedPosting(spark, dir)
          .filter(col("doc_id") % IncrMod =!= IncrRem)))
      minhashBands(minhashSig(spark, dir)
          .join(groups.select(col("rep_id").as("doc_id")), "doc_id"))
        .withColumnRenamed("doc_id", "rep_id")
        .join(groups.select(col("rep_id"), col("members"), col("hs")),
          "rep_id")
        .withColumn("bkey", xxhash64(col("band"), col("k1"), col("k2"),
          col("k3"), col("k4")))
        .write.mode("overwrite").option("path", out)
        .bucketBy(8, "bkey").sortBy("bkey")
        .saveAsTable(tbl)
      bandIndexBuildCount += 1
    }
    tbl
  }

  /** Delete every persisted band index: the session release
    * ([[graft.OpCaches.releaseSession]]). */
  def releaseBandIndexes(): Unit = graft.OpCaches.releaseSession()

  /** dedup_index_build: build the persisted corpus band index and report
    * it AS READ FROM DISK — (n_docs, n_reps, n_band_rows, n_buckets), the
    * group collapse visible as n_docs vs n_reps. The gate
    * proves the on-disk index equals the signature chain (the DuckDB
    * oracle recomputes it from the raw shingles), which is the invariant
    * every later [[dedupIncremental]] probe depends on — the
    * sim_index_build idiom applied to dedup. */
  def dedupIndexBuild(spark: SparkSession, dir: String): DataFrame = {
    val tbl = ensureBandIndex(spark, dir)
    totalOrder(spark.table(tbl)
      .agg(
        coalesce(sum(when(col("band") === 0, size(col("members")))
          .otherwise(0)).cast("long"), lit(0L)).as("n_docs"),
        countDistinct(col("rep_id")).as("n_reps"),
        count(lit(1)).as("n_band_rows"),
        countDistinct(col("band"), col("k1"), col("k2"), col("k3"), col("k4"))
          .as("n_buckets")))
  }

  /** dedup_incremental: the production ingest shape — dedup an incoming
    * shard AGAINST the indexed corpus without ever re-pairing the corpus
    * with itself. The shard's band rows probe the persisted bucketed
    * index on `bkey` (single-key equi-join: the index side's bucket
    * layout satisfies the join's distribution, so it scans with no
    * Exchange; only the shard shuffles), candidate (corpus, new) pairs
    * are verified by exact Jaccard >= 0.3 over the capped sets, and the
    * emitted survivors are the shard rows that must NOT enter the corpus.
    * Corpus-internal pairs are by-construction absent (they were settled
    * when the corpus was indexed); shard-internal dedup is the next
    * index build's business. Fully oracled: DuckDB re-derives the corpus
    * split, the band join, and the verification from the raw shingles. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val idx = spark.table(ensureBandIndex(spark, dir))
    // the shard collapses ITS exact dups the same way the index did (the
    // per-side split keeps straddling replica families apart — that's the
    // cross-side mass the probe exists to find)
    val sGroups = groupsOf(cappedPosting(spark, dir)
      .filter(col("doc_id") % IncrMod === IncrRem))
      .transform(graft.OpCaches.cached)
    val probe = minhashBands(minhashSig(spark, dir)
        .join(sGroups.select(col("rep_id").as("doc_id")), "doc_id"))
      .withColumn("bkey", xxhash64(col("band"), col("k1"), col("k2"),
        col("k3"), col("k4")))
    // merge hint: at production scale the shard is never broadcastable
    // (20% of the corpus), so the demonstrated plan is the sort-merge on
    // bkey whose index side reads pre-sorted buckets — without the hint,
    // small-fixture AQE would flip to a broadcast and the plan under test
    // would not be the plan that runs at 100 TB
    val cand = probe.as("b").hint("merge")
      .join(idx.select(col("bkey"), col("rep_id").as("rc")), Seq("bkey"))
      .select(col("rc"), col("doc_id").as("rs"))
      .distinct()
    // group info re-joins at candidate size: band=0 rows are the index's
    // one-per-group sidecar view
    val cInfo = idx.filter(col("band") === 0)
      .select(col("rep_id").as("rc"), col("members").as("mc"),
        col("hs").as("hs_c"))
    val sInfo = sGroups
      .select(col("rep_id").as("rs"), col("members").as("ms"),
        col("hs").as("hs_s"))
    val ver = cand.join(cInfo, "rc").join(sInfo, "rs")
      .withColumn("inter", size(array_intersect(col("hs_c"), col("hs_s"))))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("hs_c")) + size(col("hs_s")) - col("inter")))
      .filter(col("jaccard") >= 0.3)
    // expand group pairs back to doc pairs — OUTPUT-sized, the
    // expandPairs discipline
    totalOrder(ver
      .select(explode(col("mc")).as("corpus_id"), col("ms"), col("jaccard"))
      .select(col("corpus_id"), explode(col("ms")).as("new_id"),
        col("jaccard")))
  }

  /** SimHash (SURVEY §2.10 dedup_simhash): 60-bit signature by per-bit
    * majority vote over token hashes, fused
    * into the custom codegen'd [[graft.functions.SimHash64]] expression —
    * one primitive loop per document, ZERO shuffle (the declarative
    * explode(tokens)×explode(bits) → two-level hash-agg formulation it
    * replaces shuffled tokens×63 rows; at 100 TB that shuffle alone dwarfs
    * the scan). Token hashes are the cross-engine [[md5w]] word (60 bits —
    * the three high bits of the 63 the expression votes on are constant 0,
    * so the signature occupies bits 0..59), which makes the whole op
    * DuckDB-reproducible: the oracle re-derives each signature with a
    * per-bit list fold (round-10 verdict item 1 — previously rows-only on
    * xxhash64). Bucket = the top 16 bits of the
    * 60-bit signature (bits 44..59), i.e. `simhash >> 44`. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    totalOrder(simhashFrame(spark, dir)
      .withColumn("bucket16", shiftright(col("simhash"), 44))
      .select(col("doc_id"), col("simhash"), col("bucket16")))

  private def simhashFrame(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.{md5Words, simHash64}
    val toks = Text.tokens(col("text"))
    load(spark, dir, "documents")
      .select(col("doc_id"),
        simHash64(spark,
          transform(array_distinct(toks),
            t => element_at(md5Words(spark, t), 1))).as("simhash"))
  }

  /** SimHash near-dup PAIRS via banded Hamming LSH (the second half of the
    * simhash op — signatures alone don't dedup): a 60-bit signature over
    * the df-CAPPED SHINGLE hashes (a unigram-distribution simhash is
    * useless on a shared-vocabulary corpus — every doc carries nearly the
    * same token histogram; the capped shingle vocabulary is doc-
    * discriminative, and it is the same feature set Jaccard/MinHash verify
    * against, so the three sketches are comparable). Banding is the
    * Manku-style block-pair scheme (WWW'07 §3): the 60 bits split into 6
    * blocks of 10, and each of the C(6,2) = 15 block PAIRS forms a 20-bit
    * band key — at Hamming ≤ 4 at most 4 blocks are dirty, so ≥ 2 blocks
    * agree exactly and their pair-band matches (a flat 4-band cut only
    * guarantees ≤ 3, and real near-identical long docs land at 4+: thin
    * majority margins flip ~1 bit per differing shingle). Candidates are
    * verified with the exact popcount of the
    * XOR, kept at Hamming ≤ 6 (random shingle sets sit at ~30±4; ≤4 is
    * what the banding recalls with certainty, 5-6 probabilistically). Band
    * buckets over 64 docs are degenerate and dropped — the MaxShingleDf
    * idiom. Hashing is the cross-engine [[md5w]] word, so the full chain
    * (signature → bands → cap → popcount verify) carries a DuckDB hash
    * oracle (round-10 verdict item 1); precision/recall spec retained. */
  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val kept = simhashBandRows(spark, dir)
      .filter(col("cnt") <= bandBucketCap(nDocs(spark, dir)))
    val cand = kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
    totalOrder(cand
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 6)
      .select(col("id_a"), col("id_b"), col("hamming")))
  }

  /** The C(6,2) block-pair index list shared by the Spark plan and the
    * DuckDB oracle — order is the band label in both engines. */
  private val simhashBlockPairs: Seq[(Int, Int)] =
    for { i <- 0 until 6; j <- i + 1 until 6 } yield (i, j)

  /** The pre-cap band rows of [[dedupSimhashPairs]] — (doc_id, simhash,
    * band, key, cnt) with cnt the bucket size; the pair op keeps cnt ≤ 64,
    * the cap-stats audit aggregates the whole frame. */
  private def simhashBandRows(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.simHash64
    val sigs = cappedPosting(spark, dir)
      .groupBy(col("doc_id")).agg(collect_list(col("h")).as("hs"))
      .select(col("doc_id"), simHash64(spark, col("hs")).as("simhash"))
    val bands = sigs.select(col("doc_id"), col("simhash"),
      explode(array(simhashBlockPairs.zipWithIndex.map { case ((i, j), bi) =>
        struct(lit(bi).as("band"),
          (shiftright(col("simhash"), i * 10).bitwiseAND(lit(1023L)) * 1024L +
            shiftright(col("simhash"), j * 10).bitwiseAND(lit(1023L)))
            .as("key"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.key").as("key"))
    val wB = Window.partitionBy(col("band"), col("key"))
    bands.withColumn("cnt", count(lit(1)).over(wB))
  }

  /** Embedding-cosine near-dup (SURVEY §2.10): semantic duplicates via the
    * embeddings table. Candidate pairs come from the banded sign-LSH shared
    * with sim_cosine_lsh ([[SignLsh]]: 16 bands × 8 deterministic hyperplane
    * bits, bucket cap + full-signature overflow refinement ⇒ candidates are
    * Bands·n·cap/2 — linear in n, never n²); only candidates pay the exact
    * cosine verify. A pair is a near-dup at cosine ≥ 0.45 (the fixture
    * embeddings are near-orthogonal random vectors, so the tail above 0.45
    * is the "same document re-embedded" analog); the canonical survivor is
    * the lower doc id. */
  def dedupEmbcos(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.vecDot
    val base = SignLsh.withKeys(spark, dir).transform(graft.OpCaches.cached)
    totalOrder(SignLsh.candidates(base)
      .join(base.select(col("vec_id").as("id_a"),
        col("embedding").as("ea"), col("nrm").as("na")), "id_a")
      .join(base.select(col("vec_id").as("id_b"),
        col("embedding").as("eb"), col("nrm").as("nb")), "id_b")
      .withColumn("cosine",
        vecDot(spark, col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.45)
      .select(col("id_a").as("canonical_id"), col("id_b").as("dup_id"),
        col("cosine")))
  }

  /** Cluster survivorship (the second half of dedup — pair emission alone
    * doesn't say which rows to keep): connected components over the
    * near-dup pair graph by iterative min-id label propagation (the
    * dataframe form of Pregel CC: each round a node adopts the smallest
    * label among itself and its neighbors; rounds ≤ component diameter —
    * near-dup clusters are near-cliques, so 2-3 in practice). The canonical
    * survivor of a component is its smallest doc_id. Only nodes that appear
    * in a pair participate; singletons are trivially their own survivor.
    * The driver-side loop materializes one change-count per round — the
    * standard iterative-CC shape; at cluster scale each round is one
    * shuffle on the node id and lineage is cut by the per-round cache. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // CC runs at exact-dup-GROUP grain, never over the expanded doc-pair
    // graph (the round-12 sf30 probe finding: the expanded graph carries
    // C(r,2) within-group edges per replica family — quadratic in the
    // replication factor r — checkpointed and re-shuffled every
    // propagation round, for an output that is only n docs; 719 s at
    // sf30 vs 101 s at sf10, n^1.79). Identical kept-shingle sets are
    // jaccard-1 to every counterpart, so a whole group shares its
    // representative's component, the component's canonical id IS the
    // min rep id (each rep is its group's min doc id), and cluster size
    // is Σ group sizes — the expansion is pure arithmetic at OUTPUT
    // grain. Rep pairs are lineage-CUT (Tables.lineageCut), not cached:
    // every propagation round references the prior frame several times,
    // and without truncation the Jaccard pipeline would replay
    // ~2^rounds times (measured: 205 s → 11 s at sf0.1).
    val groups = shingleGroups(spark, dir)
    val rpairs = verifiedRepPairs(groups)
      .select(col("ra").as("id_a"), col("rb").as("id_b"))
      .transform(lineageCut)
    val repCc = clusterSurvivorship(spark, rpairs, "rep_id")
      .select(col("rep_id"), col("canonical_id"))
    // participating docs: groups whose rep has a near-dup edge, plus
    // multi-member groups (their within-pairs put them in the graph even
    // without a cross edge); singleton groups with no edge stay out —
    // the same node set the doc-grain CC produced
    val edged = groups.join(repCc, Seq("rep_id"), "left")
      .withColumn("lbl", coalesce(col("canonical_id"), col("rep_id")))
      .filter(col("canonical_id").isNotNull || col("m") >= 2)
    val sizes = edged.groupBy(col("lbl"))
      .agg(sum(col("m")).as("cluster_size"))
    totalOrder(edged.join(sizes, "lbl")
      .select(explode(col("members")).as("doc_id"),
        col("lbl").as("canonical_id"), col("cluster_size"))
      .withColumn("is_survivor", col("doc_id") === col("canonical_id"))
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"),
        col("is_survivor")))
  }

  /** Min-id connected components + survivorship columns over an
    * (id_a, id_b) pair frame — the shared second half of every dedup
    * family (pair emission alone doesn't say which rows to keep). Pairs
    * MUST be lineage-cut ([[graft.Tables.lineageCut]]) by the caller. Returns
    * (<idName>, canonical_id, cluster_size, is_survivor), unsorted. */
  private[ops] def clusterSurvivorship(spark: SparkSession, pairs0: DataFrame,
    idName: String): DataFrame = {
    // the label-propagation frames are |near-dup pairs| rows — orders of
    // magnitude below the corpus — so the iteration shuffles at a width
    // sized to THEM, not the session default (at 100 TB the same rule
    // applies: the pair graph is the small derived structure). The width
    // lives on a CLONED session so it never mutates the caller's conf
    // (safe under concurrent queries); the pair frame (a checkpointed
    // LogicalRDD) is re-hosted into the clone once.
    val s = graft.Tables.sizedSession(spark, 8)
    val pairs = s.createDataFrame(pairs0.rdd, pairs0.schema)
    val sym = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionAll(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .transform(lineageCut)
    // AQE gate on the MATERIALIZED graph size: below the threshold every
    // per-round stage is a tiny fixed-width shuffle where adaptive
    // per-stage re-planning/scheduling costs more wall-clock than it can
    // recover (measured ~20% of the cluster queries at sf0.1); above it
    // the pair graph is big enough that AQE's skew-split (hot labels in
    // the propagation join) and partition coalescing earn their keep.
    // Plan shape is the only thing that changes — labels are
    // bit-identical. The probe must be FREE (round-14 finding: a SQL
    // `sym.count()` is its own 2-stage AQE query — agg + SinglePartition
    // exchange — and on the small cluster ids it cost more than the gate
    // saved): sym is a checkpointed LogicalRDD, so counting its
    // `queryExecution.toRdd` is ONE narrow job over the already-cached
    // blocks — no exchange, no AQE compile, no SQL machinery. The no-op
    // select builds a fresh Dataset per attempt (see retryInternalOnce);
    // the optimizer drops it, so the probe stays that one narrow job.
    val aqeGate = 4L * 1000 * 1000
    val symRows = graft.Tables.retryInternalOnce("cc graph size probe")(
      sym.select(col("a"), col("b")).queryExecution.toRdd.count())
    s.conf.set("spark.sql.adaptive.enabled", (symRows >= aqeGate).toString)
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")).transform(lineageCut)
    var changed = 1L
    while (changed > 0) {
      val nbrMin = sym.join(labels, sym("b") === labels("id"))
        .groupBy(col("a").as("nid")).agg(min(col("lbl")).as("nlbl"))
      // prop is read twice by the pointer-jump self-join, but its subtree
      // is SHALLOW (both inputs are checkpointed LogicalRDDs), so paying
      // the recompute beats an extra eager checkpoint job per round —
      // only `next` needs the lineage cut (it seeds the following round)
      val prop = labels.withColumnRenamed("lbl", "prev")
        .join(nbrMin, col("id") === col("nid"), "left")
        .select(col("id"), col("prev"),
          least(col("prev"), coalesce(col("nlbl"), col("prev"))).as("lbl"))
      // pointer-jump (path halving): also adopt the label OF your label —
      // chain-shaped components converge in ~log(diameter) rounds instead
      // of diameter rounds (the labels-only self-join is tiny)
      val next = prop.join(
          prop.select(col("id").as("jid"), col("lbl").as("jlbl")),
          col("lbl") === col("jid"))
        .select(col("id"), col("prev"), least(col("lbl"), col("jlbl")).as("lbl"))
        .transform(lineageCut)
      // the convergence probe is a fresh tiny count each round — the one
      // observed strike point of the rare resetMetrics/null-session race
      // (see Tables.retryInternalOnce); counting is idempotent, retry once
      changed = graft.Tables.retryInternalOnce("cc convergence count")(
        next.filter(col("lbl") =!= col("prev")).count())
      labels = next.select(col("id"), col("lbl"))
    }
    val sizes = labels.groupBy(col("lbl").as("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels
      .select(col("id").as(idName), col("lbl").as("canonical_id"))
      .join(sizes, "canonical_id")
      .withColumn("is_survivor", col(idName) === col("canonical_id"))
      .select(col(idName), col("canonical_id"), col("cluster_size"),
        col("is_survivor"))
  }

  /** Semantic-duplicate clusters: the same survivorship pass over the
    * EMBEDDING-cosine pair graph ([[dedupEmbcos]]'s banded sign-LSH
    * candidates) — textually distinct but semantically near-identical
    * documents collapse to one survivor per component. Composition of the
    * two scale paths: bounded LSH candidate pairs → tiny CC iteration. */
  def dedupEmbcosClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupEmbcos(spark, dir)
      .select(col("canonical_id").as("id_a"), col("dup_id").as("id_b"))
      .transform(lineageCut)
    totalOrder(clusterSurvivorship(spark, pairs, "vec_id"))
  }

  /** Tokens per span window for sub-paragraph dedup: a "paragraph" that
    * blank-line splitting leaves long (or a single-line document, where it
    * yields the whole text) is chunked into consecutive W-token windows so
    * repeated SPANS dedup even when the enclosing paragraphs differ. */
  private[ops] val SpanTokens = 8

  /** Max distinct-document frequency for a span to survive: a span seen in
    * more documents than this is boilerplate and is stripped. */
  private[ops] val MaxSpanDf = 1

  /** One row per (doc, paragraph, window) span: blank-line paragraphs,
    * each chunked into [[SpanTokens]]-token windows (`p_pos`/`w_pos` keep
    * the rebuild order; `span` is the window's whitespace-normalized
    * text). The two posexplodes stay row-local — no shuffle. */
  private def spanRows(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n{2,}")).as(Seq("p_pos", "par")))
      .filter(trim(col("par")) =!= "")
      .withColumn("toks",
        filter(split(col("par"), "\\s+"), t => t =!= ""))
      .select(col("doc_id"), col("p_pos"), posexplode(
        transform(
          sequence(lit(0), expr(s"CAST((size(toks) - 1) DIV $SpanTokens AS INT)")),
          w => array_join(
            slice(col("toks"), w * SpanTokens + 1, lit(SpanTokens)), " ")))
        .as(Seq("w_pos", "span")))

  /** Paragraph/span-level exact dedup (the "deduplicating training data"
    * operator family, SURVEY §2.10): document-level near-dup keeps one
    * copy of a duplicated DOCUMENT, but training pipelines also strip
    * REPEATED SPANS — license headers, boilerplate footers, quoted
    * passages — that recur across otherwise-distinct documents. Each
    * document splits into blank-line paragraphs, each paragraph into
    * [[SpanTokens]]-token windows; a span whose md5 occurs in more than
    * [[MaxSpanDf]] DISTINCT documents is stripped everywhere, and the
    * cleaned text is rebuilt in order (spans joined by ' ', paragraphs by
    * a blank line). Output per document: span totals, drop count, and the
    * cleaned text's length + md5 (the byte-exact oracle handle, the
    * text_pii_scrub idiom).
    *
    * Scale: the df count shuffles 16-byte md5s + doc ids, never span
    * text; the drop SET (only spans with df>cap — boilerplate, orders of
    * magnitude below the span count) broadcasts into a LEFT ANTI join, so
    * the corpus-sized span frame is never shuffled for the filter. At
    * 100 TB the drop set outgrows a broadcast and the anti-join becomes a
    * shuffle on the 16-byte hash — still never the text. The rebuild
    * itself is the one inherent corpus shuffle (group back to documents).
    * The reference curates hot-intake documents but has no span dedup;
    * the operator follows the public "Deduplicating Training Data Makes
    * Language Models Better" recipe re-expressed relationally. */
  def dedupParagraph(spark: SparkSession, dir: String): DataFrame = {
    val sp = spanRows(spark, dir)
      .withColumn("h", md5(col("span")))
      .transform(graft.OpCaches.cached)
    val drop = sp.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > MaxSpanDf).select(col("h"))
    val kept = sp.join(broadcast(drop), Seq("h"), "left_anti")
    val rpars = kept.groupBy(col("doc_id"), col("p_pos"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("w_pos"), col("span")))),
          x => x("span")), " ").as("cpar"),
        count(lit(1)).as("n_kept_w"))
    val rebuilt = rpars.groupBy(col("doc_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("p_pos"), col("cpar")))),
          x => x("cpar")), "\n\n").as("clean_text"),
        sum(col("n_kept_w")).as("n_kept"))
    val totals = sp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    totalOrder(load(spark, dir, "documents").select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_spans"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        length(coalesce(col("clean_text"), lit(""))).as("clean_len"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5")))
  }

  /** Corpus-level span duplication histogram (the audit face of
    * [[dedupParagraph]]): for each distinct-document frequency, how many
    * distinct spans occur in exactly that many documents and how many
    * total instances they account for — the "how much boilerplate does
    * this corpus carry" question, and the tuning curve for
    * [[MaxSpanDf]]. One hash-agg over md5s; span text never shuffles. */
  def dedupSpanStats(spark: SparkSession, dir: String): DataFrame =
    totalOrder(spanRows(spark, dir)
      .select(col("doc_id"), md5(col("span")).as("h"))
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .groupBy(col("n_docs"))
      .agg(count(lit(1)).as("n_spans"), sum(col("n_occ")).as("n_occurrences")))

  /** Island-merge gap for [[dedupSubstring]]: two duplicated prints at
    * token distance ≤ w+k−1 sit inside one shared run under the winnowing
    * coverage bound (window [[Text.WinnowW]] over 3-token shingles), so
    * their spans merge. */
  private val SubstringGap = Text.WinnowW + 3 - 1

  /** Cross-document duplicated-SUBSTRING localization (the span-level
    * twin of document dedup — the "Deduplicating Training Data Makes
    * Language Models Better" operator at substring grain, built on the
    * MOSS index): a winnowed fingerprint ([[Text.winnowedPrints]] —
    * Schleimer et al. 2003) selected by ≥2 DISTINCT documents marks a
    * shared token run, offset-robust where [[dedupParagraph]]'s fixed
    * windows require grid alignment; per document, duplicated print
    * positions within [[SubstringGap]] tokens of each other merge into
    * one span (gaps-and-islands over ONE per-doc ordered window), and
    * each span covers [min pos, max pos + k−1]. Output is span grain:
    * (doc_id, span_start, span_end, n_prints, span_tokens) — exactly what
    * a span-removal rewrite consumes.
    *
    * Scale shape: prints are a ~2/(w+1) fraction of tokens (map-side,
    * embarrassingly parallel); the duplicated-print detection is one
    * hash-agg on the 8-byte fp + a semi-join back (never the text); the
    * island merge is a window PARTITIONED BY doc_id — every document
    * sorts its own handful of prints in parallel. No step is quadratic in
    * anything: the op never forms document PAIRS at all, which is what
    * lets substring dedup run where pairwise near-dup mining is already
    * capped. The reference curates documents but has no substring dedup
    * (its whole pipeline is ingest, `loader.py`); this follows the
    * published recipe re-expressed relationally. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    totalOrder(substringSpans(spark, dir)
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_prints"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens")))

  /** The merged duplicated-substring span set of [[dedupSubstring]],
    * unsorted — (doc_id, span_start, span_end, n_prints); shared with the
    * rewrite face [[dedupSubstringRewrite]]. */
  private def substringSpans(spark: SparkSession, dir: String): DataFrame = {
    val prints = Text.winnowedPrints(load(spark, dir, "documents"))
      .transform(graft.OpCaches.cached)
    val dupFp = prints.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("fp"))
    val hits = prints.join(dupFp, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("pos")).distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("new_isle",
        when(col("pos") - lag(col("pos"), 1).over(w) <= SubstringGap, 0L)
          .otherwise(1L))
      .withColumn("isle", sum(col("new_isle")).over(w))
      .groupBy(col("doc_id"), col("isle"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + 2L).as("span_end"),
        count(lit(1)).as("n_prints"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_prints"))
  }

  /** The REWRITE face of [[dedupSubstring]] — actually remove the
    * duplicated spans and rebuild the cleaned token stream (the second
    * half of the Lee et al. '22 recipe: locate, then cut). Per document:
    * token positions covered by any of its merged spans are dropped, the
    * survivors re-join in order, and the cleaned text ships as length +
    * md5 (the byte-exact oracle handle, [[dedupParagraph]]'s idiom — the
    * rebuild is of the TOKEN stream, since the tokenizer is lossy by
    * design). Documents with no duplicated spans pass through whole, so
    * the output is exactly corpus-grain.
    *
    * Scale shape: the span list per doc is boilerplate-sized (a handful
    * of (s,e) structs), collected by one doc-keyed hash-agg and joined
    * back — the only corpus-wide shuffle; the cut itself is a per-row
    * positional array filter (nested lambda, codegen'd), never a second
    * pass over text. */
  def dedupSubstringRewrite(spark: SparkSession, dir: String): DataFrame = {
    val sp = substringSpans(spark, dir)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("sp"))
    val toks = Text.tokens(col("text"))
    totalOrder(load(spark, dir, "documents")
      .select(col("doc_id"), toks.as("t"))
      .join(sp, Seq("doc_id"), "left")
      // Spark's array-filter index is 0-based where the span positions
      // are 1-based token positions, hence i+1
      .withColumn("clean", when(col("sp").isNull, col("t"))
        .otherwise(filter(col("t"), (x, i) =>
          !exists(col("sp"), r =>
            (i + 1) >= r.getField("s") && (i + 1) <= r.getField("e")))))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("clean")).cast("long").as("n_kept"),
        (size(col("t")) - size(col("clean"))).cast("long").as("n_dropped"),
        length(array_join(col("clean"), " ")).cast("long").as("clean_len"),
        md5(array_join(col("clean"), " ")).as("clean_md5"))
      // cached: the positional cut + md5 rebuild is map-only above the
      // total-order sort, whose sampling pass would re-run it per doc
      .transform(graft.OpCaches.cached))
  }

  /** Cross-MODAL dedup clusters: connected components over the UNION of
    * the textual near-dup pair graph ([[jaccardPairs]]) and the semantic
    * pair graph ([[dedupEmbcos]]'s embedding-cosine pairs) — what a
    * production curation pipeline actually runs, since surface rewrites
    * escape text similarity and boilerplate escapes embeddings; a
    * document pair caught by EITHER signal collapses into one cluster
    * and one survivor. Both edge generators are the existing bounded
    * LSH/inverted-index candidate paths (never n²); the union is edge
    * lists only, then the shared min-label CC survivorship runs once over
    * the combined graph. doc_id and vec_id are the same key space (the
    * embeddings table is one vector per document). */
  def dedupMultimodalClusters(spark: SparkSession, dir: String): DataFrame = {
    // the textual side contributes SPANNING edges, not the expanded pair
    // list: connectivity (and so the CC result) is identical, but the
    // union graph stays linear in docs where the expansion is quadratic
    // in the exact-dup replication factor (round-12 sf30 finding)
    val textPairs = jaccardSpanningEdges(spark, dir)
    val embPairs = dedupEmbcos(spark, dir)
      .select(col("canonical_id").as("id_a"), col("dup_id").as("id_b"))
    val pairs = textPairs.unionByName(embPairs).distinct()
      .transform(lineageCut)
    totalOrder(clusterSurvivorship(spark, pairs, "doc_id"))
  }

  /** Cross-source duplication matrix (corpus forensics): for every pair of
    * sources, how many NEAR-duplicate document pairs they share — the "who
    * copies from whom" question every corpus audit asks. Rides the bounded
    * inverted-index pair list of [[dedupNgramJaccard]] (never n²); the two
    * source lookups are joins on doc_id against a two-column projection.
    * Unordered source pairs; the diagonal is intra-source duplication. */
  def dedupCrossSource(spark: SparkSession, dir: String): DataFrame = {
    val src = load(spark, dir, "documents").select(col("doc_id"), col("source"))
    totalOrder(jaccardPairs(spark, dir).select(col("id_a"), col("id_b"))
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .groupBy(
        least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .agg(count(lit(1)).as("n_dup_pairs")))
  }

  /** Cap-drop accounting for the shingle df cap (the "no silent caps"
    * audit family — the [[dedupSpanStats]] idiom applied to every capped
    * candidate generator): how many distinct shingles the
    * [[MaxShingleDf]] cap discards, the posting rows they carried, and the
    * candidate-pair mass routed through them (Σ df·(df−1)/2 — an upper
    * bound on pairs lost to the cap, since a pair may also meet via a
    * surviving shingle). df is counted on the shingle STRING, matching the
    * main op's oracle semantics (the engine's xxhash64 grouping is
    * identical modulo 64-bit collisions). One hash-agg; shingle text never
    * rides a shuffle wider than the df count itself. */
  def dedupNgramCapStats(spark: SparkSession, dir: String): DataFrame = {
    val cap = shingleDfCap(nDocs(spark, dir))
    val dfreq = shingled(spark, dir)
      .select(explode(col("shingles")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    totalOrder(dfreq.agg(
      count(lit(1)).as("n_shingles"),
      coalesce(sum(when(col("df") > cap, 1L).otherwise(0L)), lit(0L))
        .as("n_dropped_shingles"),
      coalesce(sum(when(col("df") > cap, col("df")).otherwise(0L)),
        lit(0L)).as("n_dropped_postings"),
      coalesce(expr(s"CAST(sum(CASE WHEN df > $cap THEN " +
        "df * (df - 1) ELSE 0 END) DIV 2 AS BIGINT)"), lit(0L))
        .as("n_dropped_pairs")))
  }

  /** Cap-drop accounting for [[dedupEmbcos]]' banded sign-LSH (and
    * [[Vectors.simCosineLsh]], which shares [[SignLsh]]): band rows, rows
    * sent through full-signature refinement (raw bucket > cap), rows
    * DROPPED after refinement (refined bucket still > cap), and the
    * candidate-pair mass those dropped buckets would have generated.
    * Deterministic plane bank ⇒ full DuckDB oracle — the audit itself is
    * hash-pinned. */
  def dedupEmbcosCapStats(spark: SparkSession, dir: String): DataFrame = {
    val d = SignLsh.keptDetail(
      SignLsh.withKeys(spark, dir).transform(graft.OpCaches.cached))
    totalOrder(d.agg(
      count(lit(1)).as("n_band_rows"),
      coalesce(sum(when(col("cnt1") > SignLsh.BucketCap, 1L).otherwise(0L)),
        lit(0L)).as("n_refined_rows"),
      coalesce(sum(when(col("cnt2") > SignLsh.BucketCap, 1L).otherwise(0L)),
        lit(0L)).as("n_dropped_rows"),
      coalesce(expr(s"CAST(sum(CASE WHEN cnt2 > ${SignLsh.BucketCap} THEN " +
        "cnt2 - 1 ELSE 0 END) DIV 2 AS BIGINT)"), lit(0L))
        .as("n_dropped_pairs")))
  }

  /** Cap-drop accounting for [[dedupSimhashPairs]]' Hamming-LSH bands:
    * band rows, rows in over-cap buckets (dropped), and the candidate-pair
    * mass those buckets carried. Fully oracled since the md5 port (round
    * 11 — the DuckDB twin re-derives the band rows from raw shingles),
    * plus the spec asserting the fixture leaves the cap untouched
    * (so the pair op's recall is not cap-limited where the oracle can't
    * see it). */
  def dedupSimhashCapStats(spark: SparkSession, dir: String): DataFrame = {
    val cap = bandBucketCap(nDocs(spark, dir))
    // coalesce: an EMPTY band frame (upstream shingle-df cap saturated,
    // e.g. a wholly replicated corpus) must audit as zeros, not NULLs
    totalOrder(simhashBandRows(spark, dir).agg(
      count(lit(1)).as("n_band_rows"),
      coalesce(sum(when(col("cnt") > cap, 1L).otherwise(0L)), lit(0L))
        .as("n_dropped_rows"),
      coalesce(expr(s"CAST(sum(CASE WHEN cnt > $cap THEN cnt - 1 ELSE 0 END) " +
        "DIV 2 AS BIGINT)"), lit(0L)).as("n_dropped_pairs")))
  }

  /** Audit sample size for [[dedupRecallReport]]: the N smallest ids of
    * each table. Pinned like the kNN tiers' |Q| — and scale-INVARIANT
    * under the evidence fixtures' replication rule (copies take ids above
    * the base max), so the truth sets are identical at every sf and the
    * report can never pass vacuously at scale. */
  private[ops] val RecallSampleN = 500

  /** The dedup evaluation harness — [[Vectors.simRecallReport]]'s twin
    * for the dedup families: recall AND precision of each oracle-able
    * candidate generator against cap-free ground truth, on a pinned
    * id-sample. Tiers: the df-capped inverted-index Jaccard pass
    * ([[dedupNgramJaccard]]) and the minhash banding pass
    * ([[minhashPairs]] — same jaccard ≥ 0.3 contract, so df-cap loss and
    * banding-probability loss are measured against ONE truth) both vs
    * UNCAPPED exact Jaccard ≥ 0.3; the banded
    * sign-LSH pass ([[dedupEmbcos]]) and the SemDeDup k-means blocking
    * ([[Vectors.semanticPairGraph]]) each vs exact all-pairs cosine
    * ≥ 0.45 — the two embedding generators against ONE truth, so their
    * recall is directly comparable (the LSH-bands-vs-trained-cells
    * question SemDeDup's paper leaves to the deployment). Production
    * tiers run CORPUS-WIDE exactly as published (their pairs are only
    * FILTERED to the sample); truth is exact within the sample, whose
    * cost is a constant (≤ [[RecallSampleN]]² dots / Σdf² postings) at
    * any corpus size — the same "pin the audit, scale the corpus"
    * posture as the kNN tiers. Counts are exact longs and each rate is
    * one IEEE division, so the quality numbers themselves are
    * differentially pinned. */
  def dedupRecallReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.vecDot
    val dL = load(spark, dir, "documents").select(col("doc_id"))
      .orderBy(col("doc_id")).limit(RecallSampleN)
      .agg(max(col("doc_id"))).head.getLong(0)
    val vL = load(spark, dir, "embeddings").select(col("vec_id"))
      .orderBy(col("vec_id")).limit(RecallSampleN)
      .agg(max(col("vec_id"))).head.getLong(0)

    // ngram truth: UNCAPPED exact Jaccard within the doc sample — raw
    // shingle strings (not the production xxhash64 postings), because
    // truth must be hash-free
    val spost = shingled(spark, dir).filter(col("doc_id") <= dL)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .transform(graft.OpCaches.cached)
    val tsz = spost.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val truthNgram = spost.select(col("doc_id").as("id_a"), col("sh"))
      .join(spost.select(col("doc_id").as("id_b"), col("sh")), "sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      .join(tsz.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(tsz.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .filter(col("inter").cast(DoubleType) /
        (col("na") + col("nb") - col("inter")) >= 0.3)
      .select(col("id_a"), col("id_b"))

    // embedding truth: exact all-pairs cosine within the vec sample
    // (bounded nested-loop: ≤ RecallSampleN² candidate dots, constant)
    val sv = load(spark, dir, "embeddings").filter(col("vec_id") <= vL)
      .withColumn("nrm",
        sqrt(vecDot(spark, col("embedding"), col("embedding"))))
      .transform(graft.OpCaches.cached)
    val truthCos = sv.select(col("vec_id").as("id_a"),
        col("embedding").as("ea"), col("nrm").as("na"))
      .join(sv.select(col("vec_id").as("id_b"),
        col("embedding").as("eb"), col("nrm").as("nb")),
        col("id_a") < col("id_b"))
      .filter(vecDot(spark, col("ea"), col("eb")) /
        (col("na") * col("nb")) >= 0.45)
      .select(col("id_a"), col("id_b"))
      .transform(graft.OpCaches.cached)

    val ng = jaccardPairs(spark, dir)
      .filter(col("id_a") <= dL && col("id_b") <= dL)
      .select(col("id_a"), col("id_b"))
    // the minhash banding tier shares the ngram truth: both generate
    // candidates for the SAME jaccard >= 0.3 contract, so their recall is
    // directly comparable (banding-probability loss vs df-cap loss)
    val mh = minhashPairs(spark, dir)
      .filter(col("id_a") <= dL && col("id_b") <= dL)
      .select(col("id_a"), col("id_b"))
    val el = dedupEmbcos(spark, dir)
      .select(col("canonical_id").as("id_a"), col("dup_id").as("id_b"))
      .filter(col("id_a") <= vL && col("id_b") <= vL)
    val sm = Vectors.semanticPairGraph(spark, dir)._2
      .filter(col("id_a") <= vL && col("id_b") <= vL)

    def row(tier: String, truth: DataFrame, pairs: DataFrame): DataFrame =
      truth.agg(count(lit(1)).as("truth_pairs"))
        .crossJoin(pairs.agg(count(lit(1)).as("tier_pairs")))
        .crossJoin(pairs.join(truth, Seq("id_a", "id_b"))
          .agg(count(lit(1)).as("hits")))
        .select(lit(tier).as("tier"), col("truth_pairs"),
          col("tier_pairs"), col("hits"))

    totalOrder(row("embcos_lsh", truthCos, el)
      .unionByName(row("minhash_lsh", truthNgram, mh))
      .unionByName(row("ngram_capped", truthNgram, ng))
      .unionByName(row("semantic_kmeans", truthCos, sm))
      .withColumn("recall", when(col("truth_pairs") > 0,
        col("hits").cast(DoubleType) / col("truth_pairs")))
      .withColumn("tier_precision", when(col("tier_pairs") > 0,
        col("hits").cast(DoubleType) / col("tier_pairs"))))
  }

  // ----------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_recall_report" -> dedupRecallReport,
    "dedup_ngram_cap_stats" -> dedupNgramCapStats,
    "dedup_embcos_cap_stats" -> dedupEmbcosCapStats,
    "dedup_simhash_cap_stats" -> dedupSimhashCapStats,
    "dedup_cross_source" -> dedupCrossSource,
    "dedup_exact" -> dedupExact,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_containment" -> dedupContainment,
    "dedup_minhash" -> dedupMinhash,
    "dedup_index_build" -> dedupIndexBuild,
    "dedup_incremental" -> dedupIncremental,
    "dedup_simhash" -> dedupSimhash,
    "dedup_simhash_pairs" -> dedupSimhashPairs,
    "dedup_embcos" -> dedupEmbcos,
    "dedup_embcos_clusters" -> dedupEmbcosClusters,
    "dedup_clusters" -> dedupClusters,
    "dedup_paragraph" -> dedupParagraph,
    "dedup_span_stats" -> dedupSpanStats,
    "dedup_substring" -> dedupSubstring,
    "dedup_substring_rewrite" -> dedupSubstringRewrite,
    "dedup_multimodal_clusters" -> dedupMultimodalClusters)

  /** Shared CTE chain reconstructing the hashed span rows of
    * [[spanRows]] (blank-line paragraphs → 8-token windows); ends in
    * `hspans` (doc_id, p_pos, w_pos, span, h). DuckDB's lambda index and
    * `range()` are 1-/0-based exactly as written — positions only order
    * the rebuild, so the Spark/DuckDB base difference is immaterial. */
  private val spanCtes: String =
    """pars AS (
      |  SELECT doc_id, p['i'] AS p_pos, p['x'] AS par FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      regexp_split_to_array(text, '\n{2,}'),
      |      (x, i) -> {'x': x, 'i': i})) AS p
      |    FROM documents)
      |  WHERE trim(p['x']) <> ''),
      |sptoks AS (
      |  SELECT doc_id, p_pos,
      |    list_filter(regexp_split_to_array(par, '\s+'), t -> t <> '') AS t
      |  FROM pars),
      |spans AS (
      |  SELECT doc_id, p_pos, w['i'] AS w_pos, w['x'] AS span FROM (
      |    SELECT doc_id, p_pos, unnest(list_transform(
      |      range(0, (len(t) - 1) // 8 + 1),
      |      w -> {'i': w,
      |            'x': array_to_string(list_slice(t, w*8+1, w*8+8), ' ')})) AS w
      |    FROM sptoks)),
      |hspans AS (
      |  SELECT doc_id, p_pos, w_pos, span, md5(span) AS h FROM spans)""".stripMargin

  /** Shared CTE chain reconstructing the capped-shingle Jaccard pairs
    * (DuckDB twin of [[dedupNgramJaccard]]); ends in `jpairs`
    * (id_a, id_b, inter, jaccard ≥ 0.3). Mirrors the engine's
    * exact-duplicate collapse — identical kept shingle sets are grouped
    * before the pair join and re-expanded afterwards (a provable identity:
    * identical sets have identical jaccard to every counterpart, and
    * within-group pairs are jaccard-1) — because the doc-level join is
    * Σdf² and the oracle must stay runnable at the 10×/30× evidence
    * fixtures where replication inflates that by the duplication factor
    * squared. */
  /** Oracle prefix shared by every capped-shingle consumer (tokens →
    * shingles → capped postings) — the DuckDB twin of [[cappedPosting]]
    * on raw shingle strings (hash-free: string df equals hash df under
    * the collision-free convention). Ends in `capped` (doc_id, sh, df). */
  private val postingCtes: String =
    """tok AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '[^a-z0-9'']+'), t -> t <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(t) - 2, 1) + 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM tok),
      |posting AS (
      |  SELECT doc_id, unnest(s) AS sh FROM sh),
      |capped AS (
      |  SELECT * FROM (
      |    SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df
      |    FROM posting)
      |  WHERE df <= (SELECT GREATEST(20, (COUNT(*) + 249) // 250)
      |               FROM documents))""".stripMargin

  /** DuckDB twin of [[md5w]]: 60-bit word `off` of md5($x). */
  private def sqlMd5w(x: String, off: Int): String =
    s"CAST(('0x' || substring(md5($x), $off, 15))::UBIGINT AS BIGINT)"

  /** DuckDB twin of `h XOR rot60(h2, k)` — MinHash function k. */
  private def sqlRotXor(k: Int): String =
    s"xor(h, ((h2 % (1::BIGINT << ${60 - k})) << $k) | (h2 >> ${60 - k}))"

  /** DuckDB twin of the 60-bit SimHash majority vote over a `hs` list
    * column (the [[graft.functions.SimHash64]] fold, bit by bit). */
  private val sqlSimhash: String =
    """CAST(list_sum(list_transform(range(0, 60), b ->
      |    CASE WHEN 2 * len(list_filter(hs, h -> ((h >> b) & 1) = 1))
      |           > len(hs)
      |    THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)""".stripMargin

  /** Shared oracle prefix (tokens → shingles → capped postings →
    * exact-dup collapse → rep self-join): everything up to the scored
    * measure, mirrored by [[shingleGroups]]/[[repPairsSized]]. */
  private val pairsBaseCtes: String = postingCtes +
    """,
      |dsets AS (
      |  SELECT doc_id, list_sort(list(sh)) AS hs FROM capped GROUP BY doc_id),
      |grp AS (
      |  SELECT hs, MIN(doc_id) AS rep_id, list(doc_id) AS members,
      |    COUNT(*) AS m
      |  FROM dsets GROUP BY hs),
      |rpost AS (
      |  SELECT rep_id, unnest(hs) AS sh FROM grp),
      |rsizes AS (
      |  SELECT rep_id, len(hs) AS n_sh FROM grp),
      |rawpairs AS (
      |  SELECT a.rep_id AS ra, b.rep_id AS rb, COUNT(*) AS inter
      |  FROM rpost a JOIN rpost b
      |    ON a.sh = b.sh AND a.rep_id < b.rep_id
      |  GROUP BY 1, 2),
      |w1 AS (
      |  SELECT len(hs) AS inter, members, unnest(members) AS x
      |  FROM grp WHERE m >= 2),
      |w2 AS (
      |  SELECT x, unnest(members) AS y, inter FROM w1)""".stripMargin

  private val jaccardPairsCtes: String = pairsBaseCtes +
    """,
      |rjac AS (
      |  SELECT ra, rb, inter,
      |    CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
      |  FROM rawpairs
      |  JOIN rsizes sa ON sa.rep_id = ra
      |  JOIN rsizes sb ON sb.rep_id = rb
      |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.3),
      |cx1 AS (
      |  SELECT unnest(ga.members) AS x, gb.members AS mb, r.inter, r.jaccard
      |  FROM rjac r
      |  JOIN grp ga ON ga.rep_id = r.ra
      |  JOIN grp gb ON gb.rep_id = r.rb),
      |cx2 AS (
      |  SELECT x, unnest(mb) AS y, inter, jaccard FROM cx1),
      |jpairs AS (
      |  SELECT LEAST(x, y) AS id_a, GREATEST(x, y) AS id_b, inter, jaccard
      |  FROM cx2
      |  UNION ALL
      |  SELECT x AS id_a, y AS id_b, inter, CAST(1.0 AS DOUBLE) AS jaccard
      |  FROM w2 WHERE x < y)""".stripMargin

  /** Containment twin of [[jaccardPairsCtes]]: same base, scored by
    * inter / min set size at [[ContainmentMin]]. */
  private val containmentPairsCtes: String = pairsBaseCtes +
    s""",
      |rcon AS (
      |  SELECT ra, rb, inter,
      |    CAST(inter AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) AS containment
      |  FROM rawpairs
      |  JOIN rsizes sa ON sa.rep_id = ra
      |  JOIN rsizes sb ON sb.rep_id = rb
      |  WHERE CAST(inter AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh)
      |    >= $ContainmentMin),
      |ccx1 AS (
      |  SELECT unnest(ga.members) AS x, gb.members AS mb, r.inter,
      |    r.containment
      |  FROM rcon r
      |  JOIN grp ga ON ga.rep_id = r.ra
      |  JOIN grp gb ON gb.rep_id = r.rb),
      |ccx2 AS (
      |  SELECT x, unnest(mb) AS y, inter, containment FROM ccx1),
      |cpairs AS (
      |  SELECT LEAST(x, y) AS id_a, GREATEST(x, y) AS id_b, inter,
      |    containment
      |  FROM ccx2
      |  UNION ALL
      |  SELECT x AS id_a, y AS id_b, inter,
      |    CAST(1.0 AS DOUBLE) AS containment
      |  FROM w2 WHERE x < y)""".stripMargin

  /** DuckDB list-dot-product (the vec_dot twin used by the embcos oracle). */
  private def sqlVecDot(a: String, b: String): String =
    s"""list_aggregate(list_transform(list_zip($a, $b),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')""".stripMargin

  /** The recall report's oracle composes the four published generator
    * chains verbatim ([[jaccardPairsCtes]], [[minhashChainCtes]],
    * [[SignLsh.sqlCandCtes]], [[Vectors.sqlSemanticPairCtes]]) and re-derives both truth sets, so
    * recall/precision are differentially pinned end-to-end — the
    * [[Vectors]] sim_recall_report idiom applied to dedup. */
  private lazy val recallReportOracle: String = {
    val sdl = s"(SELECT l FROM sd)"
    val svl = s"(SELECT l FROM sv)"
    s"""WITH $jaccardPairsCtes,
       |$minhashChainCtes,
       |${SignLsh.sqlCandCtes()},
       |lsh_pairs AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN base a ON a.vec_id = c.id_a
       |  JOIN base b ON b.vec_id = c.id_b
       |  WHERE ${sqlVecDot("a.embedding", "b.embedding")}
       |      / (a.nrm * b.nrm) >= 0.45),
       |${Vectors.sqlSemanticPairCtes},
       |sd AS (SELECT MAX(doc_id) AS l FROM (
       |  SELECT doc_id FROM documents ORDER BY doc_id LIMIT $RecallSampleN) t),
       |sv AS (SELECT MAX(vec_id) AS l FROM (
       |  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $RecallSampleN) t),
       |tpost AS (SELECT doc_id, sh FROM posting WHERE doc_id <= $sdl),
       |tsz AS (SELECT doc_id, COUNT(*) AS n FROM tpost GROUP BY 1),
       |trawp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM tpost a JOIN tpost b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |tjac AS (
       |  SELECT id_a, id_b FROM trawp
       |  JOIN tsz sa ON sa.doc_id = id_a
       |  JOIN tsz sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.3),
       |sve AS (SELECT vec_id, embedding, nrm FROM base WHERE vec_id <= $svl),
       |tcos AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sve a JOIN sve b ON a.vec_id < b.vec_id
       |  WHERE ${sqlVecDot("a.embedding", "b.embedding")}
       |      / (a.nrm * b.nrm) >= 0.45),
       |ngs AS (SELECT id_a, id_b FROM jpairs
       |  WHERE id_a <= $sdl AND id_b <= $sdl),
       |mhs AS (SELECT id_a, id_b FROM mh_pairs
       |  WHERE id_a <= $sdl AND id_b <= $sdl),
       |els AS (SELECT id_a, id_b FROM lsh_pairs
       |  WHERE id_a <= $svl AND id_b <= $svl),
       |sms AS (SELECT id_a, id_b FROM sem_pairs
       |  WHERE id_a <= $svl AND id_b <= $svl),
       |r AS (
       |  SELECT 'embcos_lsh' AS tier,
       |    (SELECT COUNT(*) FROM tcos) AS truth_pairs,
       |    (SELECT COUNT(*) FROM els) AS tier_pairs,
       |    (SELECT COUNT(*) FROM els JOIN tcos USING (id_a, id_b)) AS hits
       |  UNION ALL
       |  SELECT 'minhash_lsh',
       |    (SELECT COUNT(*) FROM tjac),
       |    (SELECT COUNT(*) FROM mhs),
       |    (SELECT COUNT(*) FROM mhs JOIN tjac USING (id_a, id_b))
       |  UNION ALL
       |  SELECT 'ngram_capped',
       |    (SELECT COUNT(*) FROM tjac),
       |    (SELECT COUNT(*) FROM ngs),
       |    (SELECT COUNT(*) FROM ngs JOIN tjac USING (id_a, id_b))
       |  UNION ALL
       |  SELECT 'semantic_kmeans',
       |    (SELECT COUNT(*) FROM tcos),
       |    (SELECT COUNT(*) FROM sms),
       |    (SELECT COUNT(*) FROM sms JOIN tcos USING (id_a, id_b)))
       |SELECT tier, truth_pairs, tier_pairs, hits,
       |  CASE WHEN truth_pairs > 0
       |    THEN CAST(hits AS DOUBLE) / truth_pairs END AS recall,
       |  CASE WHEN tier_pairs > 0
       |    THEN CAST(hits AS DOUBLE) / tier_pairs END AS tier_precision
       |FROM r
       |${orderAll("tier", "truth_pairs", "tier_pairs", "hits", "recall",
                   "tier_precision")}""".stripMargin
  }

  /** [[minhashPairs]] as a DuckDB CTE chain riding an existing `capped`
    * CTE — two md5 words, 16 rotate-XOR min-hashes, raw-tuple band join,
    * exact-Jaccard verify. `mh_`-prefixed so it composes with the other
    * generator chains inside [[recallReportOracle]] (whose sign-LSH chain
    * also defines a `cand`). Ends in `mh_pairs` (id_a, id_b, jaccard). */
  private lazy val minhashChainCtes: String = {
    val mins = (0 until 16)
      .map(k => s"    MIN(${sqlRotXor(k)}) AS m$k").mkString(",\n")
    val bandRows = (0 until 4).map { bd =>
      s"  SELECT doc_id, $bd AS band, m${bd * 4} AS k1, m${bd * 4 + 1} AS k2, " +
        s"m${bd * 4 + 2} AS k3, m${bd * 4 + 3} AS k4 FROM mh_sig"
    }.mkString("\n  UNION ALL\n")
    s"""mh_hb AS (
       |  SELECT doc_id, ${sqlMd5w("sh", 1)} AS h, ${sqlMd5w("sh", 17)} AS h2
       |  FROM capped),
       |mh_sig AS (
       |  SELECT doc_id,
       |$mins
       |  FROM mh_hb GROUP BY doc_id),
       |mh_bands AS (
       |$bandRows),
       |mh_cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM mh_bands a JOIN mh_bands b ON a.band = b.band AND a.k1 = b.k1
       |    AND a.k2 = b.k2 AND a.k3 = b.k3 AND a.k4 = b.k4
       |    AND a.doc_id < b.doc_id),
       |mh_sets AS (SELECT doc_id, list(h) AS hs FROM mh_hb GROUP BY doc_id),
       |mh_pairs AS (
       |  SELECT * FROM (
       |    SELECT id_a, id_b,
       |      CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
       |        / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))
       |        AS jaccard
       |    FROM mh_cand
       |    JOIN mh_sets sa ON sa.doc_id = id_a
       |    JOIN mh_sets sb ON sb.doc_id = id_b)
       |  WHERE jaccard >= 0.3)""".stripMargin
  }

  /** [[dedupMinhash]]'s oracle: the full chain — capped postings, two md5
    * words, 16 rotate-XOR min-hashes, raw-tuple band join, exact-Jaccard
    * verify — re-derived in DuckDB from the shingle strings. */
  private lazy val minhashOracle: String =
    s"""WITH $postingCtes,
       |$minhashChainCtes
       |SELECT id_a, id_b, jaccard FROM mh_pairs
       |${orderAll("id_a", "id_b", "jaccard")}""".stripMargin

  /** Shared oracle chain for the simhash pair family: capped postings →
    * per-doc 60-bit signature → 4×15-bit band rows with bucket counts.
    * Ends in `counted` (doc_id, simhash, band, key, cnt) and `cap`. */
  private val simhashBandCtes: String =
    s"""$postingCtes,
       |hb AS (
       |  SELECT doc_id, ${sqlMd5w("sh", 1)} AS h FROM capped),
       |dsig AS (SELECT doc_id, list(h) AS hs FROM hb GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id, $sqlSimhash AS simhash
       |  FROM dsig),
       |cap AS (
       |  SELECT GREATEST(64, (64 * COUNT(*) + 4999) // 5000) AS c
       |  FROM documents),
       |bands AS (
       |  SELECT doc_id, simhash, band,
       |    ((simhash >> (b1 * 10)) & 1023) * 1024
       |      + ((simhash >> (b2 * 10)) & 1023) AS key
       |  FROM sig, (VALUES ${simhashBlockPairs.zipWithIndex
             .map { case ((i, j), bi) => s"($bi, $i, $j)" }
             .mkString(", ")}) AS p(band, b1, b2)),
       |counted AS (
       |  SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS cnt
       |  FROM bands)""".stripMargin

  /** DuckDB CTE chain from the winnowed `prints` ([[Text.winnowCtes]]) to
    * the merged duplicated-substring `spans` (doc_id, span_start,
    * span_end, n_prints) — shared by the dedup_substring and
    * dedup_substring_rewrite oracles. */
  private val substringSpanCtes: String =
    s"""dup AS (
       |  SELECT fp FROM prints GROUP BY fp
       |  HAVING COUNT(DISTINCT doc_id) >= 2),
       |hits AS (
       |  SELECT DISTINCT p.doc_id, p.pos FROM prints p JOIN dup USING (fp)),
       |brk AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |      <= $SubstringGap THEN 0 ELSE 1 END AS new_isle
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, pos,
       |    SUM(new_isle) OVER (PARTITION BY doc_id ORDER BY pos) AS isle
       |  FROM brk),
       |spans AS (
       |  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       |    CAST(MAX(pos) + 2 AS BIGINT) AS span_end,
       |    COUNT(*) AS n_prints
       |  FROM isl GROUP BY doc_id, isle)""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_minhash" -> minhashOracle,
    "dedup_substring" ->
      s"""WITH ${Text.winnowCtes},
         |$substringSpanCtes
         |SELECT doc_id, span_start, span_end, n_prints,
         |  span_end - span_start + 1 AS span_tokens
         |FROM spans
         |${orderAll("doc_id", "span_start", "span_end", "n_prints",
              "span_tokens")}""".stripMargin,
    "dedup_substring_rewrite" ->
      s"""WITH ${Text.winnowCtes},
         |$substringSpanCtes,
         |sp AS (
         |  SELECT doc_id, list(struct_pack(s := span_start, e := span_end))
         |    AS sp
         |  FROM spans GROUP BY doc_id),
         |reb AS (
         |  SELECT k.doc_id, len(k.t) AS n_tokens,
         |    CASE WHEN p.sp IS NULL THEN k.t
         |      ELSE list_filter(k.t, (x, i) ->
         |        len(list_filter(p.sp, r -> i >= r.s AND i <= r.e)) = 0)
         |    END AS clean
         |  FROM tok k LEFT JOIN sp p USING (doc_id))
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(len(clean) AS BIGINT) AS n_kept,
         |  CAST(n_tokens - len(clean) AS BIGINT) AS n_dropped,
         |  -- array_to_string([]) is NULL in DuckDB where Spark's
         |  -- array_join yields '' (a fully-dropped doc is empty, not null)
         |  CAST(len(COALESCE(array_to_string(clean, ' '), '')) AS BIGINT)
         |    AS clean_len,
         |  md5(COALESCE(array_to_string(clean, ' '), '')) AS clean_md5
         |FROM reb
         |${orderAll("doc_id", "n_tokens", "n_kept", "n_dropped",
              "clean_len", "clean_md5")}""".stripMargin,
    "dedup_index_build" ->
      s"""WITH $postingCtes,
         |$minhashChainCtes,
         |cds AS (
         |  SELECT doc_id, list_sort(list(sh)) AS chs FROM capped
         |  WHERE doc_id % $IncrMod <> $IncrRem GROUP BY doc_id),
         |cgrp AS (
         |  SELECT chs, MIN(doc_id) AS rep_id, COUNT(*) AS m
         |  FROM cds GROUP BY chs),
         |cb AS (
         |  SELECT b.* FROM mh_bands b JOIN cgrp g ON g.rep_id = b.doc_id)
         |SELECT
         |  (SELECT CAST(COALESCE(SUM(m), 0) AS BIGINT) FROM cgrp) AS n_docs,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cgrp) AS n_reps,
         |  (SELECT COUNT(*) FROM cb) AS n_band_rows,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |    (SELECT DISTINCT band, k1, k2, k3, k4 FROM cb)) AS n_buckets
         |${orderAll("n_docs", "n_reps", "n_band_rows", "n_buckets")}""".stripMargin,
    "dedup_incremental" ->
      s"""WITH $postingCtes,
         |$minhashChainCtes,
         |cb AS (SELECT * FROM mh_bands WHERE doc_id % $IncrMod <> $IncrRem),
         |bb AS (SELECT * FROM mh_bands WHERE doc_id % $IncrMod = $IncrRem),
         |icand AS (
         |  SELECT DISTINCT c.doc_id AS corpus_id, b.doc_id AS new_id
         |  FROM bb b JOIN cb c ON b.band = c.band AND b.k1 = c.k1
         |    AND b.k2 = c.k2 AND b.k3 = c.k3 AND b.k4 = c.k4),
         |iver AS (
         |  SELECT corpus_id, new_id,
         |    CAST(len(list_intersect(sc.hs, sn.hs)) AS DOUBLE)
         |      / (len(sc.hs) + len(sn.hs) - len(list_intersect(sc.hs, sn.hs)))
         |      AS jaccard
         |  FROM icand
         |  JOIN mh_sets sc ON sc.doc_id = corpus_id
         |  JOIN mh_sets sn ON sn.doc_id = new_id)
         |SELECT corpus_id, new_id, jaccard FROM iver WHERE jaccard >= 0.3
         |${orderAll("corpus_id", "new_id", "jaccard")}""".stripMargin,
    "dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(
         |    regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |    t -> t <> '') AS t
         |  FROM documents),
         |th AS (
         |  SELECT doc_id, list_transform(list_distinct(t),
         |    x -> ${sqlMd5w("x", 1)}) AS hs
         |  FROM tok)
         |SELECT doc_id, simhash, simhash >> 44 AS bucket16 FROM (
         |  SELECT doc_id, $sqlSimhash AS simhash FROM th)
         |${orderAll("doc_id", "simhash", "bucket16")}""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $simhashBandCtes,
         |kept AS (SELECT * FROM counted, cap WHERE cnt <= cap.c),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash AS sh_a, b.simhash AS sh_b
         |  FROM kept a JOIN kept b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 6
         |${orderAll("id_a", "id_b", "hamming")}""".stripMargin,
    "dedup_simhash_cap_stats" ->
      s"""WITH $simhashBandCtes
         |SELECT COUNT(*) AS n_band_rows,
         |  CAST(COALESCE(SUM(CASE WHEN cnt > cap.c THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_dropped_rows,
         |  CAST(COALESCE(SUM(CASE WHEN cnt > cap.c THEN cnt - 1 ELSE 0 END),
         |    0) // 2 AS BIGINT) AS n_dropped_pairs
         |FROM counted, cap
         |${orderAll("n_band_rows", "n_dropped_rows", "n_dropped_pairs")}""".stripMargin,
    "dedup_recall_report" -> recallReportOracle,
    "dedup_ngram_cap_stats" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(
         |    regexp_split_to_array(lower(text), '[^a-z0-9'']+'), t -> t <> '') AS t
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(t) - 2, 1) + 1),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
         |  FROM tok),
         |dfreq AS (
         |  SELECT sh, COUNT(*) AS df FROM (
         |    SELECT doc_id, unnest(s) AS sh FROM sh) GROUP BY sh),
         |cap AS (
         |  SELECT GREATEST(20, (COUNT(*) + 249) // 250) AS c FROM documents)
         |SELECT COUNT(*) AS n_shingles,
         |  CAST(SUM(CASE WHEN df > cap.c THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped_shingles,
         |  CAST(SUM(CASE WHEN df > cap.c THEN df ELSE 0 END) AS BIGINT)
         |    AS n_dropped_postings,
         |  CAST(SUM(CASE WHEN df > cap.c THEN df * (df - 1) ELSE 0 END)
         |    // 2 AS BIGINT) AS n_dropped_pairs
         |FROM dfreq, cap
         |${orderAll("n_shingles", "n_dropped_shingles", "n_dropped_postings",
            "n_dropped_pairs")}""".stripMargin,
    "dedup_embcos_cap_stats" ->
      s"""WITH ${SignLsh.sqlCandCtes()}
         |SELECT COUNT(*) AS n_band_rows,
         |  CAST(SUM(CASE WHEN cnt1 > ${SignLsh.BucketCap} THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_refined_rows,
         |  CAST(SUM(CASE WHEN cnt2 > ${SignLsh.BucketCap} THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dropped_rows,
         |  CAST(SUM(CASE WHEN cnt2 > ${SignLsh.BucketCap} THEN cnt2 - 1
         |    ELSE 0 END) // 2 AS BIGINT) AS n_dropped_pairs
         |FROM k3
         |${orderAll("n_band_rows", "n_refined_rows", "n_dropped_rows",
            "n_dropped_pairs")}""".stripMargin,
    "dedup_cross_source" ->
      s"""WITH $jaccardPairsCtes,
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT least(x.source, y.source) AS src_a,
         |  greatest(x.source, y.source) AS src_b,
         |  COUNT(*) AS n_dup_pairs
         |FROM jpairs p
         |JOIN src x ON x.doc_id = p.id_a
         |JOIN src y ON y.doc_id = p.id_b
         |GROUP BY 1, 2
         |${orderAll("src_a", "src_b", "n_dup_pairs")}""".stripMargin,
    "dedup_exact" ->
      s"""SELECT sha256(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS h,
         |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
         |FROM documents
         |GROUP BY 1 HAVING COUNT(*) >= 2
         |${orderAll("h", "canonical_id", "n_dups")}""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $jaccardPairsCtes
         |SELECT id_a, id_b, inter, jaccard FROM jpairs
         |${orderAll("id_a", "id_b", "inter", "jaccard")}""".stripMargin,
    "dedup_containment" ->
      s"""WITH $containmentPairsCtes
         |SELECT id_a, id_b, inter, containment FROM cpairs
         |${orderAll("id_a", "id_b", "inter", "containment")}""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM jpairs
         |  UNION ALL
         |  SELECT id_b, id_a FROM jpairs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |walk AS (
         |  SELECT id, id AS lbl FROM nodes
         |  UNION
         |  SELECT e.a AS id, w.lbl FROM walk w JOIN edges e ON e.b = w.id),
         |labels AS (SELECT id, MIN(lbl) AS canonical_id FROM walk GROUP BY id),
         |csizes AS (
         |  SELECT canonical_id, COUNT(*) AS cluster_size
         |  FROM labels GROUP BY canonical_id)
         |SELECT l.id AS doc_id, l.canonical_id, s.cluster_size,
         |  l.id = l.canonical_id AS is_survivor
         |FROM labels l JOIN csizes s USING (canonical_id)
         |${orderAll("doc_id", "canonical_id", "cluster_size", "is_survivor")}""".stripMargin,
    "dedup_embcos_clusters" ->
      s"""WITH RECURSIVE ${SignLsh.sqlCandCtes()},
         |scored AS (
         |  SELECT c.id_a, c.id_b,
         |    list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
         |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
         |      / (a.nrm * b.nrm) AS cosine
         |  FROM cand c
         |  JOIN base a ON a.vec_id = c.id_a
         |  JOIN base b ON b.vec_id = c.id_b),
         |epairs AS (SELECT id_a, id_b FROM scored WHERE cosine >= 0.45),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM epairs
         |  UNION ALL
         |  SELECT id_b, id_a FROM epairs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |walk AS (
         |  SELECT id, id AS lbl FROM nodes
         |  UNION
         |  SELECT e.a AS id, w.lbl FROM walk w JOIN edges e ON e.b = w.id),
         |labels AS (SELECT id, MIN(lbl) AS canonical_id FROM walk GROUP BY id),
         |csizes AS (
         |  SELECT canonical_id, COUNT(*) AS cluster_size
         |  FROM labels GROUP BY canonical_id)
         |SELECT l.id AS vec_id, l.canonical_id, s.cluster_size,
         |  l.id = l.canonical_id AS is_survivor
         |FROM labels l JOIN csizes s USING (canonical_id)
         |${orderAll("vec_id", "canonical_id", "cluster_size", "is_survivor")}""".stripMargin,
    "dedup_paragraph" ->
      s"""WITH $spanCtes,
         |dropped AS (
         |  SELECT h FROM (
         |    SELECT h, COUNT(DISTINCT doc_id) AS n_docs
         |    FROM hspans GROUP BY h)
         |  WHERE n_docs > $MaxSpanDf),
         |kept AS (
         |  SELECT * FROM hspans WHERE h NOT IN (SELECT h FROM dropped)),
         |sptotals AS (
         |  SELECT doc_id, COUNT(*) AS n_spans FROM hspans GROUP BY doc_id),
         |rpars AS (
         |  SELECT doc_id, p_pos, string_agg(span, ' ' ORDER BY w_pos) AS cpar,
         |    COUNT(*) AS n_kept_w
         |  FROM kept GROUP BY doc_id, p_pos),
         |rebuilt AS (
         |  SELECT doc_id,
         |    string_agg(cpar, chr(10)||chr(10) ORDER BY p_pos) AS clean_text,
         |    CAST(SUM(n_kept_w) AS BIGINT) AS n_kept
         |  FROM rpars GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(t.n_spans, 0) AS n_spans,
         |  COALESCE(r.n_kept, 0) AS n_kept,
         |  COALESCE(t.n_spans, 0) - COALESCE(r.n_kept, 0) AS n_dropped,
         |  length(COALESCE(r.clean_text, '')) AS clean_len,
         |  md5(COALESCE(r.clean_text, '')) AS clean_md5
         |FROM documents d
         |LEFT JOIN sptotals t USING (doc_id)
         |LEFT JOIN rebuilt r USING (doc_id)
         |${orderAll("doc_id", "n_spans", "n_kept", "n_dropped", "clean_len",
            "clean_md5")}""".stripMargin,
    "dedup_span_stats" ->
      s"""WITH $spanCtes
         |SELECT n_docs, COUNT(*) AS n_spans,
         |  CAST(SUM(n_occ) AS BIGINT) AS n_occurrences
         |FROM (
         |  SELECT h, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
         |  FROM hspans GROUP BY h)
         |GROUP BY n_docs
         |${orderAll("n_docs", "n_spans", "n_occurrences")}""".stripMargin,
    "dedup_multimodal_clusters" ->
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |${SignLsh.sqlCandCtes()},
         |scored AS (
         |  SELECT c.id_a, c.id_b,
         |    list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
         |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
         |      / (a.nrm * b.nrm) AS cosine
         |  FROM cand c
         |  JOIN base a ON a.vec_id = c.id_a
         |  JOIN base b ON b.vec_id = c.id_b),
         |epairs AS (SELECT id_a, id_b FROM scored WHERE cosine >= 0.45),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM jpairs
         |  UNION SELECT id_b, id_a FROM jpairs
         |  UNION SELECT id_a, id_b FROM epairs
         |  UNION SELECT id_b, id_a FROM epairs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |walk AS (
         |  SELECT id, id AS lbl FROM nodes
         |  UNION
         |  SELECT e.a AS id, w.lbl FROM walk w JOIN edges e ON e.b = w.id),
         |labels AS (SELECT id, MIN(lbl) AS canonical_id FROM walk GROUP BY id),
         |csizes AS (
         |  SELECT canonical_id, COUNT(*) AS cluster_size
         |  FROM labels GROUP BY canonical_id)
         |SELECT l.id AS doc_id, l.canonical_id, s.cluster_size,
         |  l.id = l.canonical_id AS is_survivor
         |FROM labels l JOIN csizes s USING (canonical_id)
         |${orderAll("doc_id", "canonical_id", "cluster_size", "is_survivor")}""".stripMargin,
    "dedup_embcos" ->
      s"""WITH ${SignLsh.sqlCandCtes()},
         |scored AS (
         |  SELECT c.id_a AS canonical_id, c.id_b AS dup_id,
         |    list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
         |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
         |      / (a.nrm * b.nrm) AS cosine
         |  FROM cand c
         |  JOIN base a ON a.vec_id = c.id_a
         |  JOIN base b ON b.vec_id = c.id_b)
         |SELECT canonical_id, dup_id, cosine FROM scored WHERE cosine >= 0.45
         |${orderAll("canonical_id", "dup_id", "cosine")}""".stripMargin)
}
