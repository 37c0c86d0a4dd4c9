package graft.ops

import graft.OpCaches.scratch
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Composed training-data pipeline operators (driver extension scope —
  * the operations a 100 TB pre-training corpus build actually runs, built
  * by COMPOSING the primitive ops): end-to-end curation, deterministic
  * train/valid/test splitting, and PII scrubbing.
  */
object Pipeline {
  import Relational.{totalOrder, orderAll}

  /** Corpus datasheet — the per-source summary every dataset release
    * publishes (the "Datasheets for Datasets" / Dolma-report numbers) and
    * every pipeline run re-checks before shipping: document and token
    * counts, language spread, mean document size, and the short-doc
    * fraction that dominates quality-filter tuning. ONE pass over the
    * corpus: per-row token counts are a codegen'd expression, then a
    * single map-side-combined aggregate keyed by source — the 100 TB
    * shape is a scan plus a |sources|-row shuffle, nothing else. Exact
    * decimal mean for chars (engine-stable; the [[graft.Tables.davg]]
    * convention). */
  def pipelineCorpusStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    totalOrder(load(spark, dir, "documents")
      .withColumn("n_tok", size(toks).cast("long"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        davg(col("n_chars").cast(org.apache.spark.sql.types.DoubleType))
          .as("avg_chars"),
        sum(when(col("n_tok") < 50, 1L).otherwise(0L)).as("short_docs")))
  }

  /** The curation gate constants and the exact-dedup content hash —
    * shared by [[pipelineCurate]] and its audit twin
    * [[pipelineFilterFunnel]] (and interpolated into both oracles), so
    * the funnel can never drift from the pipeline it reports on. */
  private[ops] val QualityMin = 0.05
  private[ops] val MinCurateTokens = 20
  private[graft] def contentHash: org.apache.spark.sql.Column =
    sha2(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 256)

  /** End-to-end corpus curation as ONE Catalyst plan — the standard
    * pre-training filter chain: exact-dedup survivor selection (lowest
    * doc_id per normalized content hash) → quality gate → minimum-length
    * gate → embedding join for the downstream ANN stages. Each stage is a
    * primitive op from this library; composing them stays one declarative
    * plan (scan shared, filters pushed, one window + two joins), where the
    * reference would run one script per stage with disk round-trips. */
  def pipelineCurate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.vecDot
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val survivors = load(spark, dir, "documents")
      .withColumn("h", contentHash)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"))
    val quality = Text.qualityFrame(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val emb = load(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        sqrt(vecDot(spark, col("embedding"), col("embedding"))).as("emb_norm"))
    totalOrder(survivors
      .join(quality, "doc_id")
      .filter(col("quality") >= QualityMin && col("n_tokens") >= MinCurateTokens)
      .join(emb, "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("quality"), col("emb_norm")))
  }

  /** Curation filter funnel — the stage-by-stage survivor ledger every
    * corpus run logs before shipping (and the first thing an operator
    * reads when yield drops): how many documents enter, survive exact
    * dedup, pass the quality gate, pass the length gate, and carry an
    * embedding. The stages are [[pipelineCurate]]'s OWN predicates — the
    * funnel audits the real pipeline, not a re-implementation — evaluated
    * as FLAGS in one pass so the whole report is a single aggregate row:
    * no per-stage jobs, no corpus re-scans (the 100 TB shape; the only
    * joins are the same quality/embedding joins curate itself runs).
    * Stages compose cumulatively, so each count is ≤ its predecessor —
    * the monotone funnel invariant the spec asserts. */
  def pipelineFilterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val flags = load(spark, dir, "documents")
      .withColumn("h", contentHash)
      .withColumn("is_survivor", row_number().over(w) === 1)
      .select(col("doc_id"), col("is_survivor"))
      .join(Text.qualityFrame(spark, dir)
        .select(col("doc_id"), col("n_tokens"), col("quality")), "doc_id")
      .join(load(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), lit(true).as("has_emb")),
        Seq("doc_id"), "left")
      .withColumn("s1", col("is_survivor"))
      .withColumn("s2", col("s1") && col("quality") >= QualityMin)
      .withColumn("s3", col("s2") && col("n_tokens") >= MinCurateTokens)
      .withColumn("s4", col("s3") && coalesce(col("has_emb"), lit(false)))
    def n(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    totalOrder(flags.agg(
      count(lit(1)).as("n_input"),
      n(col("s1")).as("n_dedup_survivor"),
      n(col("s2")).as("n_quality"),
      n(col("s3")).as("n_length"),
      n(col("s4")).as("n_final")))
  }

  /** Deterministic train/valid/test split (80/10/10) by a salted
    * multiplicative hash of the id — the split every corpus build needs.
    * Hash-based (not row_number-based) on purpose: assignment is a pure
    * per-row expression — no shuffle, no per-stratum sort bottleneck, and
    * any engine reproduces it (the oracle runs the identical arithmetic).
    * Per-stratum proportions hold in expectation; the spec checks balance
    * per language. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    totalOrder(load(spark, dir, "documents")
      .withColumn("bucket",
        (col("doc_id") * 2654435761L) % 4294967296L % 10)
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") < 9, "valid")
          .otherwise("test"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("split")))

  /** Training-sequence packing: assign documents to fixed-token-budget
    * shards (the "pack to 8k context" step of every pre-training run) by
    * cumulative token count in deterministic doc_id order —
    * shard = ⌊(cum_tokens − n_tokens) / budget⌋, i.e. a doc starts in the
    * shard its first token falls into.
    *
    * The global running sum is a classic two-pass parallel prefix sum, NOT
    * a single unpartitioned window (which would collapse the whole corpus
    * into one sort task): documents bucket by a deterministic doc_id range
    * (pass 0 reads only max(doc_id) — a column-pruned scan); pass 1
    * aggregates per-bucket token subtotals (≤ `PackBuckets` rows) and turns
    * them into exclusive prefix offsets with a window over those few rows;
    * pass 2 broadcast-joins the offsets back and runs the running sum
    * INSIDE each bucket (a partitioned window — every bucket sorts in
    * parallel). Range buckets are contiguous in doc_id, so
    * per-bucket-cumsum + bucket-offset equals the global prefix sum
    * exactly — the output (and the DuckDB oracle) is byte-identical to the
    * naive global window. At 100 TB, raise `PackBuckets` to the task count;
    * no stage ever sees more than one bucket's rows. */
  private[graft] val PackBuckets = 32

  def pipelinePackSequences(spark: SparkSession, dir: String): DataFrame = {
    val budget = 4096L
    val docs = load(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r                  => r.getLong(0)
    }
    val width = maxId / PackBuckets + 1
    val base = docs
      .withColumn("n_tokens",
        size(Text.tokens(col("text"))))
      .withColumn("bucket", floor(col("doc_id") / width))
      .select(col("doc_id"), col("n_tokens"), col("bucket"))
    // pass 1: per-bucket subtotals → exclusive prefix offsets. The window
    // here is unpartitioned BUT runs over ≤ PackBuckets aggregated rows —
    // constant-size regardless of corpus scale.
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("offset",
        coalesce(sum(col("bucket_tokens")).over(wOff), lit(0L)))
      .select(col("bucket"), col("offset"))
    // pass 2: partitioned running sum + broadcast offset
    val wRun = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totalOrder(base
      .join(broadcast(offsets), "bucket")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wRun) + col("offset"))
      .withColumn("shard",
        floor((col("cum_tokens") - col("n_tokens")) / budget))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"), col("shard")))
  }

  /** Corpus mixing: per-source sampling rates (the up/down-weighting every
    * corpus recipe applies — e.g. keep 100% of curated sources, 25% of
    * crawl). Pure per-row expression over the salted id hash — same
    * shuffle-free shape as [[sampleStratified]], so mixing composes with
    * any downstream op; the rate table is a literal broadcast-free map. */
  def pipelineSourceMix(spark: SparkSession, dir: String): DataFrame = {
    val bucket = (col("doc_id") * 2654435761L) % 4294967296L % 100
    // percentage kept per source bucket (deterministic demo recipe:
    // sources hash-route to one of two tiers)
    val rate = when(length(col("source")) % 2 === 0, 100).otherwise(25)
    totalOrder(load(spark, dir, "documents")
      .withColumn("rate_pct", rate)
      .withColumn("keep", bucket < col("rate_pct"))
      .select(col("doc_id"), col("source"), col("rate_pct"), col("keep")))
  }

  /** Benchmark decontamination — remove training documents that share any
    * word 5-gram with the eval/holdout set (the contamination check every
    * pre-training corpus runs against its benchmark suite). The eval set
    * here is the deterministic holdout `doc_id % 97 = 0`. Scale shape: the
    * eval side is benchmarks — tiny by construction — so its distinct gram
    * set BROADCASTS and the training postings meet it map-side (semi-join);
    * the corpus is never shuffled or self-joined. At 100 TB the only change
    * is hashing grams to 8-byte keys (as dedup's cappedPosting does) to
    * shrink the broadcast. Output: contaminated doc ids with the count of
    * distinct shared grams. */
  def pipelineDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val posting = fiveGramPostings(spark, dir)
    val isEval = col("doc_id") % 97 === 0
    val evalGrams = posting.filter(isEval).select(col("g")).distinct()
    totalOrder(posting.filter(!isEval)
      .join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared")))
  }

  /** Per-doc DISTINCT word 5-gram postings (doc_id, g) — shared by the
    * decontamination gate and its report twin. */
  private def fiveGramPostings(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    load(spark, dir, "documents")
      .withColumn("t", toks)
      .withColumn("grams", when(size(col("t")) >= 5,
        array_distinct(transform(
          sequence(lit(0), size(col("t")) - 5),
          i => concat_ws(" ",
            element_at(col("t"), i + 1),
            element_at(col("t"), i + 2),
            element_at(col("t"), i + 3),
            element_at(col("t"), i + 4),
            element_at(col("t"), i + 5)))))
        .otherwise(array().cast("array<string>")))
      .select(col("doc_id"), col("grams"))
      // cache before explode: Generate re-evaluates the un-materialized
      // transform() once per output row (see Dedup.shingled)
      .transform(graft.OpCaches.cached)
      .select(col("doc_id"), explode(col("grams")).as("g"))
  }

  /** Decontamination REPORT — the leakage view from the eval owner's side
    * (the "no silent drops" audit idiom applied to decontamination): for
    * every eval doc, how many training docs share at least one 5-gram with
    * it and how many of its distinct grams are hit. `pipelineDecontaminate`
    * says which TRAINING docs to drop; this says which EVAL items are
    * compromised and how badly — the number that decides whether an eval
    * set is still usable. Same broadcast discipline: the eval posting set
    * is the small side and broadcasts; the training posting meets it
    * map-side. */
  def pipelineContamReport(spark: SparkSession, dir: String): DataFrame = {
    val posting = fiveGramPostings(spark, dir)
    val isEval = col("doc_id") % 97 === 0
    val evalPost = posting.filter(isEval)
      .select(col("doc_id").as("eval_id"), col("g"))
    totalOrder(posting.filter(!isEval)
      .select(col("doc_id").as("train_id"), col("g"))
      .join(broadcast(evalPost), "g")
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("train_id")).as("n_train_docs"),
        countDistinct(col("g")).as("n_grams_hit")))
  }

  /** Intra-document repetition gate (the Gopher/RefinedWeb quality rule):
    * a document wastes its token budget when its word 3-grams repeat —
    * rep_ratio = 1 − distinct/total 3-grams; keep while ≤ 0.2. Pure per-row
    * expression over the text: no shuffle, composes into the curation
    * chain at any scale. */
  def pipelineRepetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    totalOrder(load(spark, dir, "documents")
      .withColumn("t", toks)
      .withColumn("grams", when(size(col("t")) >= 3,
        transform(
          sequence(lit(0), size(col("t")) - 3),
          i => concat_ws(" ",
            element_at(col("t"), i + 1),
            element_at(col("t"), i + 2),
            element_at(col("t"), i + 3))))
        .otherwise(array().cast("array<string>")))
      .withColumn("n_grams", size(col("grams")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("grams"))).cast("long"))
      .withColumn("rep_ratio",
        when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct") / col("n_grams")).otherwise(lit(0.0)))
      .withColumn("keep", col("rep_ratio") <= 0.2)
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        col("rep_ratio"), col("keep")))
  }

  /** Shard delivery with a verifiable manifest — the last step of a
    * training-data build: write the packed shards as `shard=`-partitioned
    * parquet (consumers read one directory per shard) and emit a manifest
    * row per shard with counts, token totals, id range, and a sha256 over
    * the sorted member ids. The manifest is computed from the FILES READ
    * BACK, so the gate checks what actually landed on disk, and the
    * checksum lets a downstream loader detect a short or corrupt shard
    * without re-scanning the corpus. */
  def pipelineShardManifest(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(spark, "graft_shards")
    pipelinePackSequences(spark, dir)
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    val back = spark.read.parquet(out)
    totalOrder(back.groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sha2(concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))),
            x => x.cast("string"))), 256).as("ids_sha")))
  }

  private val EmailPat = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
  private val PhonePat = "\\b555-[0-9]{4}\\b"

  /** Deterministic global shuffle for training-order reproducibility:
    * which shard a document lands in and its position there are a pure
    * function of (seed, doc_id) — change the seed, get a fresh permutation;
    * rerun the same seed on any cluster, get the identical batch order.
    * Shard first (md5 mod S — one hash-partition shuffle), then rank
    * WITHIN each shard by the same md5 key (a partitioned window: every
    * shard sorts in parallel, no global single-partition sort anywhere).
    * At 100 TB S is thousands and each shard's sort is one task's worth.
    * md5, not xxhash64: identical hex in every engine, so the DuckDB
    * oracle pins the exact permutation. */
  def pipelineShuffleOrder(spark: SparkSession, dir: String): DataFrame = {
    val seed = "epoch-0"
    val nShards = 8
    val key = md5(concat_ws(":", lit(seed), col("doc_id")))
    val shard = pmod(conv(substring(col("skey"), 1, 8), 16, 10).cast("long"),
      lit(nShards))
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"))
    totalOrder(load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), key.as("skey"))
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("source"), col("shard"), col("pos")))
  }

  /** PII scrubbing (emails / phone numbers → placeholder tags) — the
    * redaction pass a training corpus runs before anything else. The
    * fixture text carries no PII, so each document gets a deterministic
    * contact line appended first; the scrub itself is two codegen'd
    * regexp_replace passes. Output carries the match counts and an md5 of
    * the scrubbed text, so the oracle verifies the redaction byte-exactly
    * without shipping the full text through the compare. */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val payload = concat(col("text"),
      lit(" Contact: "), col("source"), col("doc_id"), lit("@example.com"),
      lit(" or 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    totalOrder(load(spark, dir, "documents")
      .withColumn("payload", payload)
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("payload"), EmailPat, "<EMAIL>"),
          PhonePat, "<PHONE>"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("payload"), lit(EmailPat), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("payload"), lit(PhonePat), lit(0)))
          .as("n_phones"),
        length(col("scrubbed")).as("n_chars_scrubbed"),
        md5(col("scrubbed")).as("scrubbed_hash")))
  }

  /** Model-based quality gating — the linear-classifier corpus filter
    * (the fastText/CCNet "quality classifier" stage of every published
    * pretraining pipeline, e.g. GPT-3's LR-over-features filter): a fixed,
    * documented weight vector over the interpretable [[Text.qualityFrame]]
    * features (stopword density up-weights prose, punctuation noise and
    * run-on tokens down-weight, a capped length prior), thresholded into
    * keep / review / drop routing classes. The logistic's sigmoid is
    * monotone, so classifying on the LINEAR score with shifted thresholds
    * is the identical decision rule without the libm exp() whose last ulp
    * differs across engines — each term is 6-dp-rounded and
    * decimal-summed, making the score hash-exact. Pure per-row
    * expressions after the feature scan: embarrassingly parallel, no
    * shuffle, the cheapest possible 100 TB pass. Inference-only by
    * design — training the weights is an offline regression; SERVING the
    * frozen model inside the scan is the engine's job. */
  def pipelineQualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    def term(c: org.apache.spark.sql.Column) = round(c, 6).cast(dec)
    val score = (term(col("stop_ratio") * lit(1.5)) +
      term(col("punct_ratio") * lit(-2.0)) +
      term(col("chars_per_token") * lit(-0.05)) +
      term(least(col("n_tokens"), lit(400.0)) * lit(0.002)) +
      lit(BigDecimal("-0.1")).cast(dec))
      .cast(org.apache.spark.sql.types.DoubleType)
    totalOrder(Text.qualityFrame(spark, dir)
      .withColumn("score", score)
      .withColumn("label",
        when(col("score") >= 0.3, "keep")
          .when(col("score") >= 0.0, "review")
          .otherwise("drop"))
      .select(col("doc_id"), col("score"), col("label")))
  }

  /** Per-source sampling weights for [[pipelineSampleWeighted]], in
    * thousandths: a documented recipe table (the role a real run's
    * data-mixture config plays — e.g. down-weight crawl, keep books). */
  private[graft] val SampleWeights: Seq[(String, Long)] =
    (0 until 20).map(i => (s"src$i", 1000L - 45L * i))

  /** EXECUTABLE importance sampling — where [[pipelineSourceMix]] reports
    * the recipe, this op APPLIES it: each document keeps with its
    * source's probability p via the deterministic multiplicative-hash
    * uniform u = (doc_id · 2654435761) mod 2³², kept iff
    * u·1000 < p_mille·2³² — pure integer arithmetic, so the sample is
    * reproducible across engines, runs, and partitionings (the property
    * that makes a trillion-token mixture auditable: re-running the
    * pipeline yields the SAME corpus). The recipe broadcasts; the scan
    * never shuffles — the sampler costs one filter at 100 TB. The same
    * hash stream as [[sampleStratified]], so sampling and splitting stay
    * independent decisions on independent bits is NOT claimed — a real
    * run salts one of the two (documented); here the shared stream keeps
    * both ops oracle-identical. */
  def pipelineSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = broadcast(SampleWeights.toDF("source", "p_mille"))
    totalOrder(load(spark, dir, "documents")
      .withColumn("u", (col("doc_id") * 2654435761L) % 4294967296L)
      .join(w, "source")
      .filter(col("u") * 1000L < col("p_mille") * 4294967296L)
      .select(col("doc_id"), col("source"), col("p_mille"), col("u")))
  }

  /** Total training-token budget for [[pipelineTokenBudget]] — divisible
    * by the Σweights = 210 so every per-source target is an exact BIGINT. */
  private val TokenBudget = 21000000L

  /** Epoch cap: repeated data is ≈ as good as fresh for ~4 epochs and
    * decays fast beyond (the data-constrained-scaling result the planner
    * exists to surface). */
  private val EpochCap = 4L

  /** The pre-training mixture PLANNER — the domain-weights table every
    * run is launched from (the LLaMA/DoReMi recipe shape): given target
    * mixture weights and a total token budget, report per source the
    * available whitespace-token supply, the budgeted target, the epoch
    * factor target/available that importance sampling must realize, and
    * whether the source is DATA-CONSTRAINED (needs > 4 epochs, where
    * repetition stops substituting for fresh data) with the effective
    * cap-respecting token yield. Weights derive deterministically from
    * the source id (suffix+1, Σ = 210). One map-side-combinable
    * aggregation over the corpus — at 100 TB the report is 20 rows, and
    * it is the op you run BEFORE pipeline_sample_weighted to know the
    * p_mille each source deserves. Everything except the epoch ratio is
    * exact integer arithmetic; the ratio is one IEEE division. */
  def pipelineTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Text.tokens
    val weight = substring(col("source"), 4, 10).cast("long") + 1L
    totalOrder(load(spark, dir, "documents")
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("avail_tokens"))
      .withColumn("weight", weight)
      .withColumn("target_tokens", col("weight") * (TokenBudget / 210L))
      .withColumn("epochs",
        col("target_tokens").cast("double") / col("avail_tokens"))
      .withColumn("data_constrained",
        col("target_tokens") > lit(EpochCap) * col("avail_tokens"))
      .withColumn("effective_tokens",
        least(col("target_tokens"), lit(EpochCap) * col("avail_tokens")))
      .select(col("source"), col("weight"), col("avail_tokens"),
        col("target_tokens"), col("epochs"), col("data_constrained"),
        col("effective_tokens")))
  }

  /** The Gopher stopword gate list (Rae et al. 2021, §A1.1) — a document
    * must contain at least two of these to pass rule 6. */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher rule-level quality funnel (Rae et al. 2021, Appendix A1.1 —
    * THE published heuristic filter set every pretraining pipeline
    * either runs or consciously deviates from; [[Text.textQuality]] is a
    * composite score, this is the per-RULE verdict a filter audit needs):
    * per document, the six rule booleans — word count in [50, 100000],
    * mean word length in [3, 10], symbol-to-word ratio ('#' or ASCII
    * "..." — the fixture is ASCII; a unicode-ellipsis corpus would
    * normalize U+2026 to "..." upstream) ≤ 0.1,
    * bullet-line ≤ 90% / ellipsis-line ≤ 30%, ≥ 80% of words contain an
    * alphabetic character, and ≥ 2 of the eight Gopher stopwords — plus
    * the raw counts they derive from and the conjunction. Every ratio
    * gate is cross-multiplied INTEGER arithmetic (mean ∈ [3,10] ⇔
    * 3n ≤ Σlen ≤ 10n), so the op carries an exact oracle with zero float
    * surface. One pass, all per-row expressions, no shuffle at all — the
    * cheapest possible 100 TB scan. On the synthetic fixture the corpus
    * honestly FAILS the stopword gate corpus-wide (word-soup text carries
    * only 'the' from the Gopher list) — which is the filter working: a
    * real Gopher gate would reject this corpus, and the per-doc counts
    * still vary under the hash compare. */
  def pipelineGopherRules(spark: SparkSession, dir: String): DataFrame =
    totalOrder(gopherFrame(load(spark, dir, "documents")))

  /** The per-row Gopher rule frame over ANY documents source — shared
    * verbatim by the batch op above and its streaming twin
    * ([[graft.streaming.StreamingOps]] `stream_gopher_rules`): the whole
    * computation is stateless per-row expressions, so the unbounded query
    * is the same plan in append mode and carries the same oracle. */
  private[graft] def gopherFrame(src: DataFrame): DataFrame = {
    // all eleven counters fused into TWO byte-walk expressions
    // ([[graft.functions.GopherWalk]] — the TextCounts pattern): the
    // declarative chain evaluated two regex splits, three interpreted
    // higher-order lambdas (two with per-element regexes), eight
    // array_contains traversals, and two full-text regexp_replace passes
    // per row — all interpreted inside the codegen stage. Counts are
    // bit-identical (byte classes are pure ASCII; proof at the walker).
    // The two-step select keeps each array expression evaluated ONCE:
    // CollapseProject does not inline a non-cheap expression referenced
    // more than once.
    val spark = src.sparkSession
    val docs = src
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
    val rWordCount = col("n_words") >= 50L && col("n_words") <= 100000L
    val rMeanLen = col("word_chars") >= lit(3L) * col("n_words") &&
      col("word_chars") <= lit(10L) * col("n_words")
    val rSymbol = lit(10L) * (col("n_hash") + col("n_ell")) <= col("n_words")
    val rBullet = lit(10L) * col("n_bullet") <= lit(9L) * col("n_lines") &&
      lit(10L) * col("n_ell_line") <= lit(3L) * col("n_lines")
    val rAlpha = lit(5L) * col("n_alpha") >= lit(4L) * col("n_words")
    val rStop = col("n_stop") >= 2L
    docs.select(col("doc_id"), col("n_words"), col("word_chars"),
      col("n_alpha"), col("n_stop"),
      rWordCount.as("r_word_count"), rMeanLen.as("r_mean_word_len"),
      rSymbol.as("r_symbol_ratio"), rBullet.as("r_bullet_ellipsis"),
      rAlpha.as("r_alpha_words"), rStop.as("r_stopwords"),
      (rWordCount && rMeanLen && rSymbol && rBullet && rAlpha && rStop)
        .as("pass_gopher"))
  }

  /** Soft deduplication — REWEIGHT duplicated documents instead of
    * dropping them (the SoftDedup arrangement, He et al. 2024: hard
    * removal discards the evidence that common text IS common; sampling
    * weight 1/c per exact-dup group of size c preserves the corpus
    * distribution while flattening the duplication spike). Rides the
    * SAME normalized content hash as [[pipelineCurate]]'s exact-dedup
    * stage, so the hard and soft paths can never disagree about what a
    * duplicate is. Output per document: its group size, the 1/c sampling
    * weight, and the effective (weight-scaled) token contribution. One
    * hash-agg window over the 32-byte content hash — dedup-sized shuffle,
    * per-row arithmetic after; at 100 TB identical. Weight and effective
    * tokens are single IEEE divisions of exact integers, 6-dp-rounded
    * (the repo's cross-engine float convention). */
  def pipelineSoftDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("h"))
    totalOrder(load(spark, dir, "documents")
      .withColumn("h", contentHash)
      .withColumn("n_tokens", size(Text.tokens(col("text"))).cast("long"))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("group_size"), col("n_tokens"),
        round(lit(1.0) / col("group_size"), 6).as("weight"),
        round(col("n_tokens").cast(DoubleType) / col("group_size"), 6)
          .as("eff_tokens")))
  }

  /** DSIR feature-hash buckets (the paper uses 10k; 8192 here) and the
    * target selector: English documents stand in for the high-quality
    * target corpus the method resamples toward. */
  private val DsirBuckets = 8192L
  private val DsirTarget: Column = col("lang") === "en"
  private val DsirKeep = 100

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * score every raw document by how target-like its hashed n-gram
    * profile is, then Gumbel-top-k sample proportionally to the
    * importance weight. Features are unigram+bigram postings hashed into
    * [[DsirBuckets]] buckets via the repo's cross-engine md5-word idiom;
    * the bucket models for target (English docs) and raw (everything)
    * are two map-side-combined aggregates of ≤ 8192 rows each, the
    * per-bucket log-likelihood-ratio term is 6-dp-rounded and
    * decimal-accumulated per document ([[Text.textLmScore]]'s float
    * convention), and the Gumbel key derives deterministically from the
    * doc id's md5-prefix word (overflow-proof at any id range, unlike a
    * 64-bit multiplicative hash), so the SAMPLE itself is oracle-exact —
    * a seeded-RNG formulation could never be gated. Scale shape: one
    * postings pass (shuffle keyed by the 13-bit bucket), two broadcast
    * model joins, per-row scoring; the final top-k rank is a window over
    * the doc-grain output — at 100 TB the production variant thresholds
    * λ+g against a quantile sketch instead of ranking (the
    * [[Text.textLmSplit]] adjudication), with scoring unchanged. */
  def pipelineDsir(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // the posting features come from the FUSED gram walker: token spans,
    // unigram and bigram digests, and the bucket modulo in one byte pass
    // over the lowered text — bit-identical to tokenize → concat_ws
    // bigrams → md5_prefix32 % m, without materializing a single gram
    // string (round-13 verdict #5: those allocations, not the digests,
    // were the op's dominant per-row constant at sf1). The cache holds
    // compact long arrays at DOC grain; the posting grain exists only
    // inside the two exploding aggregates that consume it.
    val grams = load(spark, dir, "documents")
      .select(col("doc_id"), DsirTarget.as("is_target"),
        graft.functions.GraftFunctions.gramBuckets(
          spark, lower(col("text")), DsirBuckets).as("bs"))
      // materialize the bucket ARRAY before exploding — Generate
      // re-evaluates its child per output row, which would re-walk the
      // text per gram (the textTokenizeTf pitfall, quadratic in doc
      // length)
      .transform(graft.OpCaches.cached)
      .select(col("doc_id"), col("is_target"), explode(col("bs")).as("b"))
    val model = grams.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"))
      .transform(graft.OpCaches.cached)
    // corpus totals are the bucket-model margins — Σcr / Σct over ≤ 8192
    // rows, not a second full pass over the posting grain
    val tot = model.agg(
      sum(col("cr")).cast(DoubleType).as("nr"),
      sum(col("ct")).cast(DoubleType).as("nt"))
    val term = round(
      log((col("ct") + 1L).cast(DoubleType)) - log(col("nt") + DsirBuckets)
        - log((col("cr") + 1L).cast(DoubleType)) + log(col("nr") + DsirBuckets),
      6).cast(DecimalType(38, 6))
    // the LLR term is a pure function of the BUCKET model (≤ 8192 rows):
    // fold it into the broadcast side so the posting-grain pass pays a
    // hash-lookup + decimal add per gram, not 4 libm logs + a round + a
    // decimal cast (measured: the per-posting term evaluation, not the
    // gram hash, was pipeline_dsir's dominant per-row constant at sf1)
    val modelTerm = model.crossJoin(tot).select(col("b"), term.as("term"))
    val scored = grams
      .join(broadcast(modelTerm), "b")
      .select(col("doc_id"), col("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        (sum(col("term")).cast(DoubleType) / count(lit(1))).as("lambda"))
    // uniform u via the cross-engine md5-word idiom, NOT the Knuth
    // multiply: doc_id * 2654435761 silently wraps for doc_id ≳ 3.47e9,
    // driving the modulo negative and log(-log(u)) into NULL territory at
    // exactly the id ranges a 100 TB corpus carries (DuckDB would instead
    // raise on the BIGINT overflow — a cross-engine divergence)
    val gumbel = round(-log(-log(
      (graft.functions.GraftFunctions.md5Prefix32(
        spark, col("doc_id").cast("string")).cast(DoubleType) + 1.0)
        / 4294967297.0)), 6)
    // top-k as TakeOrdered (per-partition heads + a k·p driver merge),
    // NOT a global row_number window (single-partition sort collapse)
    val keyed = scored.withColumn("gumbel", gumbel)
      .transform(graft.OpCaches.cached)
    val topk = keyed
      .orderBy((col("lambda") + col("gumbel")).desc, col("doc_id"))
      .limit(DsirKeep)
      .select(col("doc_id"), lit(true).as("sel"))
    totalOrder(keyed
      .join(broadcast(topk), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), col("lambda"), col("gumbel"),
        coalesce(col("sel"), lit(false)).as("selected")))
  }

  /** Chunking geometry for [[pipelineChunkText]]: 64-token windows at
    * stride 48 (16-token overlap) — the shape every embedding/RAG
    * pipeline cuts documents into before vectorizing. */
  private val ChunkSize = 64L
  private val ChunkStride = 48L

  /** Fixed-token-window document chunking with overlap — the splitter
    * every retrieval/embedding pipeline runs between curation and
    * vectorization (and pretraining runs for long-doc packing): per
    * document, windows of [[ChunkSize]] tokens at [[ChunkStride]] stride,
    * the final window clipped to the document end; each chunk ships its
    * token extent and an md5 content handle (what a vector store keys
    * embeddings by, and what makes chunk-level dedup possible
    * downstream). Chunk count is exact integer ceiling arithmetic —
    * 1 + ⌈max(n−size, 0) / stride⌉ — so the geometry is oracle-exact.
    * Scale shape: the token array materializes once per row (the
    * Generate pitfall), then everything is per-row expressions exploding
    * to output grain — no shuffle anywhere; at 100 TB this is scan →
    * explode → write, the embarrassingly-parallel ideal. */
  def pipelineChunkText(spark: SparkSession, dir: String): DataFrame = {
    totalOrder(load(spark, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .withColumn("n", size(col("t")).cast("long"))
      // integer division: Column./ is true division, so go through expr
      .withColumn("n_chunks", expr(
        s"1L + (greatest(n - $ChunkSize, 0L) + ${ChunkStride - 1}L) DIV " +
          s"${ChunkStride}L"))
      .transform(graft.OpCaches.cached)
      .select(col("doc_id"), col("n"), col("t"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_id"))
      .withColumn("tok_start", col("chunk_id") * ChunkStride + 1L)
      .withColumn("tok_end",
        least(col("tok_start") + (ChunkSize - 1L), col("n")))
      .select(col("doc_id"), col("chunk_id"), col("tok_start"),
        col("tok_end"),
        (col("tok_end") - col("tok_start") + 1L).as("n_tok"),
        md5(array_join(slice(col("t"), col("tok_start").cast("int"),
          (col("tok_end") - col("tok_start") + 1L).cast("int")), " "))
          .as("chunk_md5")))
  }

  /** Sampling exponent for [[pipelineSampleTemperature]] — α = 0.3, the
    * mT5 setting (q ∝ p^α; α < 1 flattens the distribution, i.e.
    * temperature T = 1/α ≈ 3.3 in the other common parameterization). */
  private val SampleTempExp = 0.3

  /** Temperature-scaled source sampling — the mixture recipe multilingual
    * and multi-domain pretraining actually uses (mT5 / XLM-R shape): raw
    * share p_s = n_s/N is flattened to q_s ∝ p_s^α (α < 1), which
    * upsamples small sources and downsamples dominant ones; given the
    * [[TokenBudget]], each source's target is q_s·B and its per-document
    * keep rate min(1, q_s·B/n_s) ships as an INTEGER per-mille so the
    * actual draw can run through [[pipelineSampleWeighted]]'s
    * deterministic integer keep rule (kept ⇔ u·1000 < p‰·2³²) — the
    * recipe is auditable end-to-end, not a seeded RNG. Per-term powers
    * are 6-dp-rounded then decimal-normalized (the [[Text.textLmScore]]
    * float convention), the epochs ratio is the one IEEE division.
    * One map-side-combined aggregate over the corpus → a |sources|-row
    * report; at 100 TB this is a scan plus a 20-row shuffle, run BEFORE
    * the sampler the same way [[pipelineTokenBudget]] is. */
  def pipelineSampleTemperature(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perSrc = load(spark, dir, "documents")
      .select(col("source"),
        size(Text.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).cast(DoubleType).as("n_total"))
    val weighted = perSrc.crossJoin(broadcast(tot))
      .withColumn("share", col("n_tokens").cast(DoubleType) / col("n_total"))
      .withColumn("w",
        round(pow(col("share"), SampleTempExp), 6)
          .cast(DecimalType(38, 6)))
    val wsum = weighted.agg(sum(col("w")).cast(DoubleType).as("w_sum"))
    totalOrder(weighted.crossJoin(broadcast(wsum))
      .withColumn("q", col("w").cast(DoubleType) / col("w_sum"))
      .withColumn("target_tokens", col("q") * TokenBudget)
      .withColumn("keep_mille",
        least(lit(1000L),
          floor(col("target_tokens") / col("n_tokens").cast(DoubleType)
            * 1000.0).cast("long")))
      .withColumn("epochs",
        col("target_tokens") / col("n_tokens").cast(DoubleType))
      .select(col("source"), col("n_tokens"), col("share"),
        col("w").cast(DoubleType).as("temp_weight"), col("q"),
        col("target_tokens"), col("keep_mille"), col("epochs")))
  }

  // ----------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_token_budget" -> pipelineTokenBudget,
    "pipeline_sample_weighted" -> pipelineSampleWeighted,
    "pipeline_quality_classifier" -> pipelineQualityClassifier,
    "pipeline_corpus_stats" -> pipelineCorpusStats,
    "pipeline_filter_funnel" -> pipelineFilterFunnel,
    "pipeline_curate" -> pipelineCurate,
    "pipeline_pack_sequences" -> pipelinePackSequences,
    "pipeline_source_mix" -> pipelineSourceMix,
    "pipeline_decontaminate" -> pipelineDecontaminate,
    "pipeline_contam_report" -> pipelineContamReport,
    "pipeline_repetition_filter" -> pipelineRepetitionFilter,
    "pipeline_shard_manifest" -> pipelineShardManifest,
    "pipeline_shuffle_order" -> pipelineShuffleOrder,
    "pipeline_gopher_rules" -> pipelineGopherRules,
    "pipeline_soft_dedup" -> pipelineSoftDedup,
    "pipeline_dsir" -> pipelineDsir,
    "pipeline_chunk_text" -> pipelineChunkText,
    "pipeline_sample_temperature" -> pipelineSampleTemperature,
    "sample_stratified" -> sampleStratified,
    "text_pii_scrub" -> textPiiScrub)

  val oracle: Map[String, String] = Map(
    "pipeline_gopher_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |      x -> x <> '') AS w,
         |    string_split(text, chr(10)) AS ln,
         |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
         |      AS n_hash,
         |    CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT)
         |      AS n_ell
         |  FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(COALESCE(list_aggregate(list_transform(w, x -> len(x)),
         |      'sum'), 0) AS BIGINT) AS word_chars,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
         |      AS BIGINT) AS n_alpha,
         |    CAST(${GopherStops.map(s =>
                s"CASE WHEN list_contains(w, '$s') THEN 1 ELSE 0 END")
                .mkString(" + ")} AS BIGINT) AS n_stop,
         |    CAST(len(ln) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(ln, x -> regexp_matches(x, '^\\s*[-*•]')))
         |      AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(ln, x -> x LIKE '%...')) AS BIGINT)
         |      AS n_ell_line,
         |    n_hash, n_ell
         |  FROM t)
         |SELECT doc_id, n_words, word_chars, n_alpha, n_stop,
         |  n_words >= 50 AND n_words <= 100000 AS r_word_count,
         |  word_chars >= 3 * n_words AND word_chars <= 10 * n_words
         |    AS r_mean_word_len,
         |  10 * (n_hash + n_ell) <= n_words AS r_symbol_ratio,
         |  10 * n_bullet <= 9 * n_lines AND 10 * n_ell_line <= 3 * n_lines
         |    AS r_bullet_ellipsis,
         |  5 * n_alpha >= 4 * n_words AS r_alpha_words,
         |  n_stop >= 2 AS r_stopwords,
         |  (n_words >= 50 AND n_words <= 100000)
         |    AND (word_chars >= 3 * n_words AND word_chars <= 10 * n_words)
         |    AND (10 * (n_hash + n_ell) <= n_words)
         |    AND (10 * n_bullet <= 9 * n_lines
         |         AND 10 * n_ell_line <= 3 * n_lines)
         |    AND (5 * n_alpha >= 4 * n_words)
         |    AND (n_stop >= 2) AS pass_gopher
         |FROM f
         |${orderAll("doc_id", "n_words", "word_chars", "n_alpha", "n_stop",
              "r_word_count", "r_mean_word_len", "r_symbol_ratio",
              "r_bullet_ellipsis", "r_alpha_words", "r_stopwords",
              "pass_gopher")}""".stripMargin,
    "pipeline_soft_dedup" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    sha256(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS h,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text),
         |      '[^a-z0-9'']+'), x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, n_tokens,
         |    COUNT(*) OVER (PARTITION BY h) AS group_size
         |  FROM h)
         |SELECT doc_id, group_size, n_tokens,
         |  round(CAST(1.0 AS DOUBLE) / group_size, 6) AS weight,
         |  round(CAST(n_tokens AS DOUBLE) / group_size, 6) AS eff_tokens
         |FROM g
         |${orderAll("doc_id", "group_size", "n_tokens", "weight",
              "eff_tokens")}""".stripMargin,
    "pipeline_dsir" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, list_filter(
         |    regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |    x -> x <> '') AS t
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, lang, unnest(list_concat(t,
         |    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])))
         |    AS g
         |  FROM tok),
         |posts AS (
         |  SELECT doc_id, lang = 'en' AS is_target,
         |    CAST(('0x' || substring(md5(g), 1, 8))::UBIGINT AS BIGINT)
         |      % $DsirBuckets AS b
         |  FROM grams),
         |model AS (
         |  SELECT b, COUNT(*) AS cr,
         |    SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
         |  FROM posts GROUP BY b),
         |tot AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS nr,
         |    CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS DOUBLE) AS nt
         |  FROM posts),
         |scored AS (
         |  SELECT p.doc_id, COUNT(*) AS n_grams,
         |    CAST(SUM(CAST(round(
         |      ln(CAST(m.ct + 1 AS DOUBLE)) - ln(nt + $DsirBuckets.0)
         |      - ln(CAST(m.cr + 1 AS DOUBLE)) + ln(nr + $DsirBuckets.0), 6)
         |      AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS lambda
         |  FROM posts p JOIN model m USING (b), tot
         |  GROUP BY p.doc_id),
         |keyed AS (
         |  SELECT doc_id, n_grams, lambda,
         |    round(-ln(-ln(
         |      (CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
         |        1, 8))::UBIGINT AS BIGINT) AS DOUBLE) + 1.0)
         |      / 4294967297.0)), 6) AS gumbel
         |  FROM scored)
         |SELECT doc_id, n_grams, lambda, gumbel,
         |  row_number() OVER (ORDER BY lambda + gumbel DESC, doc_id)
         |    <= $DsirKeep AS selected
         |FROM keyed
         |${orderAll("doc_id", "n_grams", "lambda", "gumbel", "selected")}"""
        .stripMargin,
    "pipeline_sample_temperature" ->
      s"""WITH s AS (
         |  SELECT source, CAST(SUM(len(list_filter(
         |    regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |    x -> x <> ''))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS n_total FROM s),
         |w AS (
         |  SELECT source, n_tokens,
         |    CAST(n_tokens AS DOUBLE) / n_total AS share,
         |    CAST(round(pow(CAST(n_tokens AS DOUBLE) / n_total,
         |      $SampleTempExp), 6) AS DECIMAL(38,6)) AS w
         |  FROM s, tot),
         |ws AS (SELECT CAST(SUM(w) AS DOUBLE) AS w_sum FROM w)
         |SELECT source, n_tokens, share,
         |  CAST(w AS DOUBLE) AS temp_weight,
         |  CAST(w AS DOUBLE) / w_sum AS q,
         |  CAST(w AS DOUBLE) / w_sum * $TokenBudget AS target_tokens,
         |  least(1000, CAST(floor(CAST(w AS DOUBLE) / w_sum * $TokenBudget
         |    / CAST(n_tokens AS DOUBLE) * 1000.0) AS BIGINT)) AS keep_mille,
         |  CAST(w AS DOUBLE) / w_sum * $TokenBudget
         |    / CAST(n_tokens AS DOUBLE) AS epochs
         |FROM w, ws
         |${orderAll("source", "n_tokens", "share", "temp_weight", "q",
              "target_tokens", "keep_mille", "epochs")}""".stripMargin,
    "pipeline_chunk_text" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(
         |    regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |    x -> x <> '') AS t
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n
         |  FROM tok WHERE len(t) >= 1),
         |c AS (
         |  SELECT doc_id, t, n,
         |    1 + (greatest(n - $ChunkSize, 0) + ${ChunkStride - 1})
         |      // $ChunkStride AS n_chunks
         |  FROM d),
         |e AS (
         |  SELECT doc_id, t, n, unnest(range(0, n_chunks)) AS chunk_id
         |  FROM c)
         |SELECT doc_id, chunk_id,
         |  chunk_id * $ChunkStride + 1 AS tok_start,
         |  least(chunk_id * $ChunkStride + $ChunkSize, n) AS tok_end,
         |  least(chunk_id * $ChunkStride + $ChunkSize, n)
         |    - (chunk_id * $ChunkStride + 1) + 1 AS n_tok,
         |  md5(array_to_string(t[(chunk_id * $ChunkStride + 1):
         |    (least(chunk_id * $ChunkStride + $ChunkSize, n))], ' '))
         |    AS chunk_md5
         |FROM e
         |${orderAll("doc_id", "chunk_id", "tok_start", "tok_end", "n_tok",
              "chunk_md5")}""".stripMargin,
    "pipeline_token_budget" ->
      s"""WITH s AS (
         |  SELECT source,
         |    CAST(SUM(len(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |      t -> t <> ''))) AS BIGINT) AS avail_tokens,
         |    CAST(substring(source, 4) AS BIGINT) + 1 AS weight
         |  FROM documents GROUP BY source)
         |SELECT source, weight, avail_tokens,
         |  weight * ${TokenBudget / 210L} AS target_tokens,
         |  CAST(weight * ${TokenBudget / 210L} AS DOUBLE) / avail_tokens
         |    AS epochs,
         |  weight * ${TokenBudget / 210L} > $EpochCap * avail_tokens
         |    AS data_constrained,
         |  least(weight * ${TokenBudget / 210L}, $EpochCap * avail_tokens)
         |    AS effective_tokens
         |FROM s
         |${orderAll("source", "weight", "avail_tokens", "target_tokens",
                     "epochs", "data_constrained", "effective_tokens")}""".stripMargin,
    "pipeline_sample_weighted" -> {
      val vals = SampleWeights
        .map { case (s, p) => s"('$s', $p)" }.mkString(", ")
      s"""WITH w(source, p_mille) AS (VALUES $vals),
         |d AS (
         |  SELECT doc_id, source,
         |    (doc_id * 2654435761) % 4294967296 AS u
         |  FROM documents)
         |SELECT d.doc_id, d.source, CAST(w.p_mille AS BIGINT) AS p_mille, d.u
         |FROM d JOIN w USING (source)
         |WHERE d.u * 1000 < w.p_mille * 4294967296
         |${orderAll("doc_id", "source", "p_mille", "u")}""".stripMargin
    },
    "pipeline_quality_classifier" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text),
         |        '[^a-z0-9'']+'), x -> x <> '')) AS DOUBLE) AS n_tokens,
         |    CAST(len(regexp_extract_all(lower(text),
         |        '\\b(the|a|and|of|to|in|is|for|on|it)\\b')) AS DOUBLE) AS n_stop,
         |    CAST(len(regexp_extract_all(text, '[^a-z0-9\\s'']')) AS DOUBLE)
         |      AS n_punct
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, CAST(
         |    CAST(round((n_stop / n_tokens) * CAST(1.5 AS DOUBLE), 6)
         |      AS DECIMAL(38,6))
         |    + CAST(round((n_punct / n_chars) * CAST(-2.0 AS DOUBLE), 6)
         |      AS DECIMAL(38,6))
         |    + CAST(round((n_chars / n_tokens) * CAST(-0.05 AS DOUBLE), 6)
         |      AS DECIMAL(38,6))
         |    + CAST(round(LEAST(n_tokens, CAST(400.0 AS DOUBLE))
         |        * CAST(0.002 AS DOUBLE), 6) AS DECIMAL(38,6))
         |    + CAST(-0.1 AS DECIMAL(38,6)) AS DOUBLE) AS score
         |  FROM t)
         |SELECT doc_id, score,
         |  CASE WHEN score >= 0.3 THEN 'keep'
         |       WHEN score >= 0.0 THEN 'review'
         |       ELSE 'drop' END AS label
         |FROM f
         |${orderAll("doc_id", "score", "label")}""".stripMargin,
    "pipeline_corpus_stats" ->
      s"""WITH t AS (
         |  SELECT source, lang, n_chars,
         |    len(list_filter(regexp_split_to_array(lower(text),
         |      '[^a-z0-9'']+'), x -> x <> '')) AS n_tok
         |  FROM documents)
         |SELECT source,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  COUNT(DISTINCT lang) AS n_langs,
         |  ${graft.Tables.sqlDavg("n_chars")} AS avg_chars,
         |  CAST(SUM(CASE WHEN n_tok < 50 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS short_docs
         |FROM t GROUP BY source
         |${orderAll("source", "n_docs", "n_tokens", "n_langs", "avg_chars",
              "short_docs")}""".stripMargin,
    "pipeline_shard_manifest" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |      x -> x <> '')) AS n_tokens
         |  FROM documents),
         |packed AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         |      / 4096) AS BIGINT) AS shard
         |  FROM t)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
         |  sha256(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         |    AS ids_sha
         |FROM packed GROUP BY shard
         |${orderAll("shard", "n_docs", "n_tokens", "min_doc", "max_doc", "ids_sha")}""".stripMargin,
    "pipeline_decontaminate" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |      x -> x <> '') AS t
         |  FROM documents),
         |p AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(generate_series(1, len(t) - 4),
         |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
         |          t[i+3] || ' ' || t[i+4])) AS g
         |    FROM t WHERE len(t) >= 5)),
         |e AS (SELECT DISTINCT g FROM p WHERE doc_id % 97 = 0)
         |SELECT doc_id, COUNT(*) AS n_shared
         |FROM p WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM e)
         |GROUP BY doc_id
         |${orderAll("doc_id", "n_shared")}""".stripMargin,
    "pipeline_contam_report" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |      x -> x <> '') AS t
         |  FROM documents),
         |p AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(generate_series(1, len(t) - 4),
         |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
         |          t[i+3] || ' ' || t[i+4])) AS g
         |    FROM t WHERE len(t) >= 5))
         |SELECT e.doc_id AS eval_id,
         |  COUNT(DISTINCT tr.doc_id) AS n_train_docs,
         |  COUNT(DISTINCT e.g) AS n_grams_hit
         |FROM (SELECT * FROM p WHERE doc_id % 97 = 0) e
         |JOIN (SELECT * FROM p WHERE doc_id % 97 <> 0) tr ON e.g = tr.g
         |GROUP BY e.doc_id
         |${orderAll("eval_id", "n_train_docs", "n_grams_hit")}""".stripMargin,
    "pipeline_repetition_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |      x -> x <> '') AS t
         |  FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    CASE WHEN len(t) >= 3 THEN
         |      list_transform(generate_series(1, len(t) - 2),
         |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         |    ELSE CAST([] AS VARCHAR[]) END AS grams
         |  FROM t),
         |m AS (
         |  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
         |    CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct
         |  FROM g)
         |SELECT doc_id, n_grams, n_distinct,
         |  CASE WHEN n_grams > 0 THEN 1.0 - n_distinct / n_grams
         |       ELSE 0.0 END AS rep_ratio,
         |  (CASE WHEN n_grams > 0 THEN 1.0 - n_distinct / n_grams
         |        ELSE 0.0 END) <= 0.2 AS keep
         |FROM m
         |${orderAll("doc_id", "n_grams", "n_distinct", "rep_ratio", "keep")}""".stripMargin,
    "pipeline_filter_funnel" ->
      s"""WITH flags AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY sha256(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
         |      ORDER BY doc_id) = 1 AS is_survivor,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |        x -> x <> '')) AS DOUBLE) AS n_tokens,
         |    CAST(len(regexp_extract_all(lower(text),
         |        '\\b(the|a|and|of|to|in|is|for|on|it)\\b')) AS DOUBLE) AS n_stop,
         |    CAST(len(regexp_extract_all(text, '[^a-z0-9\\s'']')) AS DOUBLE) AS n_punct,
         |    n_chars
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, is_survivor, n_tokens,
         |    (n_stop / n_tokens) * 0.5 - (n_punct / n_chars) * 0.3
         |      + (CASE WHEN n_tokens >= 20.0 THEN 0.2 ELSE 0.0 END) AS quality
         |  FROM flags),
         |st AS (
         |  SELECT s.doc_id, s.is_survivor AS s1,
         |    s.is_survivor AND s.quality >= $QualityMin AS s2,
         |    s.is_survivor AND s.quality >= $QualityMin
         |      AND s.n_tokens >= $MinCurateTokens AS s3,
         |    s.is_survivor AND s.quality >= $QualityMin
         |      AND s.n_tokens >= $MinCurateTokens
         |      AND e.vec_id IS NOT NULL AS s4
         |  FROM scored s LEFT JOIN embeddings e ON e.vec_id = s.doc_id)
         |SELECT COUNT(*) AS n_input,
         |  CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup_survivor,
         |  CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_length,
         |  CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n_final
         |FROM st
         |${orderAll("n_input", "n_dedup_survivor", "n_quality", "n_length",
              "n_final")}""".stripMargin,
    "pipeline_curate" ->
      s"""WITH survivors AS (
         |  SELECT doc_id, lang, source FROM (
         |    SELECT doc_id, lang, source,
         |      ROW_NUMBER() OVER (
         |        PARTITION BY sha256(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
         |        ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |q AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |        x -> x <> '')) AS DOUBLE) AS n_tokens,
         |    CAST(len(regexp_extract_all(lower(text),
         |        '\\b(the|a|and|of|to|in|is|for|on|it)\\b')) AS DOUBLE) AS n_stop,
         |    CAST(len(regexp_extract_all(text, '[^a-z0-9\\s'']')) AS DOUBLE) AS n_punct,
         |    n_chars
         |  FROM documents),
         |qs AS (
         |  SELECT doc_id, n_tokens,
         |    (n_stop / n_tokens) * 0.5 - (n_punct / n_chars) * 0.3
         |      + (CASE WHEN n_tokens >= 20.0 THEN 0.2 ELSE 0.0 END) AS quality
         |  FROM q),
         |e AS (
         |  SELECT vec_id AS doc_id,
         |    sqrt(list_aggregate(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS emb_norm
         |  FROM embeddings)
         |SELECT * FROM (
         |  SELECT s.doc_id, s.lang, s.source, qs.n_tokens, qs.quality, e.emb_norm
         |  FROM survivors s
         |  JOIN qs ON qs.doc_id = s.doc_id
         |  JOIN e ON e.doc_id = s.doc_id
         |  WHERE qs.quality >= $QualityMin AND qs.n_tokens >= $MinCurateTokens)
         |${orderAll("doc_id", "lang", "source", "n_tokens", "quality", "emb_norm")}""".stripMargin,
    "pipeline_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
         |      x -> x <> '')) AS n_tokens
         |  FROM documents)
         |SELECT doc_id, n_tokens,
         |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens,
         |  CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         |    / 4096) AS BIGINT) AS shard
         |FROM t
         |${orderAll("doc_id", "n_tokens", "cum_tokens", "shard")}""".stripMargin,
    "pipeline_shuffle_order" ->
      s"""WITH k AS (
         |  SELECT doc_id, source,
         |    md5('epoch-0:' || CAST(doc_id AS VARCHAR)) AS skey
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, source, skey,
         |    CAST(('0x' || substring(skey, 1, 8))::UBIGINT % 8 AS BIGINT)
         |      AS shard
         |  FROM k)
         |SELECT doc_id, source, shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey)
         |    AS INT) AS pos
         |FROM s
         |${orderAll("doc_id", "source", "shard", "pos")}""".stripMargin,
    "pipeline_source_mix" ->
      s"""SELECT doc_id, source,
         |  CASE WHEN length(source) % 2 = 0 THEN 100 ELSE 25 END AS rate_pct,
         |  (doc_id * 2654435761) % 4294967296 % 100 <
         |    (CASE WHEN length(source) % 2 = 0 THEN 100 ELSE 25 END) AS keep
         |FROM documents
         |${orderAll("doc_id", "source", "rate_pct", "keep")}""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang,
         |  (doc_id * 2654435761) % 4294967296 % 10 AS bucket,
         |  CASE WHEN (doc_id * 2654435761) % 4294967296 % 10 < 8 THEN 'train'
         |       WHEN (doc_id * 2654435761) % 4294967296 % 10 < 9 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM documents
         |${orderAll("doc_id", "lang", "bucket", "split")}""".stripMargin,
    "text_pii_scrub" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |    text || ' Contact: ' || source || CAST(doc_id AS VARCHAR)
         |      || '@example.com or 555-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS payload
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, payload,
         |    regexp_replace(
         |      regexp_replace(payload, '$EmailPat', '<EMAIL>', 'g'),
         |      '$PhonePat', '<PHONE>', 'g') AS scrubbed
         |  FROM p)
         |SELECT doc_id,
         |  len(regexp_extract_all(payload, '$EmailPat')) AS n_emails,
         |  len(regexp_extract_all(payload, '$PhonePat')) AS n_phones,
         |  length(scrubbed) AS n_chars_scrubbed,
         |  md5(scrubbed) AS scrubbed_hash
         |FROM s
         |${orderAll("doc_id", "n_emails", "n_phones", "n_chars_scrubbed", "scrubbed_hash")}""".stripMargin)
}
