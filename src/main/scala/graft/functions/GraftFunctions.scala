package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.expressions.Aggregator

/** Registration surface for graft's custom Catalyst functions.
  *
  * Production path: `spark.sql.extensions=graft.functions.GraftExtensions`
  * injects them at session build. Library path: [[GraftFunctions.register]]
  * adds them to an existing session's registry (idempotent) — used by the
  * driver-contract queries, which receive an already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => VecDotRewrite)
  }
}

object GraftFunctions {

  /** Registry entry for `name`, described by the expression class built. */
  private def fn[E <: Expression](name: String)(build: Seq[Expression] => E)(
      implicit ct: scala.reflect.ClassTag[E]) =
    (new FunctionIdentifier(name), new ExpressionInfo(ct.runtimeClass.getName, name),
      build: Seq[Expression] => Expression)

  private[graft] val descriptors = Seq(
    fn("vec_dot")(c => VecDot(c.head, c(1))),
    fn("simhash64")(c => SimHash64(c.head)),
    fn("md5_words")(c => Md5Words(c.head)),
    fn("band_keys")(c => BandKeys(c.head)),
    fn("syllable_sum")(c => SyllableSum(c.head)),
    fn("md5_prefix32")(c => Md5Prefix32(c.head)),
    fn("token_count")(c => TokenCount(c.head)),
    fn("stop_count")(c => StopCount(c.head)),
    fn("punct_count")(c => PunctCount(c.head)),
    fn("gopher_word_stats")(c => GopherWordStats(c.head)),
    fn("gopher_line_stats")(c => GopherLineStats(c.head)),
    fn("pq_assign")(c => PqAssign(c.head, c(1))),
    fn("gram_buckets") { c =>
      val m = c(1) match {
        case Literal(v: Long, _) => v
        case Literal(v: Int, _) => v.toLong
        case other => throw new IllegalArgumentException(
          s"gram_buckets(s, m): m must be an integer literal, got $other")
      }
      GramBuckets(c.head, m)
    },
    fn("minhash_sig") { c =>
      val n = c(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"minhash_sig(arr, n): n must be an int literal, got $other")
      }
      MinHashSig(c.head, n)
    })

  /** Idempotently register graft functions (and the [[VecDotRewrite]]
    * optimizer rule) on a live session. */
  def register(spark: SparkSession): Unit = {
    descriptors.foreach { case (id, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(id))
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(VecDotRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ VecDotRewrite
  }

  /** `name(args)` through the registry (so plans serialize cleanly),
    * registering graft functions first. */
  private def call(spark: SparkSession, name: String, args: Column*): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(name, args: _*)
  }

  /** `vec_dot` as a Column. */
  def vecDot(spark: SparkSession, a: Column, b: Column): Column =
    call(spark, "vec_dot", a, b)

  /** `band_keys` as a Column (fused banded sign-LSH signature). */
  def bandKeys(spark: SparkSession, emb: Column): Column =
    call(spark, "band_keys", emb)

  /** `md5_words` as a Column: array(word1, word2) of 60-bit md5 words. */
  def md5Words(spark: SparkSession, s: Column): Column =
    call(spark, "md5_words", s)

  /** `simhash64` as a Column. */
  def simHash64(spark: SparkSession, hashes: Column): Column =
    call(spark, "simhash64", hashes)

  /** `syllable_sum` as a Column: Σ max(1, vowel-group runs) over a token
    * array — the fused readability syllable counter. */
  def syllableSum(spark: SparkSession, words: Column): Column =
    call(spark, "syllable_sum", words)

  /** `md5_prefix32` as a Column: the unsigned 32-bit md5 prefix as a long
    * (`conv(substring(md5(s), 1, 8), 16, 10)` fused into one digest). */
  def md5Prefix32(spark: SparkSession, s: Column): Column =
    call(spark, "md5_prefix32", s)

  /** `gram_buckets` as a Column: hashed unigram+bigram md5-prefix32
    * buckets of an already-lowercased string, one byte-walk. */
  def gramBuckets(spark: SparkSession, lowered: Column, m: Long): Column =
    call(spark, "gram_buckets", lowered, org.apache.spark.sql.functions.lit(m))

  /** `token_count` as a Column: size of the canonical token split over an
    * already-lowercased string, without building the array. */
  def tokenCount(spark: SparkSession, lowered: Column): Column =
    call(spark, "token_count", lowered)

  /** `stop_count` as a Column: quality-scorer stopword matches over an
    * already-lowercased string. */
  def stopCount(spark: SparkSession, lowered: Column): Column =
    call(spark, "stop_count", lowered)

  /** `punct_count` as a Column: `[^a-z0-9\s']` code points over raw text. */
  def punctCount(spark: SparkSession, raw: Column): Column =
    call(spark, "punct_count", raw)

  /** `gopher_word_stats` as a Column: [n_words, word_chars, n_alpha,
    * n_stop] over an already-lowercased string, one byte-walk. */
  def gopherWordStats(spark: SparkSession, lowered: Column): Column =
    call(spark, "gopher_word_stats", lowered)

  /** `gopher_line_stats` as a Column: [n_lines, n_bullet, n_ell_line,
    * n_hash, n_ell] over raw text, one byte-walk. */
  def gopherLineStats(spark: SparkSession, raw: Column): Column =
    call(spark, "gopher_line_stats", raw)

  /** `pq_assign` as a Column: cid of the nearest codeword in `books`
    * (collected per-subspace codebook) to `sub`, ties → lowest cid. */
  def pqAssign(spark: SparkSession, sub: Column, books: Column): Column =
    call(spark, "pq_assign", sub, books)

  /** `minhash_sig` as a Column (n must be a literal). */
  def minHashSig(spark: SparkSession, hashes: Column, n: Int): Column =
    call(spark, "minhash_sig", hashes, org.apache.spark.sql.functions.lit(n))

  /** Exact micro-unit centroid Aggregator (SURVEY §2.9 vector-centroid
    * UDAF): accumulates each component as a scale-6 decimal long (the same
    * quantization as Tables.dsum), so the sum is an order-independent
    * integer and the result matches the posexplode+decimal formulation
    * bit-for-bit regardless of partitioning. */
  /** Misra–Gries heavy-hitter sketch (Misra & Gries 1982; the "frequent"
    * algorithm) as a typed partial Aggregator — the SURVEY §2.9 UDAF
    * surface applied to frequency estimation. Buffer = at most `k`
    * (item, counter) pairs; `reduce` is the classic decrement-all step,
    * `merge` sums two sketches then subtracts the (k+1)-th largest
    * counter and drops the non-positive (the standard mergeable-summary
    * rule, Agarwal et al. 2012), which preserves THE guarantee: any item
    * with global count > N/k survives in the merged sketch (by the
    * pigeonhole/averaging argument over partitions). The sketch is a
    * CANDIDATE GENERATOR — counters are not exact counts — so the
    * consuming op pairs it with an exact verify pass over just the ≤ k
    * candidates; see [[graft.ops.Aggregates]] agg_heavy_hitters. */
  class MisraGries(k: Int)
    extends Aggregator[String, (Array[String], Array[Long]), Map[String, Long]] {
    // buffer = parallel (item, counter) arrays of length <= k, MUTATED in
    // place between rows (the VecCentroid discipline — Aggregator buffers
    // are live JVM objects until an exchange serializes them): the per-row
    // hot path is one linear scan over <= k entries with no allocation;
    // the only copies happen on the rare grow/evict events

    override def zero: (Array[String], Array[Long]) =
      (Array.empty[String], Array.empty[Long])

    override def reduce(b: (Array[String], Array[Long]),
        v: String): (Array[String], Array[Long]) = {
      val (ts, cs) = b
      var i = 0
      while (i < ts.length) {
        if (ts(i) == v) { cs(i) += 1; return b }
        i += 1
      }
      if (ts.length < k) (ts :+ v, cs :+ 1L)
      else { // decrement every counter; compact out the zeroed
        var kept = 0
        i = 0
        while (i < cs.length) { cs(i) -= 1; if (cs(i) > 0) kept += 1; i += 1 }
        if (kept == cs.length) b
        else {
          val nt = new Array[String](kept); val nc = new Array[Long](kept)
          var j = 0; i = 0
          while (i < cs.length) {
            if (cs(i) > 0) { nt(j) = ts(i); nc(j) = cs(i); j += 1 }
            i += 1
          }
          (nt, nc)
        }
      }
    }

    override def merge(a: (Array[String], Array[Long]),
        b: (Array[String], Array[Long])): (Array[String], Array[Long]) = {
      val sum = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var i = 0
      while (i < a._1.length) { sum(a._1(i)) = a._2(i); i += 1 }
      i = 0
      while (i < b._1.length) {
        sum(b._1(i)) = sum.getOrElse(b._1(i), 0L) + b._2(i); i += 1
      }
      val trimmed =
        if (sum.size <= k) sum.toSeq
        else { // subtract the (k+1)-th largest counter; drop non-positive
          val d = sum.values.toSeq.sorted(Ordering[Long].reverse)(k)
          sum.toSeq.collect { case (t, c) if c > d => t -> (c - d) }
        }
      (trimmed.map(_._1).toArray, trimmed.map(_._2).toArray)
    }

    override def finish(r: (Array[String], Array[Long])): Map[String, Long] =
      r._1.zip(r._2).toMap

    override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[String], Array[Long])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[String], Array[Long])]()

    override def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  class VecCentroid(dim: Int)
    extends Aggregator[Array[Float], (Array[Long], Long), Array[Double]] {

    override def zero: (Array[Long], Long) = (new Array[Long](dim), 0L)

    override def reduce(b: (Array[Long], Long), v: Array[Float]): (Array[Long], Long) = {
      var i = 0
      while (i < dim && i < v.length) {
        b._1(i) += BigDecimal(v(i).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).underlying.unscaledValue.longValue
        i += 1
      }
      (b._1, b._2 + 1)
    }

    override def merge(a: (Array[Long], Long), b: (Array[Long], Long)): (Array[Long], Long) = {
      var i = 0
      while (i < dim) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }

    override def finish(r: (Array[Long], Long)): Array[Double] =
      r._1.map(m => (m.toDouble / 1e6) / r._2)

    override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Long], Long)]()

    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** K-minimum-values distinct sketch (Bar-Yossef et al. 2002; the KMV /
    * bottom-k estimator) as a typed partial Aggregator — the PROVABLE
    * point on the distinct-count spectrum next to `approx_count_distinct`:
    * HLL's register layout is engine-private (rows-only under the gate),
    * but KMV's summary is just the k smallest DISTINCT hash values, and
    * with the repo's cross-engine md5-prefix hash the whole sketch — and
    * the estimate (k−1)·2^60/h₍k₎ — is bit-reproducible in DuckDB, so a
    * SKETCH op carries a full hash oracle. Mergeable without error
    * compounding: the k smallest of a union is computable from the k
    * smallest of the parts (min-k is associative/commutative/idempotent),
    * which HLL register-merges share but sampling sketches don't. Each
    * map task reduces its slice to ≤ k longs, so the exchange carries
    * O(k) per (task, group) — the same wire shape as HLL at ~8 bytes per
    * register-equivalent — and the same summary doubles as a set sketch
    * (KMV intersection estimates Jaccard). Buffer = sorted ascending
    * long array of ≤ k distinct hashes, mutated only on insert. */
  class KmvDistinct(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {

    override def zero: Array[Long] = Array.empty[Long]

    override def reduce(b: Array[Long], h: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(b, h)
      if (i >= 0) b // already present: a KMV slot holds DISTINCT hashes
      else {
        val ins = -(i + 1)
        if (b.length < k) { // grow: insert in order
          val nb = new Array[Long](b.length + 1)
          System.arraycopy(b, 0, nb, 0, ins)
          nb(ins) = h
          System.arraycopy(b, ins, nb, ins + 1, b.length - ins)
          nb
        } else if (ins < k) { // full: displace the current max
          val nb = new Array[Long](k)
          System.arraycopy(b, 0, nb, 0, ins)
          nb(ins) = h
          System.arraycopy(b, ins, nb, ins + 1, k - ins - 1)
          nb
        } else b // h >= current kth minimum: irrelevant to the sketch
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      // sorted-merge with dedup, stopping at k survivors
      val out = new Array[Long](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var n = 0
      var last = Long.MinValue; var first = true
      while (n < out.length && (i < a.length || j < b.length)) {
        val v =
          if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
          else { val x = b(j); j += 1; x }
        if (first || v != last) { out(n) = v; n += 1; last = v; first = false }
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    override def finish(r: Array[Long]): Array[Long] = r

    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Bottom-k UNIFORM ROW SAMPLE as a typed partial Aggregator — the
    * mergeable sampling primitive under [[graft.ops.Aggregates]]
    * agg_sample_quantile: rows ranked by a deterministic per-row hash
    * (the cross-engine md5 word of a unique row key), the k smallest
    * kept with their payload value. Because the rank is a pure function
    * of the row, the SAMPLE ITSELF is deterministic and mergeable (min-k
    * union, same law as [[KmvDistinct]]) — unlike reservoir sampling,
    * whose result depends on arrival order and so can never be
    * differentially tested or reproduced across engines. Buffer = hash-
    * sorted parallel arrays of ≤ k (hash, value) pairs; equal hashes
    * (the same row replayed) collapse to one slot. */
  class KmvSample(k: Int) extends Aggregator[
    (Long, Double), (Array[Long], Array[Double]), Array[Double]] {

    override def zero: (Array[Long], Array[Double]) =
      (Array.empty[Long], Array.empty[Double])

    override def reduce(b: (Array[Long], Array[Double]),
        r: (Long, Double)): (Array[Long], Array[Double]) = {
      val (hs, vs) = b
      val i = java.util.Arrays.binarySearch(hs, r._1)
      if (i >= 0) b // same row seen again (replay): one slot
      else {
        val ins = -(i + 1)
        val n = math.min(hs.length + 1, k)
        if (hs.length >= k && ins >= k) b
        else {
          val nh = new Array[Long](n); val nv = new Array[Double](n)
          System.arraycopy(hs, 0, nh, 0, math.min(ins, n))
          System.arraycopy(vs, 0, nv, 0, math.min(ins, n))
          nh(ins) = r._1; nv(ins) = r._2
          System.arraycopy(hs, ins, nh, ins + 1, n - ins - 1)
          System.arraycopy(vs, ins, nv, ins + 1, n - ins - 1)
          (nh, nv)
        }
      }
    }

    override def merge(a: (Array[Long], Array[Double]),
        b: (Array[Long], Array[Double])): (Array[Long], Array[Double]) = {
      val n = math.min(a._1.length + b._1.length, k)
      val nh = new Array[Long](n); val nv = new Array[Double](n)
      var i = 0; var j = 0; var out = 0
      var last = Long.MinValue; var first = true
      while (out < n && (i < a._1.length || j < b._1.length)) {
        val takeA = j >= b._1.length ||
          (i < a._1.length && a._1(i) <= b._1(j))
        val (h, v) =
          if (takeA) { val x = (a._1(i), a._2(i)); i += 1; x }
          else { val x = (b._1(j), b._2(j)); j += 1; x }
        if (first || h != last) { nh(out) = h; nv(out) = v; out += 1
          last = h; first = false }
      }
      if (out == n) (nh, nv)
      else (java.util.Arrays.copyOf(nh, out), java.util.Arrays.copyOf(nv, out))
    }

    /** Sample values in hash order (the consumer sorts by value for
      * quantile selection). */
    override def finish(r: (Array[Long], Array[Double])): Array[Double] = r._2

    override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Long], Array[Double])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Long], Array[Double])]()

    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Bounded top-k rows per group as a typed partial Aggregator — the
    * per-group leaderboard WITHOUT the window sort: `row_number() OVER
    * (PARTITION BY g ORDER BY v DESC)` must shuffle and sort EVERY row of
    * every group before discarding all but k, whereas this buffer keeps
    * the k best (value, id) pairs per map task and partial aggregation
    * merges them — the exchange carries ≤ k rows per (task, group), the
    * same reduction TakeOrderedAndProject applies to global top-k but per
    * key. Total order (value DESC, id ASC) makes ties deterministic under
    * any partitioning, so the output equals the window formulation
    * row-for-row and the op carries the window's oracle. Buffer = array
    * sorted best-first, ≤ k entries. */
  class TopKRows(k: Int) extends Aggregator[
    (Double, Long), Array[(Double, Long)], Array[(Double, Long)]] {

    // best-first: higher value wins; ties to the smaller id
    private def beats(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

    override def zero: Array[(Double, Long)] = Array.empty

    override def reduce(b: Array[(Double, Long)],
        v: (Double, Long)): Array[(Double, Long)] = {
      if (b.length >= k && !beats(v, b(k - 1))) return b
      var ins = b.length
      var i = 0
      while (i < b.length) { if (beats(v, b(i))) { ins = i; i = b.length } else i += 1 }
      val n = math.min(b.length + 1, k)
      val nb = new Array[(Double, Long)](n)
      System.arraycopy(b, 0, nb, 0, math.min(ins, n))
      if (ins < n) {
        nb(ins) = v
        System.arraycopy(b, ins, nb, ins + 1, n - ins - 1)
      }
      nb
    }

    override def merge(a: Array[(Double, Long)],
        b: Array[(Double, Long)]): Array[(Double, Long)] = {
      val out = new Array[(Double, Long)](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var n = 0
      while (n < out.length) {
        out(n) =
          if (j >= b.length || (i < a.length && beats(a(i), b(j)))) { val x = a(i); i += 1; x }
          else { val x = b(j); j += 1; x }
        n += 1
      }
      out
    }

    override def finish(r: Array[(Double, Long)]): Array[(Double, Long)] = r

    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long)]]()

    override def outputEncoder: org.apache.spark.sql.Encoder[Array[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long)]]()
  }

  /** Exact distinct-count over int64 ids as a MERGEABLE bitmap summary —
    * the ClickHouse `groupBitmap` / Druid bitmap-aggregator shape, and the
    * exact counterpart of approx_count_distinct's HLL: where
    * `COUNT(DISTINCT x)` forces Spark to shuffle EVERY distinct value
    * (Expand + two exchanges), this Aggregator reduces each map task's
    * slice to a paged bitset, so what crosses the wire per group is
    * O(id-range/8 bytes) of pages, partial-aggregated and OR-merged —
    * the standard trade for dense bounded id spaces (users, devices,
    * entity keys), exact under any partitioning. Buffer = page-index →
    * 4096-bit word array (a roaring-bitmap-lite: absent pages cost
    * nothing, so sparse id spaces stay proportional to |distinct|, not
    * max-id). Negative ids map by floor division, so the full int64
    * domain is valid. Input is boxed and NULL ids are skipped — the
    * COUNT(DISTINCT) semantics the op's oracle carries (a scalaLong
    * input encoder would fail or zero-count a null row instead). */
  class BitmapDistinct
    extends Aggregator[java.lang.Long, Map[Long, Array[Long]], Long] {
    private val PageBits = 4096L // 64 words/page

    override def zero: Map[Long, Array[Long]] = Map.empty

    override def reduce(b: Map[Long, Array[Long]],
        boxed: java.lang.Long): Map[Long, Array[Long]] = {
      if (boxed == null) return b
      val v = boxed.longValue
      val page = java.lang.Math.floorDiv(v, PageBits)
      val bit = java.lang.Math.floorMod(v, PageBits).toInt
      b.get(page) match {
        case Some(words) => // in-place on the live buffer (VecCentroid discipline)
          words(bit >> 6) |= (1L << (bit & 63)); b
        case None =>
          val words = new Array[Long]((PageBits / 64).toInt)
          words(bit >> 6) |= (1L << (bit & 63))
          b + (page -> words)
      }
    }

    override def merge(a: Map[Long, Array[Long]],
        b: Map[Long, Array[Long]]): Map[Long, Array[Long]] = {
      val (big, small) = if (a.size >= b.size) (a, b) else (b, a)
      small.foldLeft(big) { case (acc, (page, words)) =>
        acc.get(page) match {
          case Some(w) =>
            var i = 0
            while (i < w.length) { w(i) |= words(i); i += 1 }
            acc
          case None => acc + (page -> words)
        }
      }
    }

    override def finish(r: Map[Long, Array[Long]]): Long =
      r.valuesIterator.map(_.map(java.lang.Long.bitCount(_).toLong).sum).sum

    override def bufferEncoder: org.apache.spark.sql.Encoder[Map[Long, Array[Long]]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[Long, Array[Long]]]()

    override def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }
}
