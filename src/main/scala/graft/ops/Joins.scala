package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join surface (SURVEY.md §2.3). The reference joins nothing itself (InfluxQL
  * 1.x has no joins; its closest analog is the hand-rolled new-vs-seen file
  * sync, transfer_manager.py:199-217 → semi/anti below), so these demonstrate
  * the full Spark join surface on the TPC-H fixtures with the physical
  * strategies a 100 TB deployment needs:
  *
  *  - broadcast for small dims (tag-metadata joins) — no shuffle of the fact;
  *  - shuffled hash / sort-merge for fact-fact, keyed on the join column so
  *    AQE can re-plan skew;
  *  - as-of composed from union+window (single shuffle, no point-lookup loop
  *    and no O(n²) range explosion — the InfluxDB "last value at t" idiom).
  */
object Joins {
  import Relational.{totalOrder, orderAll}

  /** Fact-fact equi join; Catalyst picks SMJ/shuffled-hash; AQE handles skew.
    * Aggregated after the join so the demo output is stable and small. */
  def joinInnerHash(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    val o = load(spark, dir, "orders")
    totalOrder(li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue")))
  }

  /** Small-dim broadcast join chain (the tag-metadata pattern): the fact side
    * never shuffles; dims replicate to every task. */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val c = load(spark, dir, "customer")
    val n = load(spark, dir, "nation")
    val r = load(spark, dir, "region")
    totalOrder(c
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal")))
  }

  /** Explicit sort-merge path (hint suppresses broadcast) — the strategy that
    * scales when both sides are large and neither fits in memory. */
  def joinSortmerge(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem").hint("merge")
    val o = load(spark, dir, "orders")
    totalOrder(li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderstatus"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty")))
  }

  /** Left outer keeping zero-order customers (nulls from the right side). */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = load(spark, dir, "customer")
    val o = load(spark, dir, "orders").filter(col("o_totalprice") > 100000.0)
    totalOrder(c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_big_orders")))
  }

  /** Semi join: customers having at least one 'F' order (the "seen files"
    * side of transfer_manager.py:199-217 expressed relationally). */
  def joinLeftSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = load(spark, dir, "customer")
    val o = load(spark, dir, "orders").filter(col("o_orderstatus") === "F")
    totalOrder(c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment")))
  }

  /** Anti join: customers with no orders at all (the "new files" side). */
  def joinLeftAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = load(spark, dir, "customer")
    val o = load(spark, dir, "orders")
    totalOrder(c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name")))
  }

  /** Equi key + range residual (interval-join shape): same nation, supplier
    * balance strictly above the customer's. Hash join on the equi key with
    * the theta predicate as residual — never a cross product. */
  def joinThetaRange(spark: SparkSession, dir: String): DataFrame = {
    val s = load(spark, dir, "supplier")
    val c = load(spark, dir, "customer")
    totalOrder(s.join(c,
        s("s_nationkey") === c("c_nationkey") && s("s_acctbal") > c("c_acctbal"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_below")))
  }

  /** Bucketed range join — the interval join rewritten as an EQUI join, the
    * technique that keeps a time-window join linear at 100 TB: a
    * BroadcastNestedLoop theta join is O(n·m) and only survives when one
    * side broadcasts, but a window predicate `p.ts ∈ [c.ts, c.ts+g]` spans
    * at most TWO g-sized buckets, so exploding the left side to (bucket,
    * bucket+1) and keying the right by its own bucket turns the join into
    * `ON (user_id, bucket)` — hash-shuffled, linear, skew governed by the
    * bucket width — with the exact predicate as a post-join refine. Each
    * qualifying pair matches in EXACTLY one bucket (the right row's bucket
    * is unique), so no dedup pass is needed. Same pair semantics as the
    * watermarked stream-stream join; integer µs division keeps bucket
    * assignment exact (double division near 2^53 µs is not). */
  def joinRangeBucket(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val ev = load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("c_us"))
      .withColumn("bucket", explode(array(
        expr(s"c_us DIV $gapUs"), expr(s"c_us DIV $gapUs") + 1)))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("p_us"))
      .withColumn("bucket", expr(s"p_us DIV $gapUs"))
    totalOrder(clicks.join(purchases, Seq("user_id", "bucket"))
      .filter(col("p_us") >= col("c_us") &&
        col("p_us") <= col("c_us") + gapUs)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("p_us") - col("c_us")).as("gap_us")))
  }

  /** As-of join: for each click, the latest view of the same user at-or-before
    * the click. Composed as union → single window (one shuffle, sorted once,
    * streams at any scale) instead of a per-row point lookup or a range join
    * that explodes. Ordering (ts, kind, event_id) makes equal-ts view-before-
    * click deterministic; InfluxDB's implicit "last value at t" semantics
    * (SURVEY.md §2.3 join_asof). */
  def joinAsof(spark: SparkSession, dir: String): DataFrame =
    totalOrder(asofMatched(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("last_view_ts")))

  /** The matched as-of frame shared by [[joinAsof]] and
    * [[joinAsofTolerance]]: one click row each with the latest
    * at-or-before view timestamp — the union→window machinery lives ONCE
    * so the tie-break and view-filter logic cannot diverge between the
    * base and tolerance variants. */
  private def asofMatched(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "view", lit(0)).otherwise(lit(1)).as("kind"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the FORWARD match via a running frame over the reversed sort
    // (UnboundedFollowing re-scans the partition tail per row — O(rows²)
    // on a hot user; the reversed running frame is incremental). kind
    // stays ASCENDING inside the reversed ts so a view AT the click's
    // own instant is seen first and matches the >= semantics.
    val wNextRev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("kind").asc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_view_ts",
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .withColumn("next_view_ts",
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(wNextRev))
      .filter(col("kind") === 1)
  }

  /** FORWARD as-of (pandas `merge_asof(direction='forward')`): each click
    * matched to the EARLIEST view at-or-after it — the "what happened
    * next" join (first response after an alert, first fill after an
    * order). Same single per-key window pass as the backward op, via the
    * reversed running frame. */
  def joinAsofForward(spark: SparkSession, dir: String): DataFrame =
    totalOrder(asofMatched(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("next_view_ts")))

  /** NEAREST as-of (pandas `merge_asof(direction='nearest')`): the closer
    * of the backward and forward matches by µs distance, ties to the
    * backward side (pandas' rule); `side` says which won so attribution
    * is auditable. Both neighbors come from the one shared window pass —
    * integer µs differences, so the comparison is engine-exact. */
  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val dp = unix_micros(col("ts")) - unix_micros(col("last_view_ts"))
    val dn = unix_micros(col("next_view_ts")) - unix_micros(col("ts"))
    totalOrder(asofMatched(spark, dir)
      .withColumn("nearest_view_ts",
        when(col("last_view_ts").isNull, col("next_view_ts"))
          .when(col("next_view_ts").isNull, col("last_view_ts"))
          .when(dp <= dn, col("last_view_ts"))
          .otherwise(col("next_view_ts")))
      .withColumn("side",
        when(col("last_view_ts").isNull && col("next_view_ts").isNull, "none")
          .when(col("last_view_ts").isNull, "next")
          .when(col("next_view_ts").isNull, "prev")
          .when(dp <= dn, "prev")
          .otherwise("next"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("nearest_view_ts"), col("side")))
  }

  /** Tolerance for [[joinAsofTolerance]]: 30 minutes in µs. */
  private val AsofToleranceUs = 1800L * 1000000L

  /** [[joinAsof]] with a MATCH TOLERANCE — the pandas
    * `merge_asof(tolerance=Δ)` / QuestDB `ASOF JOIN ... TOLERANCE`
    * surface: a click attributes to the latest prior view ONLY if it
    * happened within 30 minutes; a staler match becomes NULL, because in
    * attribution windows and sensor-freshness joins a stale match is
    * worse than none. The tolerance is a pure per-row predicate applied
    * AFTER the same single per-key as-of window — plan shape, shuffle
    * count, and the 100 TB story are identical to the base op. */
  def joinAsofTolerance(spark: SparkSession, dir: String): DataFrame =
    totalOrder(asofMatched(spark, dir)
      .withColumn("matched_view_ts",
        when(unix_micros(col("ts")) - unix_micros(col("last_view_ts"))
          <= AsofToleranceUs, col("last_view_ts")))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("matched_view_ts"),
        col("matched_view_ts").isNotNull.as("within_tolerance")))

  /** Create the bucketed twin tables for `dir` once per session (a
    * write-once storage decision — queries should pay the join, not the
    * table build; Bench calls this in its setup phase) and return their
    * names, (orders, lineitem). */
  def ensureBucketedTables(spark: SparkSession, dir: String): (String, String) = {
    val tag = Integer.toHexString(dir.hashCode)
    val (o, li) = (s"graft_orders_b_$tag", s"graft_lineitem_b_$tag")
    graft.OpCaches.once(spark, dir + "#bucketed", "bucketed") { out =>
      for ((tbl, table, key) <- Seq((o, "orders", "o_orderkey"),
          (li, "lineitem", "l_orderkey"))) {
        // a table of that name from an earlier build points at a released dir
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        load(spark, dir, table)
          .write.mode("overwrite").option("path", s"$out/$table")
          .bucketBy(8, key).sortBy(key)
          .saveAsTable(tbl)
      }
    }
    (o, li)
  }

  /** Bucketed co-located join (SURVEY §1.5 / the 100 TB co-location path):
    * both fact tables written bucketed+sorted on the join key, so the join
    * runs with ZERO shuffle of either side — the plan has no hash-partition
    * Exchange (asserted in PlanSpec). At scale this is the difference
    * between re-shuffling 100 TB per query and reading pre-placed buckets. */
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val (ordersB, lineitemB) = ensureBucketedTables(spark, dir)
    val li = spark.table(lineitemB).hint("merge")
    val o = spark.table(ordersB)
    totalOrder(li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty")))
  }

  /** Salt fan-out factor for [[joinSaltedSkew]] — bounds the replication of
    * the dimension side (each dim row is duplicated SkewSalts times). */
  private val SkewSalts = 16

  /** Salt-replicated skew join — the manual mitigation for the join AQE's
    * skew splitting can't fix: when ONE key holds a large share of the fact
    * rows, every plain shuffle strategy lands that key's entire mass on one
    * task. Remedy: the fact side appends a salt in [0, 16) derived from a
    * NON-key column (here event_id — uniform, deterministic), the dim side
    * explodes each row into all 16 salts, and the join runs on
    * (key, salt) — the hot key's rows now spread over 16 tasks, at the
    * bounded cost of 16× the (small, but too big or too dynamic to
    * broadcast) dim side. `hint("shuffle_hash")` pins the shuffled path so
    * the demo can't silently degrade into a broadcast that defeats its
    * point (plan-gated). Same result set as the unsalted join — the oracle
    * IS the plain join — because each fact row matches exactly its own
    * salt replica. */
  def joinSaltedSkew(spark: SparkSession, dir: String): DataFrame = {
    val fact = load(spark, dir, "events")
      .withColumn("salt", pmod(col("event_id"), lit(SkewSalts)).cast("int"))
    val dim = load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt",
        explode(sequence(lit(0), lit(SkewSalts - 1))))
      .hint("shuffle_hash")
    totalOrder(fact
      .join(dim, fact("user_id") === dim("c_custkey") &&
        fact("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value")))
  }

  /** Bucket granularity for [[joinIntervalOverlap]] — equal to the interval
    * length, so every interval spans at most 2 buckets. */
  private val OverlapBucketUs = 600L * 1000000L // 10 minutes

  /** Interval-OVERLAP join — the two-sided range shape [[joinThetaRange]]
    * (point-in-interval) cannot express: BOTH sides are intervals and a
    * pair matches iff the ranges intersect (`s1 < e2 AND s2 < e1`). Here:
    * 10-minute incident windows opened by each `error` event against
    * 10-minute attribution windows closing at each `purchase` — "which
    * purchases' decision windows overlapped an incident", the
    * blast-radius query every postmortem starts with.
    *
    * The naive plan is a nested-loop cross product (O(n·m)); this op
    * bucketizes time at g = the interval length, so each interval covers
    * at most 2 g-buckets: both sides explode to their covered buckets
    * (≤ 2 rows each), the join becomes a plain HASH equi-join on the
    * bucket id, an exact predicate refines, and the duplicate a pair
    * would produce when both its explosions share two buckets is
    * eliminated arithmetically — the pair is credited only to the bucket
    * containing the overlap's START (`⌊max(s1,s2)/g⌋`), a rule both
    * engines express with no DISTINCT pass. Linear in candidates
    * (Σ per-bucket |i|·|p|), shuffled on the bucket key — time itself is
    * the parallelism axis, so the plan holds at 100 TB where the theta
    * join is quadratic. Output is the per-hour blast-radius rollup
    * (pairs + exact µs of overlap), so the result stays metadata-sized
    * at any corpus. Oracle = the plain theta join (DuckDB's IEJoin
    * handles sf0.01), same aggregation. */
  def joinIntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val g = OverlapBucketUs
    val ev = load(spark, dir, "events")
    val inc = ev.filter(col("event_type") === "error")
      .select(unix_micros(col("ts")).as("s1"))
      .withColumn("e1", col("s1") + g)
    val att = ev.filter(col("event_type") === "purchase")
      .select(unix_micros(col("ts")).as("e2"))
      .withColumn("s2", col("e2") - g)
    // covered buckets of a half-open [s, e): ⌊s/g⌋ .. ⌊(e−1)/g⌋ (≤ 2 here)
    val incB = inc.withColumn("b",
      explode(array_distinct(array(expr(s"s1 DIV $g"), expr(s"(e1 - 1) DIV $g")))))
    val attB = att.withColumn("b",
      explode(array_distinct(array(expr(s"s2 DIV $g"), expr(s"(e2 - 1) DIV $g")))))
    val os = greatest(col("s1"), col("s2"))
    totalOrder(incB.join(attB, Seq("b"))
      .filter(col("s1") < col("e2") && col("s2") < col("e1") &&
        col("b") === expr(s"greatest(s1, s2) DIV $g"))
      .select(date_trunc("HOUR", timestamp_micros(os)).as("hour"),
        (least(col("e1"), col("e2")) - os).as("ov"))
      .groupBy(col("hour"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("ov")).as("overlap_us")))
  }

  /** Bloom bits per build key. 8 bits/key with 3 probes gives a false-
    * positive rate of (1−e^(−3/8))³ ≈ 3% — deliberately lossy enough that
    * false positives OCCUR on the fixtures, so the exact-join cleanup and
    * the [[joinBloomStats]] audit are non-vacuous. A deployment tuning
    * for pruning power instead would raise this (16 bits/key ≈ 0.4%). */
  private val BloomBitsPerKey = 8L

  /** Shared chain for the Bloom pair: (build keys, filter width m,
    * bit-position set, position-annotated probe side). Positions are the
    * Kirsch–Mitzenmacher double-hashing construction (two independent
    * md5 words g₁, g₂ and their sum — published to preserve the Bloom FP
    * bound with exactly one digest per key) over the repo's cross-engine
    * 60-bit md5 words, so the ENTIRE filter — width, set bits, candidate
    * verdicts — is deterministic arithmetic both engines express. */
  private def bloomChain(spark: SparkSession, dir: String):
      (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.GraftFunctions.md5Words
    def positions(df: DataFrame, key: String): DataFrame = df
      .withColumn("w", md5Words(spark, col(key).cast("string")))
      .withColumn("p1", element_at(col("w"), 1) % col("m"))
      .withColumn("p2", element_at(col("w"), 2) % col("m"))
      .withColumn("p3",
        (element_at(col("w"), 1) + element_at(col("w"), 2)) % col("m"))
      .drop("w")
    val build = load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // m rides the plan as a broadcast scalar (no driver round-trip), so
    // the filter width scales with the build side by construction
    val m = build.agg((count(lit(1)) * BloomBitsPerKey).as("m"))
    val bits = positions(build.crossJoin(broadcast(m)), "o_orderkey")
      .select(explode(array(col("p1"), col("p2"), col("p3"))).as("pos"))
      .distinct()
    val probe = positions(
      load(spark, dir, "lineitem").crossJoin(broadcast(m)), "l_orderkey")
    (build, bits, probe)
  }

  /** Probe rows passing the Bloom membership test: ALL three bit
    * positions present in the set — three broadcast SEMI-joins on int
    * positions, the declarative form of testing a broadcast bitmap (and
    * of Trino/Spark runtime dynamic filtering). The probe side never
    * shuffles. */
  private def bloomCandidates(bits: DataFrame, probe: DataFrame): DataFrame =
    Seq("p1", "p2", "p3").foldLeft(probe)((df, p) =>
      df.join(broadcast(bits), col(p) === col("pos"), "left_semi"))

  /** Bloom-filter semi-join reduction — the 100 TB shape for "join a huge
    * fact against a dim too big to broadcast EXACTLY": instead of
    * shipping every urgent order key to every task (or shuffling the
    * whole fact to the join), the build side is collapsed to a Bloom
    * filter whose BIT-POSITION SET broadcasts at m = 8·|build| bits
    * regardless of key width; the fact is pre-filtered by membership
    * (false positives possible, false negatives impossible), and only
    * the ≈ matching fraction plus ~3% FPs reaches the exact join that
    * removes them. The oracle is the PLAIN join — the filter must be
    * invisible in the result; its honesty ledger is [[joinBloomStats]].
    * This is Spark's own injected `bloom_filter_agg` runtime-filter
    * pattern, made deterministic (md5 double-hashing) so it can be
    * differentially tested. */
  def joinBloomPrune(spark: SparkSession, dir: String): DataFrame = {
    val (build, bits, probe) = bloomChain(spark, dir)
    totalOrder(bloomCandidates(bits, probe)
      .join(build, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue")))
  }

  /** The Bloom filter's audit twin (the repo's cap-stats idiom: no silent
    * pruning): filter geometry (build keys, m, bits actually set) and
    * probe outcome (rows, candidates, true matches, FALSE POSITIVES) in
    * one row. Deterministic hashing makes even the FP count exact and
    * hash-oracled — the number a deployment watches to know when the
    * filter has saturated and m must grow. */
  def joinBloomStats(spark: SparkSession, dir: String): DataFrame = {
    val (build, bits, probe) = bloomChain(spark, dir)
    val cand = bloomCandidates(bits, probe)
    val matches = probe.join(build,
      col("l_orderkey") === col("o_orderkey"), "left_semi")
    totalOrder(build
      .agg(count(lit(1)).as("n_build"),
        (count(lit(1)) * BloomBitsPerKey).as("m"))
      .crossJoin(bits.agg(count(lit(1)).as("n_bits_set")))
      .crossJoin(probe.agg(count(lit(1)).as("n_probe")))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(matches.agg(count(lit(1)).as("n_match")))
      .withColumn("n_false_pos", col("n_candidates") - col("n_match")))
  }

  // ----------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_bloom_prune" -> joinBloomPrune,
    "join_bloom_stats" -> joinBloomStats,
    "join_interval_overlap" -> joinIntervalOverlap,
    "join_salted_skew" -> joinSaltedSkew,
    "join_inner_hash" -> joinInnerHash,
    "join_bucketed" -> joinBucketed,
    "join_broadcast" -> joinBroadcast,
    "join_sortmerge" -> joinSortmerge,
    "join_left_outer" -> joinLeftOuter,
    "join_left_semi" -> joinLeftSemi,
    "join_left_anti" -> joinLeftAnti,
    "join_theta_range" -> joinThetaRange,
    "join_range_bucket" -> joinRangeBucket,
    "join_asof" -> joinAsof,
    "join_asof_tolerance" -> joinAsofTolerance,
    "join_asof_forward" -> joinAsofForward,
    "join_asof_nearest" -> joinAsofNearest)

  /** DuckDB twin of the 60-bit md5 word at hex offset `off` (1 or 17). */
  private def sqlMd5w(x: String, off: Int): String =
    s"CAST(('0x' || substring(md5($x), $off, 15))::UBIGINT AS BIGINT)"

  /** DuckDB twin of [[bloomChain]]'s shared CTEs: build keys, width m,
    * distinct set bit positions, position-annotated probe rows, and the
    * candidate set (all three positions present). */
  private val sqlBloomChain: String = {
    val bw1 = sqlMd5w("CAST(o_orderkey AS VARCHAR)", 1)
    val bw2 = sqlMd5w("CAST(o_orderkey AS VARCHAR)", 17)
    val pw1 = sqlMd5w("CAST(l_orderkey AS VARCHAR)", 1)
    val pw2 = sqlMd5w("CAST(l_orderkey AS VARCHAR)", 17)
    s"""b AS (SELECT o_orderkey FROM orders
       |       WHERE o_orderpriority = '1-URGENT'),
       |mw AS (SELECT CAST(COUNT(*) * $BloomBitsPerKey AS BIGINT) AS m FROM b),
       |bp AS (
       |  SELECT w1 % m AS p1, w2 % m AS p2, (w1 + w2) % m AS p3
       |  FROM (SELECT $bw1 AS w1, $bw2 AS w2 FROM b) CROSS JOIN mw),
       |bits AS (
       |  SELECT DISTINCT pos FROM (
       |    SELECT p1 AS pos FROM bp UNION ALL
       |    SELECT p2 FROM bp UNION ALL SELECT p3 FROM bp)),
       |pp AS (
       |  SELECT l.*, w1 % m AS p1, w2 % m AS p2, (w1 + w2) % m AS p3
       |  FROM (SELECT *, $pw1 AS w1, $pw2 AS w2 FROM lineitem) l
       |  CROSS JOIN mw),
       |cand AS (
       |  SELECT * FROM pp
       |  WHERE p1 IN (SELECT pos FROM bits)
       |    AND p2 IN (SELECT pos FROM bits)
       |    AND p3 IN (SELECT pos FROM bits))""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // the Bloom filter must be INVISIBLE in the result (no false
    // negatives; false positives removed by the exact join), so the
    // oracle is the plain join with the build-side predicate
    "join_bloom_prune" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_lines,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY l_returnflag
         |${orderAll("l_returnflag", "n_lines", "revenue")}""".stripMargin,
    // the audit IS the filter arithmetic, so DuckDB re-derives the whole
    // chain — including the exact false-positive count
    "join_bloom_stats" ->
      s"""WITH $sqlBloomChain
         |SELECT (SELECT COUNT(*) FROM b) AS n_build,
         |  (SELECT m FROM mw) AS m,
         |  (SELECT COUNT(*) FROM bits) AS n_bits_set,
         |  (SELECT COUNT(*) FROM lineitem) AS n_probe,
         |  (SELECT COUNT(*) FROM cand) AS n_candidates,
         |  (SELECT COUNT(*) FROM lineitem
         |   WHERE l_orderkey IN (SELECT o_orderkey FROM b)) AS n_match,
         |  (SELECT COUNT(*) FROM cand) -
         |  (SELECT COUNT(*) FROM lineitem
         |   WHERE l_orderkey IN (SELECT o_orderkey FROM b)) AS n_false_pos
         |${orderAll("n_build", "m", "n_bits_set", "n_probe",
              "n_candidates", "n_match", "n_false_pos")}""".stripMargin,
    // the oracle is the PLAIN theta join — the bucketized plan must be
    // invisible in the result (each pair credited to exactly one bucket)
    "join_interval_overlap" ->
      s"""WITH i AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS s1,
         |    epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS e1
         |  FROM events WHERE event_type = 'error'),
         |p AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) - 600000000 AS s2,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS e2
         |  FROM events WHERE event_type = 'purchase'),
         |pr AS (
         |  SELECT greatest(s1, s2) AS os, least(e1, e2) AS oe
         |  FROM i JOIN p ON s1 < e2 AND s2 < e1)
         |SELECT date_trunc('hour', make_timestamp(os)) AS hour,
         |  COUNT(*) AS n_pairs, CAST(SUM(oe - os) AS BIGINT) AS overlap_us
         |FROM pr GROUP BY 1
         |${orderAll("hour", "n_pairs", "overlap_us")}""".stripMargin,
    "join_salted_skew" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_events,
         |  ${sqlDsum("value")} AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY c_mktsegment
         |${orderAll("c_mktsegment", "n_events", "sum_value")}""".stripMargin,
    "join_bucketed" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
         |  ${sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority
         |${orderAll("o_orderpriority", "n_lines", "sum_qty")}""".stripMargin,
    "join_inner_hash" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority
         |${orderAll("o_orderpriority", "n_lines", "revenue")}""".stripMargin,
    "join_broadcast" ->
      s"""SELECT r_name, COUNT(*) AS n_customers,
         |  ${sqlDsum("c_acctbal")} AS sum_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name
         |${orderAll("r_name", "n_customers", "sum_acctbal")}""".stripMargin,
    "join_sortmerge" ->
      s"""SELECT o_orderstatus, l_linestatus, COUNT(*) AS n,
         |  ${sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus, l_linestatus
         |${orderAll("o_orderstatus", "l_linestatus", "n", "sum_qty")}""".stripMargin,
    "join_left_outer" ->
      s"""SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders
         |FROM customer LEFT JOIN (
         |  SELECT * FROM orders WHERE o_totalprice > 100000.0) o
         |  ON c_custkey = o_custkey
         |GROUP BY c_custkey
         |${orderAll("c_custkey", "n_big_orders")}""".stripMargin,
    "join_left_semi" ->
      s"""SELECT c_custkey, c_mktsegment FROM customer
         |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         |${orderAll("c_custkey", "c_mktsegment")}""".stripMargin,
    "join_left_anti" ->
      s"""SELECT c_custkey, c_name FROM customer
         |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
         |${orderAll("c_custkey", "c_name")}""".stripMargin,
    "join_theta_range" ->
      s"""SELECT s_suppkey, COUNT(*) AS n_below
         |FROM supplier JOIN customer
         |  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
         |GROUP BY s_suppkey
         |${orderAll("s_suppkey", "n_below")}""".stripMargin,
    "join_range_bucket" ->
      // the oracle states the JOIN SEMANTICS (plain range join); the
      // bucket explode is an implementation detail proven not to change
      // the pair set
      s"""SELECT * FROM (
         |  SELECT c.user_id, c.event_id AS click_id,
         |    p.event_id AS purchase_id,
         |    epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))
         |      AS gap_us
         |  FROM events c JOIN events p
         |    ON p.user_id = c.user_id
         |   AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         |   AND CAST(p.ts AS TIMESTAMP) <=
         |       CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
         |  WHERE c.event_type = 'click' AND p.event_type = 'purchase')
         |${orderAll("user_id", "click_id", "purchase_id", "gap_us")}""".stripMargin,
    "join_asof" ->
      s"""SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
         |  (SELECT MAX(CAST(v.ts AS TIMESTAMP)) FROM events v
         |   WHERE v.event_type = 'view' AND v.user_id = c.user_id
         |     AND v.ts <= c.ts) AS last_view_ts
         |FROM events c WHERE c.event_type = 'click'
         |${orderAll("event_id", "user_id", "ts", "last_view_ts")}""".stripMargin,
    "join_asof_forward" ->
      s"""SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
         |  (SELECT MIN(CAST(v.ts AS TIMESTAMP)) FROM events v
         |   WHERE v.event_type = 'view' AND v.user_id = c.user_id
         |     AND v.ts >= c.ts) AS next_view_ts
         |FROM events c WHERE c.event_type = 'click'
         |${orderAll("event_id", "user_id", "ts", "next_view_ts")}""".stripMargin,
    "join_asof_nearest" ->
      s"""WITH m AS (
         |  SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
         |    (SELECT MAX(CAST(v.ts AS TIMESTAMP)) FROM events v
         |     WHERE v.event_type = 'view' AND v.user_id = c.user_id
         |       AND v.ts <= c.ts) AS pv,
         |    (SELECT MIN(CAST(v.ts AS TIMESTAMP)) FROM events v
         |     WHERE v.event_type = 'view' AND v.user_id = c.user_id
         |       AND v.ts >= c.ts) AS nv
         |  FROM events c WHERE c.event_type = 'click')
         |SELECT event_id, user_id, ts,
         |  CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
         |    WHEN epoch_us(ts) - epoch_us(pv) <= epoch_us(nv) - epoch_us(ts)
         |      THEN pv ELSE nv END AS nearest_view_ts,
         |  CASE WHEN pv IS NULL AND nv IS NULL THEN 'none'
         |    WHEN pv IS NULL THEN 'next' WHEN nv IS NULL THEN 'prev'
         |    WHEN epoch_us(ts) - epoch_us(pv) <= epoch_us(nv) - epoch_us(ts)
         |      THEN 'prev' ELSE 'next' END AS side
         |FROM m
         |${orderAll("event_id", "user_id", "ts", "nearest_view_ts",
             "side")}""".stripMargin,
    "join_asof_tolerance" ->
      s"""WITH m AS (
         |  SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
         |    (SELECT MAX(CAST(v.ts AS TIMESTAMP)) FROM events v
         |     WHERE v.event_type = 'view' AND v.user_id = c.user_id
         |       AND v.ts <= c.ts) AS lv
         |  FROM events c WHERE c.event_type = 'click')
         |SELECT event_id, user_id, ts,
         |  CASE WHEN epoch_us(ts) - epoch_us(lv) <= 1800000000
         |    THEN lv END AS matched_view_ts,
         |  (lv IS NOT NULL AND epoch_us(ts) - epoch_us(lv) <= 1800000000)
         |    AS within_tolerance
         |FROM m
         |${orderAll("event_id", "user_id", "ts", "matched_view_ts",
              "within_tolerance")}""".stripMargin)
}
