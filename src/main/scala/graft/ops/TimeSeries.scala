package graft.ops

import graft.OpCaches.scratch
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series layer (SURVEY.md §2.5, §2.8) — the tsdb identity of the
  * engine: pulse-interval rates with back-fill (the reference's single
  * analytical computation, get_hot_intake_interval.py:121-147), LOCF
  * gap-fill (InfluxQL fill(previous)), time-bucket downsampling (InfluxQL
  * GROUP BY time(1h)), session windows, staleness monitoring
  * (datalogger_health_check.py:88-94), retention
  * (memory_manager.py:3-17), and the upsert/dedup law (InfluxDB point
  * upsert on (measurement, tags, time)).
  *
  * All formulations are single-shuffle windows or hash aggregations keyed by
  * the series tag — per-key state never leaves one partition, so the plans
  * scale linearly with tag cardinality.
  */
object TimeSeries {
  import Relational.{totalOrder, orderAll}

  /** A pulse is a "large" reading; the fixture analog of a nonzero meter
    * pulse (events.value is never exactly 0). */
  private val PulseThreshold = 100.0

  /** Pulse→rate transform with back-fill: bug-compatible replica of the
    * reference's state machine (get_hot_intake_interval.py:121-147) as one
    * Catalyst plan. Per user (building analog) in time order:
    *   - a "run start" is a sub-threshold row whose immediate predecessor is
    *     a pulse (`dataset_flag` sets startTime on the first zero AFTER a
    *     pulse, :143-145 — NOT on the pulse itself);
    *   - each pulse from the second onward emits
    *     rate = 60 / (t_pulse − t_lastRunStart + 1)   (time_elapsed's +1,
    *     :61-65; determine_interval, :56-58) — consecutive pulses with no
    *     zero between reuse the stale run start, exactly like the reference;
    *   - sub-threshold rows after the first pulse receive the NEXT pulse's
    *     rate (write_data :68-71 overwrites the whole buffered zero-run);
    *   - the first pulse is never emitted (it is never appended to the
    *     buffer, :126-131), rows before it are dropped (warm-up), and a
    *     trailing zero-run is dropped (never-flushed buffer).
    * One shuffle on user_id; all four window functions share the same sort.
    */
  def winLagInterval(spark: SparkSession, dir: String): DataFrame =
    totalOrder(ratedFrame(spark, dir))

  /** The rated pulse rows shared by win_lag_interval and the composed
    * hot-intake pipeline: one shuffle on user_id, four window functions on
    * the same sort. */
  private def ratedFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // "next pulse's rate" via a running frame over the REVERSED sort:
    // Spark evaluates UnboundedFollowing frames by re-scanning the rest of
    // the partition per row (O(rows² ) per user — a scale-killer once a
    // hot user holds millions of points), where an UnboundedPreceding
    // running frame is incremental O(rows). last(...) over the reversed
    // order selects the identical row the forward first(...) did.
    val wNextRev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = load(spark, dir, "events")
      .withColumn("is_pulse", col("value") >= PulseThreshold)
      .withColumn("prev_is_pulse", lag(col("is_pulse"), 1).over(w))
      .withColumn("pulse_seq",
        sum(when(col("is_pulse"), 1).otherwise(0)).over(wCum))
    val marked = ev
      .withColumn("run_start_ts", last(
        when(!col("is_pulse") && col("prev_is_pulse"), col("ts")),
        ignoreNulls = true).over(wPrev))
      .withColumn("own_rate",
        when(col("is_pulse") && col("pulse_seq") >= 2 && col("run_start_ts").isNotNull,
          lit(60.0) / (unix_timestamp(col("ts")) - unix_timestamp(col("run_start_ts")) + 1)))
    marked
      .withColumn("rate",
        when(col("is_pulse"), col("own_rate"))
          .otherwise(when(col("pulse_seq") >= 1,
            last(col("own_rate"), ignoreNulls = true).over(wNextRev))))
      .filter(col("rate").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"), col("rate"))
  }

  /** The reference's entire analytical program (§3.3: InfluxQL read →
    * client-side stateful loop → write-back) collapsed into ONE Catalyst
    * plan: scan → tag/time filter implicit in the fixture → per-building
    * lag-interval rates → hourly downsample of the derived signal (the
    * write-back dataset). Two shuffles total: the user_id window sort and
    * the (user, hour) hash agg — where the reference made one server
    * round-trip per building plus a Python loop per point. */
  def tsHotIntakePipeline(spark: SparkSession, dir: String): DataFrame =
    totalOrder(ratedFrame(spark, dir)
      .groupBy(col("user_id"), date_trunc("HOUR", col("ts")).as("bucket"))
      .agg(davg(col("rate")).as("avg_rate"), count(lit(1)).as("n"),
        max(col("ts")).as("last_ts")))

  /** LOCF gap-fill (InfluxQL fill(previous); SURVEY §2.5 win_backfill):
    * readings below 0.2 are treated as missing and carry the last good
    * value forward per user. */
  def winBackfill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totalOrder(load(spark, dir, "events")
      .withColumn("reading", when(col("value") >= 0.2, col("value")))
      .withColumn("filled", last(col("reading"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"), col("ts"),
        col("reading"), col("filled")))
  }

  /** Hourly downsample (InfluxQL GROUP BY time(1h); SURVEY §2.5
    * win_time_bucket): tumbling window + per-bucket aggregates. Uses the
    * window() tumbling helper — the same expression Structured Streaming
    * uses, so batch and stream share semantics. */
  def winTimeBucket(spark: SparkSession, dir: String): DataFrame =
    totalOrder(load(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .select(col("w.start").as("bucket"), col("event_type"),
        col("n"), col("sum_value"), col("min_value"), col("max_value")))

  /** Session windows: bursts of activity per user separated by >30 min gaps
    * (the pulse-run grouping of get_hot_intake_interval.py:121-147 as a
    * session; SURVEY §2.8). session_window is the streaming-native operator;
    * the oracle reproduces it with the lag/cumsum island idiom. */
  def tsSessionWindow(spark: SparkSession, dir: String): DataFrame =
    totalOrder(load(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"),
        max(col("ts")).as("last_ts"))
      .select(col("s.start").as("session_start"), col("user_id"),
        col("n_events"), col("sum_value"), col("last_ts")))

  /** Staleness monitor (datalogger_health_check.py:88-94): series whose
    * newest point is >2 days older than the dataset frontier. The frontier
    * replaces wall-clock now() so the check is deterministic. */
  def tsStaleness(spark: SparkSession, dir: String): DataFrame =
    totalOrder(tsStalenessFrame(spark, dir))

  private def tsStalenessFrame(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val frontier = ev.agg(max(col("ts")).as("frontier"))
    ev.groupBy(col("user_id")).agg(max(col("ts")).as("last_seen"))
      .crossJoin(broadcast(frontier))
      .filter(col("last_seen") < col("frontier") - expr("INTERVAL 2 DAYS"))
      .select(col("user_id"), col("last_seen"))
  }

  /** Retention planner (memory_manager.py:3-17: delete-oldest-until-budget):
    * newest-first cumulative size over daily partitions; a partition is kept
    * while the running total stays within budget. Returns the keep/drop
    * decision per day — the driver of a partition-drop job. */
  def tsRetention(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("day").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totalOrder(load(spark, dir, "events")
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("cum_rows", sum(col("n_rows")).over(w))
      .withColumn("keep", col("cum_rows") <= 4000)
      .select(col("day"), col("n_rows"), col("cum_rows"), col("keep")))
  }

  /** Staleness ALERT sink (datalogger_health_check.py:94 +
    * transfer_manager.py:233-246 send_error): the "tell a human" half of
    * monitoring. Stale hosts become alert rows whose payload is the exact
    * Slack-webhook JSON the reference posts
    * (`{"text": "Possible uncaught logging error: ..."}`); the rows are
    * written through a real sink (parquet alerts table) and read back —
    * at scale this table is the webhook/pager queue consumer's input.
    * Streaming-side failures use [[graft.streaming.AlertListener]]. */
  def tsStalenessAlert(spark: SparkSession, dir: String): DataFrame = {
    val msg = "Possible uncaught logging error: Latest file update " +
      "more than two days ago on host: site"
    val alerts = tsStalenessFrame(spark, dir)
      .select(
        concat(lit("site"), col("user_id")).as("host"),
        col("last_seen"),
        lit("stale_datalogger").as("alert_type"),
        concat(lit("{\"text\": \"" + msg), col("user_id"), lit("\"}"))
          .as("payload"))
    val out = scratch(spark, "alerts")
    alerts.write.mode("overwrite").parquet(out)
    totalOrder(spark.read.parquet(out))
  }

  /** Byte-budget retention (memory_manager.py:13-16: the reference frees
    * DISK BYTES — `f_bfree*f_bsize >= required`, oldest-first delete — not
    * row counts): newest-first cumulative BYTES over daily partitions,
    * where a point's cost is its serialized line-protocol footprint
    * (`measurement,user_id=<id>,type=<t> value=.. ts` ⇒ tag strings +
    * 16 bytes value/time + 20 bytes keys/overhead — an explicit model both
    * engines compute identically; the live store path measures real file
    * sizes instead, [[graft.store.MeasurementStore.planRetentionBytes]]).
    * A day is kept while the running byte total stays within budget. */
  def tsRetentionBytes(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("day").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totalOrder(load(spark, dir, "events")
      .withColumn("point_bytes",
        length(col("event_type")) + length(col("user_id").cast("string"))
          + lit(36))
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"), sum(col("point_bytes")).as("day_bytes"))
      .withColumn("cum_bytes", sum(col("day_bytes")).over(w))
      .withColumn("keep", col("cum_bytes") <= 400000L)
      .select(col("day"), col("n_rows"), col("day_bytes"),
        col("cum_bytes"), col("keep")))
  }

  /** The idempotent-ingest law (InfluxDB upsert on (tags, time);
    * transfer_manager.py:199-208 re-ingests changed files safely): writing
    * a batch twice ≡ once. Union of the batch with itself deduped on the
    * point key; last-write-wins by the highest event_id per key. */
  def tsUpsertDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts"),
        col("value"), col("event_id"))
    val twice = ev.unionAll(ev)
    totalOrder(twice
      .groupBy(col("event_type"), col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("value"),
        max(col("event_id")).as("version")))
  }

  /** Query pattern for [[tsPatternMatch]] — a surge shape (ramp up, spike,
    * ramp down); matching is Z-NORMALIZED, so only the shape matters, not
    * the series' scale or offset. Length 8 points. */
  private[graft] val PatternQ: Seq[Double] =
    Seq(0.0, 1.0, 3.0, 6.0, 3.0, 1.0, 0.0, 0.0)

  /** The z-normalized pattern, computed once driver-side and embedded as
    * double literals in both engines (Double.toString round-trips, so the
    * oracle parses the identical IEEE values). */
  private[graft] val PatternZ: Seq[Double] = {
    val mu = PatternQ.sum / PatternQ.size
    val sd = math.sqrt(PatternQ.map(x => (x - mu) * (x - mu)).sum / PatternQ.size)
    PatternQ.map(x => (x - mu) / sd)
  }

  /** Emission threshold for the STREAMING twin (stream_pattern_match,
    * graft.streaming.StreamingOps): a window at z-distance² ≤ this is a "strong
    * match" worth alerting on (top batch hits on the fixture land
    * 0.19–1.2). */
  private[graft] val MatchThreshold = 1.0

  /** Round a term the way Spark's `round(double, 6)` and DuckDB's
    * `CAST(... AS DECIMAL(38,6))` do (HALF_UP on the decimal rendering), so
    * driver-side Scala folds are digit-identical to both engines'
    * expressions — the streaming/oracle convention proven by the
    * stream_pattern_match and stream_pulse_rate gates. */
  private[graft] def r6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** (mu, sigma) of one candidate window under the engine-stable
    * convention shared by the batch expression, the streaming fold, and
    * the DuckDB oracle: mu is the exact 6-dp-decimal sum converted to
    * double ONCE and then IEEE-divided (cast-then-divide); sigma is the
    * plain left-to-right double fold of squared deviations. */
  private[graft] def zStats(vals: Seq[Double]): (Double, Double) = {
    val l = vals.size
    val mu = vals.map(r6).sum.toDouble / l
    (mu, math.sqrt(vals.map(x => (x - mu) * (x - mu)).sum / l))
  }

  /** How far into the series the exemplar search looks (points, not
    * windows). A fixed cap keeps the driver-side peek O(1) regardless of
    * corpus size — at any density the first non-flat window appears well
    * inside it (a window is flat only while every point in it carries the
    * same value). */
  private[graft] val ExemplarScan = 256

  /** Query-by-example pattern selection — the scale-invariant half of the
    * streaming matcher's pattern library (round-9 verdict: a FIXED
    * threshold+shape matches nothing above the density it was calibrated
    * at, making the sf1/sf3 proof vacuous). The exemplar is drawn from
    * the series' OWN history by a deterministic rule both engines can
    * express: the first non-flat (σ > 1e-9) L-point window — in
    * (ts, event_id) order — among the first [[ExemplarScan]] points of
    * the lexicographically first event_type. Its z-shape becomes a query
    * pattern, so the matcher provably emits at least its own window
    * (z-distance² exactly 0) at EVERY scale factor: the non-vacuity
    * guarantee. Cost: one `min` aggregate and one top-256
    * TakeOrderedAndProject — O(1) driver memory at any corpus size. */
  private[graft] def exemplarZ(spark: SparkSession, dir: String): Seq[Double] = {
    val l = PatternQ.size
    // glob read, not Tables.load: the streaming twin's landing dirs hold
    // ordered events_<n>.parquet files — the exemplar must see exactly
    // the data the stream will drain
    val ev = graft.Tables.normalizeTs(
      spark.read.option("pathGlobFilter", "events*.parquet").parquet(dir))
    val minType = ev.agg(min(col("event_type"))).head().getString(0)
    val head = ev.filter(col("event_type") === minType)
      .select(col("ts"), col("event_id"), col("value"))
      .orderBy(col("ts"), col("event_id"))
      .limit(ExemplarScan)
      .collect()
      .sortBy(r => (r.getTimestamp(0).getTime, r.getTimestamp(0).getNanos.toLong,
        r.getLong(1)))
      .map(_.getDouble(2)).toSeq
    (0 to head.size - l).iterator
      .map(i => head.slice(i, i + l))
      .map(w => (w, zStats(w)))
      .collectFirst { case (w, (mu, sigma)) if sigma > 1e-9 =>
        w.map(x => (x - mu) / sigma) }
      .getOrElse(throw new IllegalStateException(
        s"no non-flat $l-point window in the first $ExemplarScan points of '$minType'"))
  }

  /** DuckDB twin of [[exemplarZ]]: CTEs (appended after the shared `e`)
    * deriving the exemplar's z-shape with the identical rule and
    * arithmetic; `xq` is the one-row list the scoring pass zips against. */
  private[graft] val exemplarSqlCtes: String =
    s"""x0 AS (
       |  SELECT value, rn FROM (
       |    SELECT value, ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn
       |    FROM e WHERE event_type = (SELECT min(event_type) FROM e))
       |  WHERE rn <= $ExemplarScan),
       |xw AS (
       |  SELECT rn, list(value) OVER (ORDER BY rn
       |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS win
       |  FROM x0),
       |xm AS (
       |  SELECT rn, win, CAST(list_aggregate(list_transform(win,
       |      v -> CAST(v AS DECIMAL(38,6))), 'sum') AS DOUBLE) / 8 AS mu
       |  FROM xw WHERE len(win) = 8),
       |xs AS (
       |  SELECT rn, win, mu, sqrt(list_aggregate(list_transform(win,
       |      v -> (CAST(v AS DOUBLE) - mu) * (CAST(v AS DOUBLE) - mu)),
       |      'sum') / 8) AS sigma
       |  FROM xm),
       |xq AS (
       |  SELECT list_transform(win, v -> (CAST(v AS DOUBLE) - mu) / sigma) AS zq
       |  FROM xs WHERE sigma > 1e-9 ORDER BY rn LIMIT 1)""".stripMargin

  /** Time-series pattern matching — subsequence similarity search (the
    * UCR-suite / matrix-profile family; EDBT'19 "Time Series Similarity
    * Search for Streaming Data" is the distributed treatment): find where
    * each series most resembles a QUERY SHAPE, under z-normalized
    * euclidean distance so amplitude and baseline don't matter — the
    * primitive behind anomaly triage ("find surges like this one") and
    * motif mining. Per series: length-8 sliding windows (collect_list
    * over an ordered 8-row frame — windows stay inside the series'
    * partition, one shuffle total), each window z-normalized and scored
    * against the embedded z-pattern; flat windows (σ≈0) carry no shape
    * and are skipped; top-3 matches per series by distance. Per-term
    * squares are 6-dp-rounded and decimal-accumulated (the
    * [[graft.ops.Text.textEntropy]] convention) so the fold is
    * engine-stable and the op carries a full DuckDB oracle.
    *
    * Parallelism WITHIN a series (round 10): only window FORMATION needs
    * per-series contiguity — with few series keys, leaving the z-math and
    * the top-3 sort in the same per-series stage caps the whole op at
    * |series| tasks no matter how big the corpus (measured n^0.88 at
    * 10M points, 94 s, on 5 keys). Formed windows are self-contained
    * rows, so they redistribute by (series, event_id mod
    * [[PmSaltBuckets]]) before the expensive stages, the top-3 runs
    * LOCALLY per salt bucket, and a final pass ranks the ≤ 3·buckets
    * survivors per series — the classic salted top-k, result identical
    * (the global top-3 is inside the union of local top-3s). At 100 TB
    * this is the plan that works: one linear per-series window pass,
    * then every heavy stage at full cluster width. */
  def tsPatternMatch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val L = PatternQ.size
    val wWin = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.currentRow, L - 1)
    val zq = array(PatternZ.map(lit): _*)
    val win = col("win")
    val mu = (aggregate(win, lit(0).cast(DecimalType(38, 6)),
      (a, x) => a + x.cast(DecimalType(38, 6))).cast(DoubleType) / L).as("mu")
    val salt = pmod(col("event_id"), lit(PmSaltBuckets))
    // (round-14 opt note: an L−1 × lead() reformulation of the window
    // formation was tried and MEASURED SLOWER — 4.96 → 7.34 s min-of-3 at
    // sf0.1: seven offset window frames each re-iterate the partition
    // buffer where the single sliding collect_list frame pays one add/
    // remove per row — so the collect_list form stays)
    val windows = load(spark, dir, "events")
      .withColumn("win", collect_list(col("value")).over(wWin))
      .filter(size(col("win")) === L)
      .select(col("event_type"), col("ts").as("win_start"), col("event_id"),
        col("win"))
      // FLAT windows cut FIRST, on plain doubles: min==max ⟺ σ=0, which
      // the σ>1e-9 filter below would drop anyway — but dropping them
      // before the decimal folds matters enormously, because the decimal
      // mu/dist2 arithmetic is allocation-bound (interpreted higher-order
      // exprs boxing a Decimal per element) and dense fixtures are
      // mostly flat runs (93% of windows at 10M points: 89 s → 10 s)
      .filter(array_min(col("win")) =!= array_max(col("win")))
      // spread the z-math and the local sort across the cluster; the
      // window pass above was the last stage needing series contiguity
      .repartition(col("event_type"), salt)
      .withColumn("mu", mu)
      .withColumn("sigma", sqrt(aggregate(win, lit(0.0),
        (a, x) => a + (x - col("mu")) * (x - col("mu"))) / L))
      .filter(col("sigma") > 1e-9)
      .withColumn("dist2", aggregate(
        zip_with(win, zq, (x, q) =>
          round((q - (x - col("mu")) / col("sigma")) *
            (q - (x - col("mu")) / col("sigma")), 6)
            .cast(DecimalType(38, 6))),
        lit(0).cast(DecimalType(38, 6)), (a, t) => a + t)
        .cast(DoubleType))
    // salted two-phase top-3: local winners per (series, salt) reuse the
    // repartition's layout (no extra shuffle), the global pass sorts only
    // ≤ 3·buckets rows per series
    val wLocal = Window.partitionBy(col("event_type"), salt)
      .orderBy(col("dist2"), col("win_start"), col("event_id"))
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("dist2"), col("win_start"), col("event_id"))
    totalOrder(windows
      .withColumn("lrk", row_number().over(wLocal))
      .filter(col("lrk") <= 3)
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= 3)
      .select(col("event_type"), col("win_start"), col("rk"), col("dist2")))
  }

  /** Salt width for [[tsPatternMatch]]'s within-series parallelism —
    * sized to the executor thread count's order; any value ≥ 1 yields
    * identical results. */
  private[graft] val PmSaltBuckets = 32

  // ----------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_pattern_match" -> tsPatternMatch,
    "win_lag_interval" -> winLagInterval,
    "ts_hot_intake_pipeline" -> tsHotIntakePipeline,
    "win_backfill" -> winBackfill,
    "win_time_bucket" -> winTimeBucket,
    "ts_session_window" -> tsSessionWindow,
    "ts_staleness" -> tsStaleness,
    "ts_staleness_alert" -> tsStalenessAlert,
    "ts_retention" -> tsRetention,
    "ts_retention_bytes" -> tsRetentionBytes,
    "ts_upsert_dedup" -> tsUpsertDedup)

  /** Shared CTE chain producing the rated pulse rows (DuckDB twin of
    * [[ratedFrame]]); callers append their own projection + ORDER BY. */
  private val lagIntervalCoreSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
       |    value >= $PulseThreshold AS is_pulse
       |  FROM events),
       |m1 AS (
       |  SELECT *,
       |    LAG(is_pulse) OVER w AS prev_is_pulse,
       |    SUM(CASE WHEN is_pulse THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pulse_seq
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |m2 AS (
       |  SELECT *,
       |    LAST_VALUE(CASE WHEN NOT is_pulse AND prev_is_pulse THEN ts END
       |      IGNORE NULLS) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_start_ts
       |  FROM m1),
       |rated AS (
       |  SELECT *,
       |    CASE WHEN is_pulse AND pulse_seq >= 2 AND run_start_ts IS NOT NULL
       |      THEN 60.0 / (date_diff('second', run_start_ts, ts) + 1)
       |    END AS own_rate
       |  FROM m2),
       |filled AS (
       |  SELECT user_id, event_id, ts,
       |    CASE WHEN is_pulse THEN own_rate
       |         WHEN pulse_seq >= 1 THEN
       |           FIRST_VALUE(own_rate IGNORE NULLS) OVER (
       |             PARTITION BY user_id ORDER BY ts, event_id
       |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |    END AS rate
       |  FROM rated)""".stripMargin

  /** Shared CTE chain scoring every complete window (DuckDB twin of the
    * [[tsPatternMatch]] scoring stages, ending at `d` = (event_type,
    * win_start, event_id, dist2)); the batch op appends its top-3 rank,
    * the streaming twin its threshold cut. */
  /** Shared window-construction CTEs (e → w → m → s): per-series 8-point
    * sliding windows with their engine-stable mu/sigma, ready for any
    * scoring pass to consume. */
  private[graft] val patternWindowsSql: String =
    s"""WITH e AS (
       |  SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
       |  FROM events),
       |w AS (
       |  SELECT event_type, ts AS win_start, event_id,
       |    list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
       |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS win
       |  FROM e),
       |m AS (
       |  SELECT *, CAST(list_aggregate(list_transform(win,
       |      v -> CAST(v AS DECIMAL(38,6))), 'sum') AS DOUBLE) / 8 AS mu
       |  FROM w WHERE len(win) = 8),
       |s AS (
       |  SELECT *, sqrt(list_aggregate(list_transform(win,
       |      v -> (CAST(v AS DOUBLE) - mu) * (CAST(v AS DOUBLE) - mu)),
       |      'sum') / 8) AS sigma
       |  FROM m)""".stripMargin

  /** One scoring pass as a CTE named `cte`: 6-dp-rounded decimal-summed
    * z-distance² of every non-flat window against the z-pattern list
    * expression `zqExpr` (a literal list or a one-row scalar subquery). */
  private[graft] def patternScoreSql(cte: String, zqExpr: String): String =
    s"""$cte AS (
       |  SELECT event_type, win_start, event_id,
       |    CAST(list_aggregate(list_transform(list_zip(win, $zqExpr),
       |      p -> CAST(round(
       |        (CAST(p[2] AS DOUBLE) - (CAST(p[1] AS DOUBLE) - mu) / sigma) *
       |        (CAST(p[2] AS DOUBLE) - (CAST(p[1] AS DOUBLE) - mu) / sigma),
       |        6) AS DECIMAL(38,6))), 'sum') AS DOUBLE) AS dist2
       |  FROM s WHERE sigma > 1e-9)""".stripMargin

  /** The surge-pattern literal, embedded identically in both engines
    * (Double.toString round-trips IEEE exactly). */
  private[graft] val surgeZLit: String =
    PatternZ.map(_.toString).mkString("[", ", ", "]")

  private[graft] val patternMatchCoreSql: String =
    patternWindowsSql + ",\n" + patternScoreSql("d", surgeZLit)

  val oracle: Map[String, String] = Map(
    "ts_pattern_match" ->
      s"""$patternMatchCoreSql
         |SELECT event_type, win_start, rk, dist2 FROM (
         |  SELECT event_type, win_start, dist2,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY dist2, win_start, event_id) AS rk
         |  FROM d)
         |WHERE rk <= 3
         |${orderAll("event_type", "win_start", "rk", "dist2")}""".stripMargin,
    "win_lag_interval" ->
      s"""$lagIntervalCoreSql
         |SELECT * FROM filled WHERE rate IS NOT NULL
         |${orderAll("user_id", "event_id", "ts", "rate")}""".stripMargin,
    "ts_hot_intake_pipeline" ->
      s"""$lagIntervalCoreSql
         |SELECT user_id, date_trunc('hour', ts) AS bucket,
         |  ${sqlDavg("rate")} AS avg_rate, COUNT(*) AS n, MAX(ts) AS last_ts
         |FROM filled WHERE rate IS NOT NULL
         |GROUP BY 1, 2
         |${orderAll("user_id", "bucket", "avg_rate", "n", "last_ts")}""".stripMargin,
    "win_backfill" ->
      s"""SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         |  CASE WHEN value >= 0.2 THEN value END AS reading,
         |  LAST_VALUE(CASE WHEN value >= 0.2 THEN value END IGNORE NULLS) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         |FROM events
         |${orderAll("user_id", "event_id", "ts", "reading", "filled")}""".stripMargin,
    "win_time_bucket" ->
      s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
         |  COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
         |  MIN(value) AS min_value, MAX(value) AS max_value
         |FROM events GROUP BY 1, 2
         |${orderAll("bucket", "event_type", "n", "sum_value")}""".stripMargin,
    "ts_session_window" ->
      s"""WITH gaps AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         |    CASE WHEN CAST(ts AS TIMESTAMP)
         |      - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
         |      > INTERVAL 30 MINUTE OR
         |      LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |    THEN 1 ELSE 0 END AS is_new
         |  FROM events),
         |sess AS (
         |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM gaps)
         |SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n_events,
         |  ${sqlDsum("value")} AS sum_value, MAX(ts) AS last_ts
         |FROM sess GROUP BY user_id, session_id
         |${orderAll("session_start", "user_id", "n_events")}""".stripMargin,
    "ts_staleness" ->
      s"""SELECT user_id, MAX(CAST(ts AS TIMESTAMP)) AS last_seen
         |FROM events GROUP BY user_id
         |HAVING MAX(CAST(ts AS TIMESTAMP)) <
         |  (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 2 DAY
         |${orderAll("user_id", "last_seen")}""".stripMargin,
    "ts_staleness_alert" ->
      s"""SELECT 'site' || CAST(user_id AS VARCHAR) AS host,
         |  MAX(CAST(ts AS TIMESTAMP)) AS last_seen,
         |  'stale_datalogger' AS alert_type,
         |  '{"text": "Possible uncaught logging error: Latest file update '
         |    || 'more than two days ago on host: site'
         |    || CAST(user_id AS VARCHAR) || '"}' AS payload
         |FROM events GROUP BY user_id
         |HAVING MAX(CAST(ts AS TIMESTAMP)) <
         |  (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 2 DAY
         |${orderAll("host", "last_seen", "alert_type", "payload")}""".stripMargin,
    "ts_retention" ->
      s"""WITH daily AS (
         |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
         |    COUNT(*) AS n_rows
         |  FROM events GROUP BY 1)
         |SELECT day, n_rows,
         |  CAST(SUM(n_rows) OVER (ORDER BY day DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rows,
         |  SUM(n_rows) OVER (ORDER BY day DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 4000 AS keep
         |FROM daily
         |${orderAll("day", "n_rows", "cum_rows", "keep")}""".stripMargin,
    "ts_retention_bytes" ->
      s"""WITH daily AS (
         |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
         |    COUNT(*) AS n_rows,
         |    CAST(SUM(length(event_type) + length(CAST(user_id AS VARCHAR))
         |      + 36) AS BIGINT) AS day_bytes
         |  FROM events GROUP BY 1)
         |SELECT day, n_rows, day_bytes,
         |  CAST(SUM(day_bytes) OVER (ORDER BY day DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_bytes,
         |  SUM(day_bytes) OVER (ORDER BY day DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 400000 AS keep
         |FROM daily
         |${orderAll("day", "n_rows", "day_bytes", "cum_bytes", "keep")}""".stripMargin,
    "ts_upsert_dedup" ->
      s"""SELECT event_type, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |  MAX_BY(value, event_id) AS value, MAX(event_id) AS version
         |FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
         |GROUP BY event_type, user_id, ts
         |${orderAll("event_type", "user_id", "ts", "value", "version")}""".stripMargin)
}
