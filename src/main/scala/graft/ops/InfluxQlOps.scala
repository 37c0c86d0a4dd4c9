package graft.ops

import graft.OpCaches.scratch
import graft.Tables._
import graft.influxql.InfluxQL
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract queries for the [[graft.influxql.InfluxQL]] front end —
  * the reference's users query through InfluxQL strings (InfluxDB CLI +
  * Grafana panels, get_hot_intake_interval.py:117), so "a user could
  * switch" requires those strings to run as-is. Each entry feeds a literal
  * InfluxQL query through parse → DataFrame translation over the events
  * measurement; the DuckDB oracle re-derives the semantics with explicit
  * epoch arithmetic (engine-neutral bucket alignment).
  */
object InfluxQlOps {
  import Relational.{totalOrder, orderAll}

  /** events as a measurement frame (event-time column named `time`). */
  private def measurement(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events").withColumnRenamed("ts", "time")

  private def run(sql: String)(spark: SparkSession, dir: String): DataFrame =
    totalOrder(InfluxQL.run(spark, measurement(spark, dir), sql))

  /** Pinned clock for now()-relative queries — production passes
    * wall-clock; the differential gate needs a fixed instant. */
  private val Clock = "2024-01-08 12:00:00"

  private def runAt(sql: String)(spark: SparkSession, dir: String): DataFrame =
    totalOrder(InfluxQL.run(spark, measurement(spark, dir), sql, Some(Clock)))

  private val RawQ =
    "SELECT value, user_id AS buildingID FROM events " +
      "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-04 00:00:00' " +
      "AND event_type = 'click'"

  private val MeanBucketQ =
    "SELECT mean(value) AS mean_value, count(value) AS n FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-08 00:00:00' " +
      "GROUP BY time(6h)"

  private val GroupTagQ =
    "SELECT max(value) AS max_value, min(value) AS min_value, " +
      "count(value) AS n FROM events GROUP BY time(1d), event_type"

  private val FillPrevQ =
    "SELECT mean(value) AS mean_value FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-05 00:00:00' " +
      "GROUP BY time(12h), user_id fill(previous)"

  private val LimitQ =
    "SELECT count(value) AS n FROM events GROUP BY time(1h) " +
      "ORDER BY time DESC LIMIT 24"

  // InfluxDB LIMIT caps points PER SERIES when GROUP BY tags are present:
  // 3 newest daily buckets for each event_type, not 3 rows overall
  private val LimitSeriesQ =
    "SELECT count(value) AS n FROM events GROUP BY time(1d), event_type " +
      "ORDER BY time DESC LIMIT 3"

  // inclusive upper bound landing exactly on a bucket boundary: the bucket
  // starting at the bound must appear in the fill() spine
  private val FillBoundaryQ =
    "SELECT mean(value) AS mean_value FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time <= '2024-01-04 00:00:00' " +
      "GROUP BY time(12h) fill(previous)"

  private val FillLinearQ =
    "SELECT mean(value) AS mv FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-05 00:00:00' " +
      "GROUP BY time(6h), user_id fill(linear)"

  private val FillNullQ =
    "SELECT count(value) AS n FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-03 00:00:00' " +
      "GROUP BY time(12h), event_type fill(null)"

  private val NnDiffQ =
    "SELECT non_negative_difference(max(value)) AS d FROM events " +
      "GROUP BY time(1d), event_type"

  private val CountDistinctQ =
    "SELECT count(distinct(user_id)) AS u FROM events GROUP BY time(1d)"

  // time since the previous point per series, in whole minutes
  private val ElapsedQ =
    "SELECT elapsed(value, 1m) AS gap FROM events " +
      "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-03 00:00:00' " +
      "GROUP BY event_type"

  // trapezoidal integral per day, in value·hours — the metering volume
  // query shape (reference pulses → volume, get_hot_intake_interval.py)
  private val IntegralQ =
    "SELECT integral(value, 1h) AS vol FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-08 00:00:00' " +
      "GROUP BY time(1d), event_type"

  // classic InfluxDB subquery shape: peak of the per-user daily means
  private val SubqueryQ =
    "SELECT max(mv) AS peak FROM " +
      "(SELECT mean(value) AS mv FROM events GROUP BY time(1d), user_id) " +
      "GROUP BY time(1d)"

  // depth-2 nesting: hourly means -> per-user daily peaks -> daily max
  private val SubqueryNestedQ =
    "SELECT max(pk) AS mpk FROM " +
      "(SELECT max(mv) AS pk FROM " +
      "(SELECT mean(value) AS mv FROM events GROUP BY time(6h), user_id) " +
      "GROUP BY time(1d), user_id) " +
      "GROUP BY time(1d)"

  // point pagination: second page of the newest hourly counts
  private val OffsetQ =
    "SELECT count(value) AS n FROM events GROUP BY time(1h) " +
      "ORDER BY time DESC LIMIT 24 OFFSET 24"

  // series pagination: users ranked 3..7 in tag order
  private val SlimitQ =
    "SELECT count(value) AS n FROM events GROUP BY time(1d), user_id " +
      "SLIMIT 5 SOFFSET 2"

  // GROUP BY * expands to every tag (string column) of the measurement
  private val GroupStarQ =
    "SELECT count(value) AS n FROM events GROUP BY time(1d), *"

  // select-item arithmetic — the reference's pulses→gallons conversion
  // shape (get_hot_intake_interval's volume math) as one query
  private val ArithQ =
    "SELECT sum(value) * 0.264172 AS gallons, mean(value) / 60 AS per_sec " +
      "FROM events GROUP BY time(1d)"

  // the dashboard shape: a now()-relative window, clock pinned for the gate
  private val NowQ =
    "SELECT count(value) AS n FROM events " +
      "WHERE time >= now() - 7d AND time < now() GROUP BY time(1d)"

  // Grafana template variables expand to tag regex matches
  private val RegexTagQ =
    "SELECT count(value) AS n FROM events " +
      "WHERE event_type =~ /^(click|view)$/ GROUP BY time(1d), event_type"

  // local-midnight daily buckets — a metering utility's "daily" is local
  // time (the reference deployment is in Utah), not UTC
  private val TzQ =
    "SELECT count(value) AS n FROM events GROUP BY time(1d), event_type " +
      "tz('America/Denver')"

  // field-to-field arithmetic (per point) — InfluxQL's field math beyond
  // the literal form: a derived ratio of two numeric fields
  private val FieldBinopQ =
    "SELECT value / user_id AS ratio FROM events " +
      "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-03 00:00:00'"

  // aggregate-to-aggregate arithmetic (post-aggregation per bucket)
  private val AggBinopQ =
    "SELECT max(value) - min(value) AS vrange FROM events " +
      "GROUP BY time(1d), event_type"

  // mixed-precedence field math: * and / bind tighter than + and -
  // (`max - min/2` is `max - (min/2)`), and explicit parens override —
  // both shapes in one query so the oracle pins the evaluation order
  private val PrecedenceQ =
    "SELECT max(value) - min(value) / 2 AS adj, " +
      "(max(value) - min(value)) / 2 AS halfrange FROM events " +
      "GROUP BY time(1d), event_type"

  // time(n, off) under tz(): the local billing window — daily buckets
  // starting at local 02:00 (09:00 UTC in Denver's winter)
  private val TzOffsetQ =
    "SELECT count(value) AS n FROM events GROUP BY time(1d, 2h), event_type " +
      "tz('America/Denver')"

  // fill() under tz(): the Grafana default panel shape (fill + configured
  // timezone) — the spine steps LOCAL midnights (07:00 UTC in Denver's
  // winter) and LOCF runs over the local-aligned grid
  private val TzFillQ =
    "SELECT mean(value) AS mv FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-05 00:00:00' " +
      "GROUP BY time(1d), event_type fill(previous) tz('America/Denver')"

  // OR-groups inside a conjunction (the multi-select dashboard filter)
  private val OrQ =
    "SELECT count(value) AS n FROM events " +
      "WHERE time >= '2024-01-02 00:00:00' AND " +
      "(event_type = 'click' OR event_type = 'error' OR value > 900) " +
      "GROUP BY time(1d), event_type"

  // -- the transform/selector function surface (InfluxDB series functions) --

  private val DerivQ =
    "SELECT derivative(mean(value), 1h) AS rate FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-05 00:00:00' " +
      "GROUP BY time(6h)"

  // fill + transform (the Grafana rate panel with fill(previous)): densify
  // the per-user buckets, LOCF, THEN derivative — a plateau derives to 0
  private val DerivFillQ =
    "SELECT derivative(mean(value), 1h) AS rate FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-03 00:00:00' " +
      "GROUP BY time(6h), user_id fill(previous)"

  private val DiffQ =
    "SELECT difference(max(value)) AS diff FROM events " +
      "GROUP BY time(1d), event_type"

  private val MovAvgQ =
    "SELECT moving_average(mean(value), 4) AS ma FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(6h)"

  private val CumSumQ =
    "SELECT cumulative_sum(sum(value)) AS cs FROM events GROUP BY time(1d)"

  // holt_winters: additive seasonal forecast (m=4 six-hour buckets = a
  // daily season), h=8 points ahead; the _with_fit twin runs the
  // non-seasonal (m=0) level+trend fold PER SERIES and also emits the
  // one-step-ahead fitted curve
  // technical-analysis transforms: deterministic per-series recurrences
  // (EMA / Wilder RSI / CMO), oracled via recursive CTEs / list folds
  private val EmaQ =
    "SELECT exponential_moving_average(mean(value), 4) AS ema FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(6h)"

  private val RsiQ =
    "SELECT relative_strength_index(mean(value), 6) AS rsi FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(6h), event_type"

  private val CmoQ =
    "SELECT chande_momentum_oscillator(mean(value), 4) AS cmo FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(6h)"

  private val DemaQ =
    "SELECT double_exponential_moving_average(mean(value), 4) AS dema " +
      "FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(6h)"

  private val TemaQ =
    "SELECT triple_exponential_moving_average(mean(value), 4) AS tema " +
      "FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(12h), event_type"

  private val TrixQ =
    "SELECT triple_exponential_derivative(mean(value), 4) AS trix " +
      "FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(6h)"

  private val KerQ =
    "SELECT kaufmans_efficiency_ratio(mean(value), 6) AS ker FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(6h)"

  private val KamaQ =
    "SELECT kaufmans_adaptive_moving_average(mean(value), 6) AS kama " +
      "FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(6h)"

  // seeded deterministic sample(): md5-ranked (cross-engine — full
  // DuckDB oracle) + distribution spec
  private val SampleQ =
    "SELECT sample(value, 3) AS s FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(1d), event_type"

  private val HwQ =
    "SELECT holt_winters(mean(value), 8, 4) AS hw FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(6h)"

  private val HwFitQ =
    "SELECT holt_winters_with_fit(mean(value), 4, 0) AS hwf FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-06 00:00:00' " +
      "GROUP BY time(12h), event_type"

  // raw-series transforms (no GROUP BY time()): the Grafana rate-panel
  // shape — per-series lag over RAW points (the reference's hot-intake
  // interval math, get_hot_intake_interval.py:56-65, is exactly this)
  private val DerivRawQ =
    "SELECT derivative(value, 1h) AS rate FROM events " +
      "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-03 00:00:00' " +
      "GROUP BY event_type"

  private val MovAvgRawQ =
    "SELECT moving_average(value, 4) AS ma FROM events " +
      "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-03 00:00:00' " +
      "GROUP BY event_type"

  private val FirstLastQ =
    "SELECT first(value) AS fv, last(value) AS lv FROM events " +
      "GROUP BY time(1d), event_type"

  private val SpreadStdQ =
    "SELECT spread(value) AS sp, stddev(value) AS sd FROM events " +
      "GROUP BY time(1d)"

  private val PercQ =
    "SELECT percentile(value, 90) AS p90, median(value) AS med FROM events " +
      "GROUP BY time(1d)"

  private val TopQ =
    "SELECT top(value, 5) AS v FROM events " +
      "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-03 00:00:00'"

  private val BottomQ =
    "SELECT bottom(value, 2) AS v FROM events GROUP BY event_type"

  // per-bucket top-N (the dashboard "hottest per hour" panel): top() under
  // GROUP BY time(), InfluxDB's (value desc, time asc) tiebreak, points
  // keeping their own timestamps
  private val TopBucketQ =
    "SELECT top(value, 3) AS v FROM events GROUP BY time(1d), event_type"

  // the 3-arg form ("top N hosts"): each distinct tag is represented by
  // its own extreme point, the 2 best tags win per day bucket
  private val TopTagQ =
    "SELECT top(value, event_type, 2) AS v FROM events GROUP BY time(1d)"

  // wildcard aggregate: mean(*) expands to every numeric field, named
  // mean_<field> (InfluxDB's fn_* convention)
  private val AggStarQ =
    "SELECT mean(*) FROM events GROUP BY time(1d)"

  // raw points under GROUP BY tag: the newest 3 points PER SERIES, tags
  // riding along in the flattened output (the series-grouped listing shape)
  private val RawSeriesQ =
    "SELECT value FROM events " +
      "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-05 00:00:00' " +
      "GROUP BY event_type ORDER BY time DESC LIMIT 3"

  // distinct(): the unique field values per bucket, one row each
  private val DistinctQ =
    "SELECT distinct(user_id) AS u FROM events " +
      "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-04 00:00:00' " +
      "GROUP BY time(1d)"

  // mode(): most frequent value per bucket, lowest wins ties
  private val ModeQ =
    "SELECT mode(user_id) AS m FROM events GROUP BY time(1d)"

  // histogram(): RESERVED by InfluxQL 1.x, never implemented by InfluxDB —
  // graft ships it (see InfluxQL.Histogram). Daily per-type value
  // distribution in 20 clamped-width-10 bins.
  private val HistogramQ =
    "SELECT histogram(\"value\", 0, 200, 20) AS n FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-08 00:00:00' " +
      "GROUP BY time(1d), event_type"

  // fill(<number>): empty buckets take a constant (the sentinel-value
  // dashboard convention)
  private val FillValueQ =
    "SELECT count(value) AS n FROM events " +
      "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-03 00:00:00' " +
      "GROUP BY time(12h), event_type fill(100)"

  // GROUP BY time(1d, 6h): day buckets starting at 06:00 (a utility's
  // billing day), InfluxQL's bucket-boundary offset
  private val TimeOffsetQ =
    "SELECT count(value) AS n FROM events GROUP BY time(1d, 6h)"

  // FROM /regex/: the query runs per matching measurement and unions
  private val FromRegexQ =
    "SELECT count(value) AS n FROM /^events/ GROUP BY time(1d)"

  // math functions over raw fields (per-point) — the IEEE-exact set
  private val MathQ =
    "SELECT round(sqrt(value)) AS rs, abs(value - 500) AS av FROM events " +
      "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-03 00:00:00'"

  // math functions over aggregates (post-aggregation per bucket)
  private val MathAggQ =
    "SELECT floor(mean(value)) AS fm, ceil(max(value) / 10) AS cm " +
      "FROM events GROUP BY time(1d)"

  // epoch-duration time literals — the InfluxQL numeric-epoch bound form
  private val EpochBoundQ =
    "SELECT count(value) AS n FROM events " +
      "WHERE time >= 1704153600s AND time < 1704326400s GROUP BY time(6h)"

  // sub-second buckets (high-frequency metering): time(500ms)
  private val MsBucketQ =
    "SELECT count(value) AS n FROM events " +
      "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-02 01:00:00' " +
      "GROUP BY time(500ms)"

  // Grafana's default dashboard filter: epoch-millisecond literals
  private val EpochMsQ =
    "SELECT count(value) AS n FROM events " +
      "WHERE time >= 1704153600000ms AND time < 1704326400000ms " +
      "GROUP BY time(6h)"

  /** [[FromRegexQ]] resolves measurements from a catalog: `events` plus a
    * derived `events_clicks` series (the multi-site shape — same schema,
    * one measurement per source). */
  private def runCat(sql: String)(spark: SparkSession, dir: String): DataFrame = {
    val m = measurement(spark, dir)
    val cat = Seq(
      "events" -> m,
      "events_clicks" -> m.filter(col("event_type") === "click"))
    totalOrder(InfluxQL.runCatalog(spark, cat, sql))
  }

  /** SHOW DATABASES through the database-level catalog — the very first
    * statement a deployment issues (reference deployment_guide: CREATE
    * DATABASE before any write) and the first discovery query a Grafana
    * datasource sends. Exercises the full create → register → list flow. */
  private def showDatabases(spark: SparkSession, dir: String): DataFrame = {
    val cat = new graft.influxql.MeasurementCatalog(spark)
    cat.statement("CREATE DATABASE ciwsdb")
    cat.statement("CREATE DATABASE telegraf")
    cat.register("ciwsdb", "events", measurement(spark, dir))
    totalOrder(cat.statement("SHOW DATABASES"))
  }

  /** SHOW RETENTION POLICIES — the second statement of Grafana's datasource
    * handshake (right after SHOW DATABASES): every database is born with
    * InfluxDB's `autogen` (infinite, default); CREATE RETENTION POLICY
    * registers more and DEFAULT demotes the previous default. Enforcement
    * (duration → store DELETE) is spec-gated in InfluxQlSpec. */
  private def showRetentionPolicies(spark: SparkSession, dir: String): DataFrame = {
    val cat = new graft.influxql.MeasurementCatalog(spark)
    cat.statement("CREATE DATABASE ciwsdb")
    cat.statement(
      "CREATE RETENTION POLICY one_week ON ciwsdb DURATION 7d REPLICATION 1 DEFAULT")
    // the full lifecycle: ALTER retunes a non-default policy and promotes
    // it — one_week demotes (single-default invariant), the named clauses
    // change, REPLICATION carries over untouched
    cat.statement(
      "CREATE RETENTION POLICY archive ON ciwsdb DURATION 4w REPLICATION 2")
    cat.statement(
      "ALTER RETENTION POLICY archive ON ciwsdb DURATION 52w DEFAULT")
    totalOrder(cat.statement("SHOW RETENTION POLICIES ON ciwsdb"))
  }

  /** SHOW CONTINUOUS QUERIES through the managed registry — the lifecycle
    * half of the reference's cron-replacement: create three, drop one, list
    * the survivors. (Checkpointed resume of a registered CQ is spec-gated
    * in IngestStoreStreamSpec.) */
  private def showContinuousQueries(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "cq_registry")
    val reg = new graft.streaming.CqRegistry(spark, root)
    reg.statement("CREATE CONTINUOUS QUERY cq_hourly ON ciwsdb BEGIN " +
      "SELECT mean(value) AS mv INTO hourly_means FROM events " +
      "GROUP BY time(1h), event_type END")
    reg.statement("CREATE CONTINUOUS QUERY cq_daily ON ciwsdb BEGIN " +
      "SELECT count(value) AS n INTO daily_counts FROM events " +
      "GROUP BY time(1d) END")
    reg.statement("CREATE CONTINUOUS QUERY cq_tmp ON staging BEGIN " +
      "SELECT max(value) AS mx INTO tmp_max FROM events " +
      "GROUP BY time(1d) END")
    reg.statement("DROP CONTINUOUS QUERY cq_tmp ON staging")
    totalOrder(reg.statement("SHOW CONTINUOUS QUERIES"))
  }

  /** `SELECT ... INTO` through the store — the reference's
    * read-transform-write loop (get_hot_intake_interval.py:68-85) as one
    * statement: the daily per-tag mean lands in a new measurement, which
    * is then read back. Gate-checks the whole write path, not just the
    * SELECT translation. */
  private def influxqlInto(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "influxql_into")
    val store = new graft.store.MeasurementStore(spark, root)
    store.append("flow", load(spark, dir, "events")
      .select(col("event_type"), col("ts").as("time"), col("value")))
    store.influxql("flow",
      "SELECT mean(value) AS mv INTO daily_mean FROM flow " +
        "GROUP BY time(1d), event_type")
    totalOrder(store.read("daily_mean")
      .select(col("time"), col("event_type"), col("mv")))
  }

  /** `INTO <rp>.:MEASUREMENT FROM /regex/` — the downsample-everything
    * idiom: ONE statement reads every matching measurement and writes one
    * per-source target through the store ([[graft.store.MeasurementStore
    * .influxqlAll]]). Two source measurements go in; both `weekly.<src>`
    * fan-out targets are read BACK from disk for the oracle, so the check
    * covers the write fan-out, not just the union SELECT. */
  private def influxqlIntoBackref(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "influxql_backref")
    val store = new graft.store.MeasurementStore(spark, root)
    val ev = load(spark, dir, "events")
    for (et <- Seq("click", "view"))
      store.append(s"ciws_$et", ev.filter(col("event_type") === et)
        .select(col("ts").as("time"), col("user_id"), col("value")))
    store.influxqlAll("SELECT mean(value) AS mv INTO \"weekly\".:MEASUREMENT " +
      "FROM /^ciws_/ GROUP BY time(1d)")
    totalOrder(Seq("click", "view").map { et =>
      store.read(s"weekly.ciws_$et")
        .select(lit(s"ciws_$et").as("measurement"), col("time"), col("mv"))
    }.reduce(_ unionByName _))
  }

  /** DELETE / DROP SERIES / DROP MEASUREMENT through the catalog front
    * door: a time+tag-bounded DELETE and a whole-series DROP mutate the
    * registered measurement (filter complement), and the surviving points
    * answer a normal bucketed query — CLI statement parity for the
    * mutation verbs the store tier already proves crash-safely
    * (store_delete_roundtrip / store_drop_series). */
  private def influxqlDelete(spark: SparkSession, dir: String): DataFrame = {
    val cat = new graft.influxql.MeasurementCatalog(spark)
    cat.statement("CREATE DATABASE deldb")
    cat.register("deldb", "ev", measurement(spark, dir))
    cat.statement("DELETE FROM ev " +
      "WHERE event_type = 'click' AND time < '2024-01-03 00:00:00'")
    cat.statement("DROP SERIES FROM ev WHERE event_type = 'error'")
    totalOrder(cat.statement(
      "SELECT count(value) AS n FROM ev GROUP BY time(1d), event_type"))
  }

  /** All fixture tables as the measurement catalog (metadata queries). */
  private def catalog(spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    graft.Tables.names.map { n =>
      val df = load(spark, dir, n)
      n -> (if (df.columns.contains("ts")) df.withColumnRenamed("ts", "time") else df)
    }

  private def meta(sql: String)(spark: SparkSession, dir: String): DataFrame =
    totalOrder(InfluxQL.runMeta(spark, catalog(spark, dir), sql))

  /** FROM-less SHOW forms over a store-shaped catalog (the two-measurement
    * series set [[runCat]] also queries). */
  private def metaCat(sql: String)(spark: SparkSession, dir: String): DataFrame = {
    val m = measurement(spark, dir)
    val cat = Seq(
      "events" -> m,
      "events_clicks" -> m.filter(col("event_type") === "click"))
    totalOrder(InfluxQL.runMeta(spark, cat, sql))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "influxql_raw" -> run(RawQ) _,
    "influxql_mean_bucket" -> run(MeanBucketQ) _,
    "influxql_group_tag" -> run(GroupTagQ) _,
    "influxql_fill_previous" -> run(FillPrevQ) _,
    "influxql_limit" -> run(LimitQ) _,
    "influxql_limit_series" -> run(LimitSeriesQ) _,
    "influxql_fill_boundary" -> run(FillBoundaryQ) _,
    "influxql_fill_linear" -> run(FillLinearQ) _,
    "influxql_fill_null" -> run(FillNullQ) _,
    "influxql_nn_difference" -> run(NnDiffQ) _,
    "influxql_count_distinct" -> run(CountDistinctQ) _,
    "influxql_elapsed" -> run(ElapsedQ) _,
    "influxql_integral" -> run(IntegralQ) _,
    "influxql_subquery" -> run(SubqueryQ) _,
    "influxql_subquery_nested" -> run(SubqueryNestedQ) _,
    "influxql_offset" -> run(OffsetQ) _,
    "influxql_slimit" -> run(SlimitQ) _,
    "influxql_derivative" -> run(DerivQ) _,
    "influxql_derivative_raw" -> run(DerivRawQ) _,
    "influxql_derivative_fill" -> run(DerivFillQ) _,
    "influxql_moving_average_raw" -> run(MovAvgRawQ) _,
    "influxql_difference" -> run(DiffQ) _,
    "influxql_moving_average" -> run(MovAvgQ) _,
    "influxql_cumulative_sum" -> run(CumSumQ) _,
    "influxql_holt_winters" -> run(HwQ) _,
    "influxql_holt_winters_fit" -> run(HwFitQ) _,
    "influxql_sample" -> run(SampleQ) _,
    "influxql_ema" -> run(EmaQ) _,
    "influxql_rsi" -> run(RsiQ) _,
    "influxql_cmo" -> run(CmoQ) _,
    "influxql_dema" -> run(DemaQ) _,
    "influxql_tema" -> run(TemaQ) _,
    "influxql_trix" -> run(TrixQ) _,
    "influxql_ker" -> run(KerQ) _,
    "influxql_kama" -> run(KamaQ) _,
    "influxql_first_last" -> run(FirstLastQ) _,
    "influxql_spread_stddev" -> run(SpreadStdQ) _,
    "influxql_percentile" -> run(PercQ) _,
    "influxql_top" -> run(TopQ) _,
    "influxql_bottom_tag" -> run(BottomQ) _,
    "influxql_top_bucket" -> run(TopBucketQ) _,
    "influxql_top_tag_n" -> run(TopTagQ) _,
    "influxql_agg_star" -> run(AggStarQ) _,
    "influxql_group_star" -> run(GroupStarQ) _,
    "influxql_raw_series" -> run(RawSeriesQ) _,
    "influxql_distinct" -> run(DistinctQ) _,
    "influxql_mode" -> run(ModeQ) _,
    "influxql_histogram" -> run(HistogramQ) _,
    "influxql_fill_value" -> run(FillValueQ) _,
    "influxql_time_offset" -> run(TimeOffsetQ) _,
    "influxql_from_regex" -> runCat(FromRegexQ) _,
    "influxql_epoch_bound" -> run(EpochBoundQ) _,
    "influxql_epoch_ms_bound" -> run(EpochMsQ) _,
    "influxql_ms_bucket" -> run(MsBucketQ) _,
    "influxql_math" -> run(MathQ) _,
    "influxql_math_agg" -> run(MathAggQ) _,
    "influxql_into" -> (influxqlInto _),
    "influxql_into_backref" -> (influxqlIntoBackref _),
    "influxql_delete" -> (influxqlDelete _),
    "influxql_arith" -> run(ArithQ) _,
    "influxql_now_relative" -> runAt(NowQ) _,
    "influxql_regex_tag" -> run(RegexTagQ) _,
    "influxql_or_group" -> run(OrQ) _,
    "influxql_tz" -> run(TzQ) _,
    "influxql_tz_fill" -> run(TzFillQ) _,
    "influxql_tz_offset" -> run(TzOffsetQ) _,
    "influxql_field_binop" -> run(FieldBinopQ) _,
    "influxql_agg_binop" -> run(AggBinopQ) _,
    "influxql_binop_precedence" -> run(PrecedenceQ) _,
    "influxql_show_measurements" -> meta("SHOW MEASUREMENTS") _,
    "influxql_show_tag_values" ->
      meta("SHOW TAG VALUES FROM events WITH KEY = event_type") _,
    "influxql_show_tag_values_in" ->
      meta("""SHOW TAG VALUES FROM events WITH KEY IN ("event_type", "props")""") _,
    "influxql_show_tag_values_regex" ->
      meta("SHOW TAG VALUES FROM events WITH KEY =~ /type/") _,
    "influxql_show_tag_values_all" ->
      metaCat("SHOW TAG VALUES WITH KEY = event_type") _,
    "influxql_show_tag_values_where" ->
      meta("SHOW TAG VALUES FROM events WITH KEY = props " +
        "WHERE event_type = 'click'") _,
    "influxql_show_measurements_regex" ->
      metaCat("SHOW MEASUREMENTS WITH MEASUREMENT =~ /clicks/") _,
    "influxql_show_databases" -> (showDatabases _),
    "influxql_show_continuous_queries" -> (showContinuousQueries _),
    "influxql_show_retention_policies" -> (showRetentionPolicies _),
    "influxql_from_list" ->
      runCat("""SELECT count(value) AS n FROM "events", "events_clicks" GROUP BY time(1d)""") _,
    "influxql_show_series" -> meta("SHOW SERIES FROM events") _,
    "influxql_series_cardinality" ->
      metaCat("SHOW SERIES EXACT CARDINALITY") _,
    "influxql_measurement_cardinality" ->
      metaCat("SHOW MEASUREMENT EXACT CARDINALITY") _,
    "influxql_tag_key_cardinality" ->
      metaCat("SHOW TAG KEY EXACT CARDINALITY") _,
    "influxql_field_key_cardinality" ->
      metaCat("SHOW FIELD KEY EXACT CARDINALITY") _,
    "influxql_tag_values_cardinality" ->
      metaCat("SHOW TAG VALUES EXACT CARDINALITY WITH KEY = event_type") _,
    "influxql_explain" ->
      meta("EXPLAIN SELECT mean(value) AS mv FROM events " +
        "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-10 00:00:00' " +
        "GROUP BY time(1d), event_type") _,
    "influxql_explain_multi" ->
      metaCat("EXPLAIN SELECT mean(value) AS mv FROM /events/ " +
        "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-10 00:00:00' " +
        "GROUP BY time(1d), event_type") _,
    "influxql_select_star" ->
      run("SELECT * FROM events " +
        "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-02 06:00:00'") _,
    "influxql_show_tag_keys" -> meta("SHOW TAG KEYS FROM events") _,
    "influxql_show_tag_keys_all" -> metaCat("SHOW TAG KEYS") _,
    "influxql_show_field_keys_all" -> metaCat("SHOW FIELD KEYS") _,
    "influxql_show_field_keys" -> meta("SHOW FIELD KEYS FROM events") _)

  /** Engine-neutral bucket start: naive-timestamp epoch floor. DuckDB's
    * epoch() returns DOUBLE seconds and CAST(DOUBLE AS BIGINT) ROUNDS —
    * a point in the last half-second of a bucket would round into the
    * next one — so floor() first (Spark's window() truncates). */
  private[ops] def sqlBucket(ts: String, stepSec: Long): String =
    s"TIMESTAMP '1970-01-01 00:00:00' + " +
      s"((CAST(floor(epoch($ts)) AS BIGINT) // $stepSec) * $stepSec) * INTERVAL 1 SECOND"

  /** Sub-second twin of [[sqlBucket]]: µs-exact epoch floor
    * (`make_timestamp` takes epoch-µs directly — a BIGINT × INTERVAL
    * product would overflow DuckDB's INT32 interval component). */
  private[ops] def sqlBucketUs(ts: String, stepUs: Long): String =
    s"make_timestamp((epoch_us($ts) // $stepUs) * $stepUs)"

  /** [[sqlBucket]] with the `time(n, off)` boundary shift. */
  private[ops] def sqlBucketOff(ts: String, stepSec: Long, offSec: Long): String =
    s"TIMESTAMP '1970-01-01 00:00:00' + " +
      s"((((CAST(floor(epoch($ts)) AS BIGINT) - $offSec) // $stepSec)" +
      s" * $stepSec) + $offSec) * INTERVAL 1 SECOND"

  /** Shared WITH-prefix for the technical-analysis oracles: the bucketed
    * series as ordered lists (`ser`: ys + ts), global or per-event_type,
    * over the standard 2024-01-01..06 window. */
  private def taSer(stepSec: Long, tag: Boolean): String = {
    val tagSel = if (tag) "event_type, " else ""
    val tagGrp = if (tag) " GROUP BY event_type" else ""
    val grpCols = if (tag) "1, 2" else "1"
    s"""f AS (
       |  SELECT CAST(ts AS TIMESTAMP) AS t, ${tagSel}value FROM events
       |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
       |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00'),
       |agg AS (
       |  SELECT $tagSel${sqlBucket("t", stepSec)} AS time,
       |    ${sqlDavg("value")} AS y
       |  FROM f GROUP BY $grpCols),
       |ser AS (
       |  SELECT ${tagSel}list(y ORDER BY time) AS ys,
       |    list(time ORDER BY time) AS ts
       |  FROM agg$tagGrp)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "influxql_raw" ->
      s"""SELECT CAST(ts AS TIMESTAMP) AS time, value, user_id AS buildingID
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-04 00:00:00'
         |  AND event_type = 'click'
         |${orderAll("time", "value", "buildingID")}""".stripMargin,
    "influxql_mean_bucket" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 21600)} AS time,
         |  ${sqlDavg("value")} AS mean_value, COUNT(value) AS n
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08 00:00:00'
         |GROUP BY 1
         |${orderAll("time", "mean_value", "n")}""".stripMargin,
    "influxql_group_tag" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  event_type, MAX(value) AS max_value, MIN(value) AS min_value,
         |  COUNT(value) AS n
         |FROM events GROUP BY 1, 2
         |${orderAll("time", "event_type", "max_value", "min_value", "n")}""".stripMargin,
    "influxql_fill_previous" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, user_id, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-05 00:00:00'),
         |agg AS (
         |  SELECT ${sqlBucket("t", 43200)} AS time, user_id,
         |    ${sqlDavg("value")} AS mean_value
         |  FROM f GROUP BY 1, 2),
         |spine AS (
         |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
         |    TIMESTAMP '2024-01-04 12:00:00', INTERVAL 12 HOUR)) AS time),
         |users AS (SELECT DISTINCT user_id FROM f),
         |grid AS (SELECT s.time, u.user_id FROM spine s CROSS JOIN users u)
         |SELECT * FROM (
         |  SELECT g.time, g.user_id,
         |    LAST_VALUE(a.mean_value IGNORE NULLS) OVER (
         |      PARTITION BY g.user_id ORDER BY g.time
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mean_value
         |  FROM grid g LEFT JOIN agg a
         |    ON a.time = g.time AND a.user_id = g.user_id)
         |${orderAll("time", "user_id", "mean_value")}""".stripMargin,
    "influxql_show_measurements" ->
      s"""SELECT * FROM (VALUES ${graft.Tables.names.sorted
             .map(n => s"('$n')").mkString(", ")}) AS t(name)
         |${orderAll("name")}""".stripMargin,
    "influxql_show_tag_keys" ->
      s"""SELECT * FROM (VALUES ('event_type'), ('props')) AS t(tagKey)
         |${orderAll("tagKey")}""".stripMargin,
    "influxql_series_cardinality" ->
      s"""SELECT measurement, count FROM (
         |  SELECT 'events' AS measurement, CAST(COUNT(*) AS BIGINT) AS count
         |  FROM (SELECT DISTINCT event_type, props FROM events)
         |  UNION ALL
         |  SELECT 'events_clicks' AS measurement, CAST(COUNT(*) AS BIGINT) AS count
         |  FROM (SELECT DISTINCT event_type, props FROM events
         |        WHERE event_type = 'click'))
         |${orderAll("measurement", "count")}""".stripMargin,
    "influxql_measurement_cardinality" ->
      s"""SELECT CAST(2 AS BIGINT) AS count
         |${orderAll("count")}""".stripMargin,
    "influxql_tag_key_cardinality" ->
      s"""SELECT measurement, CAST(n AS BIGINT) AS count FROM (VALUES
         |  ('events', 2), ('events_clicks', 2)) AS t(measurement, n)
         |${orderAll("measurement", "count")}""".stripMargin,
    "influxql_field_key_cardinality" ->
      s"""SELECT measurement, CAST(n AS BIGINT) AS count FROM (VALUES
         |  ('events', 3), ('events_clicks', 3)) AS t(measurement, n)
         |${orderAll("measurement", "count")}""".stripMargin,
    "influxql_explain" ->
      s"""WITH f AS (SELECT * FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-10 00:00:00')
         |SELECT item, value FROM (
         |  SELECT 'EXPRESSION' AS item, 'mean(value) AS mv' AS value
         |  UNION ALL
         |  SELECT 'NUMBER OF SHARDS',
         |    CAST(COUNT(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
         |      AS VARCHAR) FROM f
         |  UNION ALL
         |  SELECT 'NUMBER OF SERIES', CAST((SELECT COUNT(*) FROM
         |    (SELECT DISTINCT event_type, props FROM f)) AS VARCHAR)
         |  UNION ALL
         |  SELECT 'NUMBER OF POINTS', CAST(COUNT(*) AS VARCHAR) FROM f)
         |${orderAll("item", "value")}""".stripMargin,
    "influxql_explain_multi" ->
      // FROM /events/ matches both catalog measurements; one report block
      // per source, each led by a SOURCE row (rows hash as a multiset, so
      // the blocks may interleave under the gate's total order)
      s"""WITH fe AS (SELECT * FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-10 00:00:00'),
         |fc AS (SELECT * FROM fe WHERE event_type = 'click')
         |SELECT item, value FROM (
         |  SELECT 'SOURCE' AS item, 'events' AS value
         |  UNION ALL SELECT 'EXPRESSION', 'mean(value) AS mv'
         |  UNION ALL SELECT 'NUMBER OF SHARDS',
         |    CAST(COUNT(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
         |      AS VARCHAR) FROM fe
         |  UNION ALL SELECT 'NUMBER OF SERIES', CAST((SELECT COUNT(*) FROM
         |    (SELECT DISTINCT event_type, props FROM fe)) AS VARCHAR)
         |  UNION ALL SELECT 'NUMBER OF POINTS', CAST(COUNT(*) AS VARCHAR) FROM fe
         |  UNION ALL SELECT 'SOURCE', 'events_clicks'
         |  UNION ALL SELECT 'EXPRESSION', 'mean(value) AS mv'
         |  UNION ALL SELECT 'NUMBER OF SHARDS',
         |    CAST(COUNT(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
         |      AS VARCHAR) FROM fc
         |  UNION ALL SELECT 'NUMBER OF SERIES', CAST((SELECT COUNT(*) FROM
         |    (SELECT DISTINCT event_type, props FROM fc)) AS VARCHAR)
         |  UNION ALL SELECT 'NUMBER OF POINTS', CAST(COUNT(*) AS VARCHAR) FROM fc)
         |${orderAll("item", "value")}""".stripMargin,
    "influxql_tag_values_cardinality" ->
      s"""SELECT measurement, count FROM (
         |  SELECT 'events' AS measurement,
         |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS count FROM events
         |  UNION ALL
         |  SELECT 'events_clicks' AS measurement,
         |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS count
         |  FROM events WHERE event_type = 'click')
         |${orderAll("measurement", "count")}""".stripMargin,
    "influxql_show_tag_keys_all" ->
      s"""SELECT * FROM (VALUES
         |  ('events', 'event_type'), ('events', 'props'),
         |  ('events_clicks', 'event_type'), ('events_clicks', 'props'))
         |  AS t(measurement, tagKey)
         |${orderAll("measurement", "tagKey")}""".stripMargin,
    "influxql_show_field_keys_all" ->
      s"""SELECT * FROM (VALUES
         |  ('events', 'event_id', 'integer'),
         |  ('events', 'user_id', 'integer'),
         |  ('events', 'value', 'float'),
         |  ('events_clicks', 'event_id', 'integer'),
         |  ('events_clicks', 'user_id', 'integer'),
         |  ('events_clicks', 'value', 'float'))
         |  AS t(measurement, fieldKey, fieldType)
         |${orderAll("measurement", "fieldKey", "fieldType")}""".stripMargin,
    "influxql_show_field_keys" ->
      s"""SELECT * FROM (VALUES ('event_id', 'integer'),
         |  ('user_id', 'integer'), ('value', 'float'))
         |  AS t(fieldKey, fieldType)
         |${orderAll("fieldKey", "fieldType")}""".stripMargin,
    "influxql_limit" ->
      s"""SELECT * FROM (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 3600)} AS time,
         |    COUNT(value) AS n
         |  FROM events GROUP BY 1
         |  ORDER BY time DESC LIMIT 24)
         |${orderAll("time", "n")}""".stripMargin,
    "influxql_limit_series" ->
      s"""WITH agg AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    event_type, COUNT(value) AS n
         |  FROM events GROUP BY 1, 2)
         |SELECT time, event_type, n FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
         |    ORDER BY time DESC) AS rn FROM agg)
         |WHERE rn <= 3
         |${orderAll("time", "event_type", "n")}""".stripMargin,
    "influxql_fill_boundary" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-04 00:00:00'),
         |agg AS (
         |  SELECT ${sqlBucket("t", 43200)} AS time,
         |    ${sqlDavg("value")} AS mean_value
         |  FROM f GROUP BY 1),
         |spine AS (
         |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
         |    TIMESTAMP '2024-01-04 00:00:00', INTERVAL 12 HOUR)) AS time)
         |SELECT time, LAST_VALUE(mean_value IGNORE NULLS) OVER (
         |    ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS mean_value
         |FROM (SELECT s.time, a.mean_value
         |      FROM spine s LEFT JOIN agg a ON a.time = s.time)
         |${orderAll("time", "mean_value")}""".stripMargin,
    "influxql_fill_linear" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, user_id, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-05 00:00:00'),
         |agg AS (
         |  SELECT ${sqlBucket("t", 21600)} AS time, user_id,
         |    ${sqlDavg("value")} AS mv
         |  FROM f GROUP BY 1, 2),
         |spine AS (
         |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
         |    TIMESTAMP '2024-01-04 18:00:00', INTERVAL 6 HOUR)) AS time),
         |grid AS (SELECT s.time, u.user_id FROM spine s
         |  CROSS JOIN (SELECT DISTINCT user_id FROM f) u),
         |j AS (SELECT g.time, g.user_id, a.mv FROM grid g
         |  LEFT JOIN agg a ON a.time = g.time AND a.user_id = g.user_id),
         |w AS (
         |  SELECT time, user_id, mv,
         |    LAST_VALUE(mv IGNORE NULLS) OVER wp AS pv,
         |    LAST_VALUE(CASE WHEN mv IS NOT NULL THEN time END IGNORE NULLS)
         |      OVER wp AS pt,
         |    FIRST_VALUE(mv IGNORE NULLS) OVER wn AS nv,
         |    FIRST_VALUE(CASE WHEN mv IS NOT NULL THEN time END IGNORE NULLS)
         |      OVER wn AS nt
         |  FROM j WINDOW
         |    wp AS (PARTITION BY user_id ORDER BY time
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wn AS (PARTITION BY user_id ORDER BY time
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT time, user_id,
         |  CASE WHEN mv IS NOT NULL THEN mv
         |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         |         pv + (nv - pv) * ((epoch_us(time) - epoch_us(pt)) /
         |           (epoch_us(nt) - epoch_us(pt)))
         |  END AS mv
         |FROM w
         |${orderAll("time", "user_id", "mv")}""".stripMargin,
    "influxql_fill_null" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'),
         |agg AS (
         |  SELECT ${sqlBucket("t", 43200)} AS time, event_type,
         |    COUNT(value) AS n
         |  FROM f GROUP BY 1, 2),
         |spine AS (
         |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
         |    TIMESTAMP '2024-01-02 12:00:00', INTERVAL 12 HOUR)) AS time),
         |grid AS (SELECT s.time, e.event_type FROM spine s
         |  CROSS JOIN (SELECT DISTINCT event_type FROM f) e)
         |SELECT * FROM (
         |  SELECT g.time, g.event_type, a.n FROM grid g
         |  LEFT JOIN agg a ON a.time = g.time AND a.event_type = g.event_type)
         |${orderAll("time", "event_type", "n")}""".stripMargin,
    "influxql_nn_difference" ->
      s"""WITH agg AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    event_type, MAX(value) AS x
         |  FROM events GROUP BY 1, 2),
         |d AS (
         |  SELECT time, event_type,
         |    x - lag(x) OVER (PARTITION BY event_type ORDER BY time) AS d
         |  FROM agg)
         |SELECT time, event_type, d FROM d WHERE d >= 0
         |${orderAll("time", "event_type", "d")}""".stripMargin,
    "influxql_count_distinct" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  COUNT(DISTINCT user_id) AS u
         |FROM events GROUP BY 1
         |${orderAll("time", "u")}""".stripMargin,
    "influxql_group_star" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  event_type, props, COUNT(value) AS n
         |FROM events GROUP BY 1, 2, 3
         |${orderAll("time", "event_type", "props", "n")}""".stripMargin,
    "influxql_show_tag_values" ->
      s"""SELECT DISTINCT 'event_type' AS key, event_type AS value
         |FROM events
         |${orderAll("key", "value")}""".stripMargin,
    "influxql_show_tag_values_in" ->
      s"""SELECT * FROM (
         |  SELECT DISTINCT 'event_type' AS key, event_type AS value FROM events
         |  UNION ALL
         |  SELECT DISTINCT 'props' AS key, props AS value FROM events)
         |${orderAll("key", "value")}""".stripMargin,
    "influxql_show_tag_values_regex" ->
      s"""SELECT DISTINCT 'event_type' AS key, event_type AS value
         |FROM events
         |${orderAll("key", "value")}""".stripMargin,
    "influxql_show_tag_values_all" ->
      s"""SELECT DISTINCT 'event_type' AS key, event_type AS value
         |FROM events
         |${orderAll("key", "value")}""".stripMargin,
    "influxql_show_tag_values_where" ->
      s"""SELECT DISTINCT 'props' AS key, props AS value
         |FROM events WHERE event_type = 'click'
         |${orderAll("key", "value")}""".stripMargin,
    "influxql_show_measurements_regex" ->
      s"""SELECT 'events_clicks' AS name
         |${orderAll("name")}""".stripMargin,
    "influxql_show_databases" ->
      s"""SELECT name FROM (VALUES ('ciwsdb'), ('telegraf')) AS t(name)
         |${orderAll("name")}""".stripMargin,
    "influxql_show_retention_policies" ->
      s"""SELECT * FROM (VALUES
         |  ('archive', '31449600s', 2, true),
         |  ('autogen', '0s', 1, false),
         |  ('one_week', '604800s', 1, false)
         |) AS t(name, duration, "replicaN", "default")
         |${orderAll("name", "duration", "\"replicaN\"", "\"default\"")}""".stripMargin,
    "influxql_show_continuous_queries" ->
      s"""SELECT * FROM (VALUES
         |  ('ciwsdb', 'cq_hourly',
         |   'CREATE CONTINUOUS QUERY cq_hourly ON ciwsdb BEGIN SELECT mean(value) AS mv INTO hourly_means FROM events GROUP BY time(1h), event_type END'),
         |  ('ciwsdb', 'cq_daily',
         |   'CREATE CONTINUOUS QUERY cq_daily ON ciwsdb BEGIN SELECT count(value) AS n INTO daily_counts FROM events GROUP BY time(1d) END')
         |) AS t(db, name, query)
         |${orderAll("db", "name", "query")}""".stripMargin,
    "influxql_from_list" ->
      s"""WITH a AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    COUNT(value) AS n
         |  FROM events GROUP BY 1),
         |b AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    COUNT(value) AS n
         |  FROM events WHERE event_type = 'click' GROUP BY 1)
         |SELECT * FROM (
         |  SELECT 'events' AS measurement, time, n FROM a
         |  UNION ALL
         |  SELECT 'events_clicks' AS measurement, time, n FROM b)
         |${orderAll("measurement", "time", "n")}""".stripMargin,
    "influxql_arith" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  ${sqlDsum("value")} * 0.264172 AS gallons,
         |  ${sqlDavg("value")} / 60 AS per_sec
         |FROM events GROUP BY 1
         |${orderAll("time", "gallons", "per_sec")}""".stripMargin,
    "influxql_now_relative" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  COUNT(value) AS n
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >=
         |    TIMESTAMP '$Clock' - INTERVAL 7 DAY
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '$Clock'
         |GROUP BY 1
         |${orderAll("time", "n")}""".stripMargin,
    "influxql_regex_tag" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  event_type, COUNT(value) AS n
         |FROM events
         |WHERE regexp_matches(event_type, '^(click|view)$$')
         |GROUP BY 1, 2
         |${orderAll("time", "event_type", "n")}""".stripMargin,
    "influxql_show_series" ->
      s"""SELECT DISTINCT 'events,event_type=' || event_type ||
         |  ',props=' || props AS key
         |FROM events
         |${orderAll("key")}""".stripMargin,
    "influxql_select_star" ->
      s"""SELECT CAST(ts AS TIMESTAMP) AS time, event_id, event_type,
         |  props, user_id, value
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-02 06:00:00'
         |${orderAll("time", "event_id", "event_type", "props", "user_id", "value")}""".stripMargin,
    "influxql_tz" ->
      s"""WITH loc AS (
         |  SELECT event_type, value,
         |    timezone('America/Denver',
         |      CAST(CAST(ts AS TIMESTAMP) AS TIMESTAMPTZ)) AS lt
         |  FROM events)
         |SELECT CAST(timezone('America/Denver',
         |    ${sqlBucket("lt", 86400)}) AS TIMESTAMP) AS time,
         |  event_type, COUNT(value) AS n
         |FROM loc GROUP BY 1, 2
         |${orderAll("time", "event_type", "n")}""".stripMargin,
    "influxql_field_binop" ->
      s"""SELECT CAST(ts AS TIMESTAMP) AS time,
         |  value / CAST(user_id AS DOUBLE) AS ratio
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'
         |${orderAll("time", "ratio")}""".stripMargin,
    "influxql_agg_binop" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  event_type, MAX(value) - MIN(value) AS vrange
         |FROM events GROUP BY 1, 2
         |${orderAll("time", "event_type", "vrange")}""".stripMargin,
    "influxql_binop_precedence" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  event_type,
         |  MAX(value) - MIN(value) / 2 AS adj,
         |  (MAX(value) - MIN(value)) / 2 AS halfrange
         |FROM events GROUP BY 1, 2
         |${orderAll("time", "event_type", "adj", "halfrange")}""".stripMargin,
    "influxql_tz_offset" ->
      s"""WITH loc AS (
         |  SELECT event_type, value,
         |    timezone('America/Denver',
         |      CAST(CAST(ts AS TIMESTAMP) AS TIMESTAMPTZ)) AS lt
         |  FROM events)
         |SELECT CAST(timezone('America/Denver',
         |    ${sqlBucketOff("lt", 86400, 7200)}) AS TIMESTAMP) AS time,
         |  event_type, COUNT(value) AS n
         |FROM loc GROUP BY 1, 2
         |${orderAll("time", "event_type", "n")}""".stripMargin,
    "influxql_tz_fill" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-05 00:00:00'),
         |loc AS (
         |  SELECT timezone('America/Denver', CAST(t AS TIMESTAMPTZ)) AS lt,
         |    event_type, value
         |  FROM f),
         |agg AS (
         |  SELECT CAST(timezone('America/Denver',
         |      ${sqlBucket("lt", 86400)}) AS TIMESTAMP) AS time,
         |    event_type, ${sqlDavg("value")} AS mv
         |  FROM loc GROUP BY 1, 2),
         |spine AS (
         |  SELECT CAST(timezone('America/Denver', g) AS TIMESTAMP) AS time
         |  FROM (SELECT unnest(generate_series(
         |    TIMESTAMP '2023-12-31 00:00:00',
         |    TIMESTAMP '2024-01-04 23:59:59.999999', INTERVAL 1 DAY)) AS g)),
         |tags AS (SELECT DISTINCT event_type FROM f),
         |grid AS (SELECT s.time, u.event_type FROM spine s CROSS JOIN tags u)
         |SELECT * FROM (
         |  SELECT g.time, g.event_type,
         |    LAST_VALUE(a.mv IGNORE NULLS) OVER (
         |      PARTITION BY g.event_type ORDER BY g.time
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mv
         |  FROM grid g LEFT JOIN agg a
         |    ON a.time = g.time AND a.event_type = g.event_type)
         |${orderAll("time", "event_type", "mv")}""".stripMargin,
    "influxql_or_group" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  event_type, COUNT(value) AS n
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |  AND (event_type = 'click' OR event_type = 'error' OR value > 900)
         |GROUP BY 1, 2
         |${orderAll("time", "event_type", "n")}""".stripMargin,
    "influxql_subquery" ->
      s"""WITH sub AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    user_id, ${sqlDavg("value")} AS mv
         |  FROM events GROUP BY 1, 2)
         |SELECT ${sqlBucket("time", 86400)} AS time, MAX(mv) AS peak
         |FROM sub GROUP BY 1
         |${orderAll("time", "peak")}""".stripMargin,
    "influxql_subquery_nested" ->
      s"""WITH sub1 AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 21600)} AS time,
         |    user_id, ${sqlDavg("value")} AS mv
         |  FROM events GROUP BY 1, 2),
         |sub2 AS (
         |  SELECT ${sqlBucket("time", 86400)} AS time, user_id,
         |    MAX(mv) AS pk
         |  FROM sub1 GROUP BY 1, 2)
         |SELECT ${sqlBucket("time", 86400)} AS time, MAX(pk) AS mpk
         |FROM sub2 GROUP BY 1
         |${orderAll("time", "mpk")}""".stripMargin,
    "influxql_offset" ->
      s"""SELECT * FROM (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 3600)} AS time,
         |    COUNT(value) AS n
         |  FROM events GROUP BY 1
         |  ORDER BY time DESC LIMIT 24 OFFSET 24)
         |${orderAll("time", "n")}""".stripMargin,
    "influxql_slimit" ->
      s"""WITH agg AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    user_id, COUNT(value) AS n
         |  FROM events GROUP BY 1, 2),
         |sel AS (SELECT DISTINCT user_id FROM agg
         |        ORDER BY user_id LIMIT 5 OFFSET 2)
         |SELECT time, user_id, n FROM agg
         |WHERE user_id IN (SELECT user_id FROM sel)
         |${orderAll("time", "user_id", "n")}""".stripMargin,
    "influxql_elapsed" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS time, event_type, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'),
         |e AS (
         |  SELECT time, event_type,
         |    (epoch_us(time) - lag(epoch_us(time)) OVER (
         |      PARTITION BY event_type ORDER BY time, value)) // 60000000
         |      AS gap
         |  FROM f)
         |SELECT time, event_type, gap FROM e WHERE gap IS NOT NULL
         |${orderAll("time", "event_type", "gap")}""".stripMargin,
    "influxql_integral" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08 00:00:00'),
         |seg AS (
         |  SELECT ${sqlBucket("t", 86400)} AS time, event_type,
         |    floor((((value + lag(value) OVER w) / 2.0) *
         |      (CAST(epoch_us(t) - lag(epoch_us(t)) OVER w AS DOUBLE) / 1e6)
         |      / 3600.0) * 1e6 + 0.5) / 1e6 AS s
         |  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY t, value))
         |SELECT * FROM (
         |  SELECT time, event_type, ${sqlDsum("s")} AS vol
         |  FROM seg GROUP BY time, event_type)
         |WHERE vol IS NOT NULL
         |${orderAll("time", "event_type", "vol")}""".stripMargin,
    // -- transform/selector oracles: each re-derives the Spark translation
    //    verbatim (same IEEE op sequence) so the value hash is stable --
    "influxql_derivative" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-05 00:00:00'),
         |agg AS (
         |  SELECT ${sqlBucket("t", 21600)} AS time, ${sqlDavg("value")} AS x
         |  FROM f GROUP BY 1),
         |d AS (
         |  SELECT time,
         |    ((x - lag(x) OVER w) * 3600.0) /
         |      (CAST(epoch_us(time) - lag(epoch_us(time)) OVER w AS DOUBLE) / 1e6)
         |      AS rate
         |  FROM agg WINDOW w AS (ORDER BY time))
         |SELECT time, rate FROM d WHERE rate IS NOT NULL
         |${orderAll("time", "rate")}""".stripMargin,
    "influxql_derivative_fill" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, user_id, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'),
         |agg AS (
         |  SELECT ${sqlBucket("t", 21600)} AS time, user_id,
         |    ${sqlDavg("value")} AS x
         |  FROM f GROUP BY 1, 2),
         |spine AS (
         |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
         |    TIMESTAMP '2024-01-02 18:00:00', INTERVAL 6 HOUR)) AS time),
         |users AS (SELECT DISTINCT user_id FROM f),
         |grid AS (SELECT s.time, u.user_id FROM spine s CROSS JOIN users u),
         |filled AS (
         |  SELECT g.time, g.user_id,
         |    LAST_VALUE(a.x IGNORE NULLS) OVER (
         |      PARTITION BY g.user_id ORDER BY g.time
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x
         |  FROM grid g LEFT JOIN agg a
         |    ON a.time = g.time AND a.user_id = g.user_id),
         |d AS (
         |  SELECT time, user_id,
         |    ((x - lag(x) OVER w) * 3600.0) /
         |      (CAST(epoch_us(time) - lag(epoch_us(time)) OVER w AS DOUBLE) / 1e6)
         |      AS rate
         |  FROM filled WINDOW w AS (PARTITION BY user_id ORDER BY time))
         |SELECT time, user_id, rate FROM d WHERE rate IS NOT NULL
         |${orderAll("time", "user_id", "rate")}""".stripMargin,
    "influxql_derivative_raw" ->
      s"""WITH f AS (
         |  SELECT event_type, CAST(ts AS TIMESTAMP) AS time, value
         |  FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'),
         |d AS (
         |  SELECT time, event_type,
         |    ((value - lag(value) OVER w) * 3600.0) /
         |      (CAST(epoch_us(time) - lag(epoch_us(time)) OVER w AS DOUBLE) / 1e6)
         |      AS rate
         |  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY time, value))
         |SELECT time, event_type, rate FROM d WHERE rate IS NOT NULL
         |${orderAll("time", "event_type", "rate")}""".stripMargin,
    "influxql_moving_average_raw" ->
      s"""WITH f AS (
         |  SELECT event_type, CAST(ts AS TIMESTAMP) AS time, value
         |  FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'),
         |m AS (
         |  SELECT time, event_type,
         |    CASE WHEN COUNT(value) OVER w = 4 THEN
         |      CAST(SUM(CAST(round(value, 6) AS DECIMAL(38,6))) OVER w AS DOUBLE) / 4
         |    END AS ma
         |  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY time, value
         |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
         |SELECT time, event_type, ma FROM m WHERE ma IS NOT NULL
         |${orderAll("time", "event_type", "ma")}""".stripMargin,
    "influxql_difference" ->
      s"""WITH agg AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    event_type, MAX(value) AS x
         |  FROM events GROUP BY 1, 2),
         |d AS (
         |  SELECT time, event_type,
         |    x - lag(x) OVER (PARTITION BY event_type ORDER BY time) AS diff
         |  FROM agg)
         |SELECT time, event_type, diff FROM d WHERE diff IS NOT NULL
         |${orderAll("time", "event_type", "diff")}""".stripMargin,
    "influxql_moving_average" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00'),
         |agg AS (
         |  SELECT ${sqlBucket("t", 21600)} AS time, ${sqlDavg("value")} AS x
         |  FROM f GROUP BY 1),
         |m AS (
         |  SELECT time,
         |    CASE WHEN COUNT(x) OVER w = 4 THEN
         |      CAST(SUM(CAST(round(x, 6) AS DECIMAL(38,6))) OVER w AS DOUBLE) / 4
         |    END AS ma
         |  FROM agg
         |  WINDOW w AS (ORDER BY time ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
         |SELECT time, ma FROM m WHERE ma IS NOT NULL
         |${orderAll("time", "ma")}""".stripMargin,
    // Holt-Winters twins: the SAME deterministic fold as a RECURSIVE CTE —
    // one recursion row per processed bucket, state (l, b[, s]) carried as
    // columns, fitted values emitted per step. (DuckDB 1.0.0's list_reduce
    // silently mangles LIST fields inside a DOUBLE-typed accumulator
    // struct, so the array-fold form is unusable as an oracle.) DuckDB's
    // indexed lambda is 1-based (Spark's 0-based), hence `((t-1) % m) + 1`.
    "influxql_holt_winters" ->
      s"""WITH RECURSIVE f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00'),
         |agg AS (
         |  SELECT ${sqlBucket("t", 21600)} AS time, ${sqlDavg("value")} AS y
         |  FROM f GROUP BY 1),
         |ser AS (
         |  SELECT list(y ORDER BY time) AS ys, list(time ORDER BY time) AS ts
         |  FROM agg),
         |init AS (
         |  SELECT ys, ts,
         |    list_aggregate(ys[1:4], 'sum') / CAST(4 AS DOUBLE) AS l0,
         |    list_aggregate(ys[5:8], 'sum') / CAST(4 AS DOUBLE) AS l1
         |  FROM ser WHERE len(ys) >= 8),
         |hw AS (
         |  SELECT 5 AS t, ys, ts, l0 AS l, (l1 - l0) / CAST(4 AS DOUBLE) AS b,
         |    list_transform(ys[1:4], sx -> sx - l0) AS s
         |  FROM init
         |  UNION ALL
         |  SELECT t + 1, ys, ts,
         |    0.5 * (ys[t] - s[((t-1) % 4) + 1]) + 0.5 * (l + b),
         |    0.1 * ((0.5 * (ys[t] - s[((t-1) % 4) + 1]) + 0.5 * (l + b)) - l)
         |      + 0.9 * b,
         |    list_transform(s, (sx, j) -> CASE WHEN j = ((t-1) % 4) + 1
         |      THEN 0.1 * (ys[t] - (0.5 * (ys[t] - s[((t-1) % 4) + 1])
         |        + 0.5 * (l + b))) + 0.9 * sx
         |      ELSE sx END)
         |  FROM hw WHERE t <= len(ys))
         |SELECT ts[len(ts)] + to_microseconds(k * 21600000000) AS time,
         |  round(l + CAST(k AS DOUBLE) * b
         |    + s[((len(ys) - 1 + k) % 4) + 1], 6) AS hw
         |FROM hw, (SELECT unnest(range(1, 9)) AS k)
         |WHERE t = len(ys) + 1
         |${orderAll("time", "hw")}""".stripMargin,
    "influxql_holt_winters_fit" ->
      s"""WITH RECURSIVE f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00'),
         |agg AS (
         |  SELECT event_type, ${sqlBucket("t", 43200)} AS time,
         |    ${sqlDavg("value")} AS y
         |  FROM f GROUP BY 1, 2),
         |ser AS (
         |  SELECT event_type, list(y ORDER BY time) AS ys,
         |    list(time ORDER BY time) AS ts
         |  FROM agg GROUP BY event_type),
         |hw AS (
         |  SELECT event_type, 2 AS t, ys, ts,
         |    CAST(ys[1] AS DOUBLE) AS l, CAST(ys[2] - ys[1] AS DOUBLE) AS b
         |  FROM ser WHERE len(ys) >= 2
         |  UNION ALL
         |  SELECT event_type, t + 1, ys, ts,
         |    0.5 * ys[t] + 0.5 * (l + b),
         |    0.1 * ((0.5 * ys[t] + 0.5 * (l + b)) - l) + 0.9 * b
         |  FROM hw WHERE t <= len(ys)),
         |fitted AS (
         |  SELECT event_type, ts[1] AS time, CAST(ys[1] AS DOUBLE) AS v
         |  FROM ser WHERE len(ys) >= 2
         |  UNION ALL
         |  SELECT event_type, ts[t] AS time, l + b AS v
         |  FROM hw WHERE t <= len(ys)),
         |fcast AS (
         |  SELECT event_type,
         |    ts[len(ts)] + to_microseconds(k * 43200000000) AS time,
         |    l + CAST(k AS DOUBLE) * b AS v
         |  FROM hw, (SELECT unnest(range(1, 5)) AS k)
         |  WHERE t = len(ys) + 1)
         |SELECT event_type, time, round(v, 6) AS hwf
         |FROM (SELECT * FROM fitted UNION ALL SELECT * FROM fcast)
         |${orderAll("time", "event_type", "hwf")}""".stripMargin,
    "influxql_ema" ->
      s"""WITH RECURSIVE f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00'),
         |agg AS (
         |  SELECT ${sqlBucket("t", 21600)} AS time, ${sqlDavg("value")} AS y
         |  FROM f GROUP BY 1),
         |ser AS (
         |  SELECT list(y ORDER BY time) AS ys, list(time ORDER BY time) AS ts
         |  FROM agg),
         |e AS (
         |  SELECT 1 AS t, ys, ts, CAST(ys[1] AS DOUBLE) AS ema
         |  FROM ser WHERE len(ys) >= 2
         |  UNION ALL
         |  SELECT t + 1, ys, ts, 0.4 * ys[t + 1] + 0.6 * ema
         |  FROM e WHERE t < len(ys))
         |SELECT ts[t] AS time, round(ema, 6) AS ema FROM e
         |${orderAll("time", "ema")}""".stripMargin,
    "influxql_rsi" ->
      s"""WITH RECURSIVE f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00'),
         |agg AS (
         |  SELECT event_type, ${sqlBucket("t", 21600)} AS time,
         |    ${sqlDavg("value")} AS y
         |  FROM f GROUP BY 1, 2),
         |ser AS (
         |  SELECT event_type, list(y ORDER BY time) AS ys,
         |    list(time ORDER BY time) AS ts
         |  FROM agg GROUP BY event_type),
         |r AS (
         |  SELECT event_type, 7 AS t, ys, ts, CAST(ys[7] AS DOUBLE) AS prev,
         |    list_aggregate(list_transform(range(2, 8),
         |      i -> greatest(ys[i] - ys[i-1], 0e0)), 'sum') / 6 AS g,
         |    list_aggregate(list_transform(range(2, 8),
         |      i -> greatest(ys[i-1] - ys[i], 0e0)), 'sum') / 6 AS l
         |  FROM ser WHERE len(ys) >= 7
         |  UNION ALL
         |  SELECT event_type, t + 1, ys, ts, CAST(ys[t + 1] AS DOUBLE),
         |    (g * 5 + greatest(ys[t + 1] - prev, 0e0)) / 6,
         |    (l * 5 + greatest(prev - ys[t + 1], 0e0)) / 6
         |  FROM r WHERE t < len(ys))
         |SELECT event_type, ts[t] AS time,
         |  round(CASE WHEN l = 0e0 THEN CAST(100 AS DOUBLE)
         |    ELSE 100 - 100 / (1 + g / l) END, 6) AS rsi
         |FROM r
         |${orderAll("time", "event_type", "rsi")}""".stripMargin,
    "influxql_cmo" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00'),
         |agg AS (
         |  SELECT ${sqlBucket("t", 21600)} AS time, ${sqlDavg("value")} AS y
         |  FROM f GROUP BY 1),
         |ser AS (
         |  SELECT list(y ORDER BY time) AS ys, list(time ORDER BY time) AS ts
         |  FROM agg),
         |idx AS (
         |  SELECT ys, ts, unnest(range(5, len(ys) + 1)) AS i FROM ser
         |  WHERE len(ys) >= 5),
         |sums AS (
         |  SELECT ts, i,
         |    list_aggregate(list_transform(range(i - 3, i + 1),
         |      j -> greatest(ys[j] - ys[j-1], 0e0)), 'sum') AS su,
         |    list_aggregate(list_transform(range(i - 3, i + 1),
         |      j -> greatest(ys[j-1] - ys[j], 0e0)), 'sum') AS sd
         |  FROM idx)
         |SELECT ts[i] AS time,
         |  round(CASE WHEN su + sd = 0e0 THEN 0e0
         |    ELSE 100 * (su - sd) / (su + sd) END, 6) AS cmo
         |FROM sums
         |${orderAll("time", "cmo")}""".stripMargin,
    "influxql_delete" ->
      // NULL-safe complements mirror the engine (MeasurementCatalog
      // .deleteFrom): a row where a DELETE predicate evaluates NULL was
      // NOT matched and survives — plain NOT(...) would drop it
      s"""WITH kept AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events
         |  WHERE COALESCE(NOT (event_type = 'click'
         |      AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'),
         |      TRUE)
         |    AND COALESCE(NOT (event_type = 'error'), TRUE))
         |SELECT ${sqlBucket("t", 86400)} AS time, event_type,
         |  COUNT(value) AS n
         |FROM kept GROUP BY 1, 2
         |${orderAll("time", "event_type", "n")}""".stripMargin,
    // EMA-composition oracles: one recursion stage per EMA application
    // (e1 -> list z1 -> e2 -> ...), value assembled from the stage arrays
    // by index — the chained-recursive-CTE shape of the Spark-side
    // emaFold composition
    "influxql_dema" ->
      s"""WITH RECURSIVE ${taSer(21600, tag = false)},
         |e1 AS (
         |  SELECT 1 AS t, ys, ts, CAST(ys[1] AS DOUBLE) AS ema
         |  FROM ser WHERE len(ys) >= 2
         |  UNION ALL
         |  SELECT t + 1, ys, ts, 0.4 * ys[t + 1] + 0.6 * ema
         |  FROM e1 WHERE t < len(ys)),
         |s1 AS (SELECT any_value(ts) AS ts, list(ema ORDER BY t) AS z1 FROM e1),
         |e2 AS (
         |  SELECT 1 AS t, ts, z1, CAST(z1[1] AS DOUBLE) AS ema FROM s1
         |  UNION ALL
         |  SELECT t + 1, ts, z1, 0.4 * z1[t + 1] + 0.6 * ema
         |  FROM e2 WHERE t < len(z1))
         |SELECT ts[t] AS time, round(2 * z1[t] - ema, 6) AS dema FROM e2
         |${orderAll("time", "dema")}""".stripMargin,
    "influxql_tema" ->
      s"""WITH RECURSIVE ${taSer(43200, tag = true)},
         |e1 AS (
         |  SELECT event_type, 1 AS t, ys, ts, CAST(ys[1] AS DOUBLE) AS ema
         |  FROM ser WHERE len(ys) >= 2
         |  UNION ALL
         |  SELECT event_type, t + 1, ys, ts, 0.4 * ys[t + 1] + 0.6 * ema
         |  FROM e1 WHERE t < len(ys)),
         |s1 AS (SELECT event_type, any_value(ts) AS ts,
         |  list(ema ORDER BY t) AS z1 FROM e1 GROUP BY event_type),
         |e2 AS (
         |  SELECT event_type, 1 AS t, ts, z1, CAST(z1[1] AS DOUBLE) AS ema
         |  FROM s1
         |  UNION ALL
         |  SELECT event_type, t + 1, ts, z1, 0.4 * z1[t + 1] + 0.6 * ema
         |  FROM e2 WHERE t < len(z1)),
         |s2 AS (SELECT event_type, any_value(ts) AS ts, any_value(z1) AS z1,
         |  list(ema ORDER BY t) AS z2 FROM e2 GROUP BY event_type),
         |e3 AS (
         |  SELECT event_type, 1 AS t, ts, z1, z2, CAST(z2[1] AS DOUBLE) AS ema
         |  FROM s2
         |  UNION ALL
         |  SELECT event_type, t + 1, ts, z1, z2, 0.4 * z2[t + 1] + 0.6 * ema
         |  FROM e3 WHERE t < len(z2))
         |SELECT event_type, ts[t] AS time,
         |  round(3 * z1[t] - 3 * z2[t] + ema, 6) AS tema FROM e3
         |${orderAll("time", "event_type", "tema")}""".stripMargin,
    "influxql_trix" ->
      s"""WITH RECURSIVE ${taSer(21600, tag = false)},
         |e1 AS (
         |  SELECT 1 AS t, ys, ts, CAST(ys[1] AS DOUBLE) AS ema
         |  FROM ser WHERE len(ys) >= 2
         |  UNION ALL
         |  SELECT t + 1, ys, ts, 0.4 * ys[t + 1] + 0.6 * ema
         |  FROM e1 WHERE t < len(ys)),
         |s1 AS (SELECT any_value(ts) AS ts, list(ema ORDER BY t) AS z1 FROM e1),
         |e2 AS (
         |  SELECT 1 AS t, ts, z1, CAST(z1[1] AS DOUBLE) AS ema FROM s1
         |  UNION ALL
         |  SELECT t + 1, ts, z1, 0.4 * z1[t + 1] + 0.6 * ema
         |  FROM e2 WHERE t < len(z1)),
         |s2 AS (SELECT any_value(ts) AS ts, list(ema ORDER BY t) AS z2 FROM e2),
         |e3 AS (
         |  SELECT 1 AS t, ts, z2, CAST(z2[1] AS DOUBLE) AS ema,
         |    CAST(NULL AS DOUBLE) AS prev
         |  FROM s2
         |  UNION ALL
         |  SELECT t + 1, ts, z2, 0.4 * z2[t + 1] + 0.6 * ema, ema
         |  FROM e3 WHERE t < len(z2))
         |SELECT ts[t] AS time, round(100 * (ema - prev) / prev, 6) AS trix
         |FROM e3 WHERE prev IS NOT NULL
         |${orderAll("time", "trix")}""".stripMargin,
    "influxql_ker" ->
      s"""WITH ${taSer(21600, tag = false)},
         |idx AS (
         |  SELECT ys, ts, unnest(range(7, len(ys) + 1)) AS i FROM ser
         |  WHERE len(ys) >= 7),
         |sums AS (
         |  SELECT ts, i, abs(ys[i] - ys[i - 6]) AS nu,
         |    list_aggregate(list_transform(range(i - 5, i + 1),
         |      j -> abs(ys[j] - ys[j - 1])), 'sum') AS de
         |  FROM idx)
         |SELECT ts[i] AS time,
         |  round(CASE WHEN de = 0e0 THEN 0e0 ELSE nu / de END, 6) AS ker
         |FROM sums
         |${orderAll("time", "ker")}""".stripMargin,
    "influxql_kama" ->
      s"""WITH RECURSIVE ${taSer(21600, tag = false)},
         |k AS (
         |  SELECT 7 AS t, ys, ts, CAST(ys[7] AS DOUBLE) AS kama
         |  FROM ser WHERE len(ys) >= 8
         |  UNION ALL
         |  SELECT t + 1, ys, ts,
         |    kama + ((er * (0.6666666666666666 - 0.06451612903225806)
         |        + 0.06451612903225806)
         |      * (er * (0.6666666666666666 - 0.06451612903225806)
         |        + 0.06451612903225806))
         |      * (ys[t + 1] - kama)
         |  FROM (
         |    SELECT t, ys, ts, kama,
         |      CASE WHEN de = 0e0 THEN 0e0
         |        ELSE abs(ys[t + 1] - ys[t - 5]) / de END AS er
         |    FROM (
         |      SELECT t, ys, ts, kama,
         |        list_aggregate(list_transform(range(t - 4, t + 2),
         |          j -> abs(ys[j] - ys[j - 1])), 'sum') AS de
         |      FROM k WHERE t < len(ys))))
         |SELECT ts[t] AS time, round(kama, 6) AS kama FROM k
         |${orderAll("time", "kama")}""".stripMargin,
    "influxql_into_backref" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events
         |  WHERE event_type IN ('click', 'view'))
         |SELECT 'ciws_' || event_type AS measurement,
         |  ${sqlBucket("t", 86400)} AS time, ${sqlDavg("value")} AS mv
         |FROM f GROUP BY event_type, 2
         |${orderAll("measurement", "time", "mv")}""".stripMargin,
    "influxql_cumulative_sum" ->
      s"""WITH agg AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    ${sqlDsum("value")} AS x
         |  FROM events GROUP BY 1),
         |c AS (
         |  SELECT time, CAST(SUM(CAST(x AS DECIMAL(38,6))) OVER (
         |    ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS DOUBLE) AS cs
         |  FROM agg)
         |SELECT time, cs FROM c WHERE cs IS NOT NULL
         |${orderAll("time", "cs")}""".stripMargin,
    "influxql_first_last" ->
      s"""WITH r AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    event_type, value,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)}, event_type
         |      ORDER BY CAST(ts AS TIMESTAMP) ASC, value ASC) AS rna,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)}, event_type
         |      ORDER BY CAST(ts AS TIMESTAMP) DESC, value DESC) AS rnd
         |  FROM events)
         |SELECT time, event_type,
         |  MAX(CASE WHEN rna = 1 THEN value END) AS fv,
         |  MAX(CASE WHEN rnd = 1 THEN value END) AS lv
         |FROM r GROUP BY time, event_type
         |${orderAll("time", "event_type", "fv", "lv")}""".stripMargin,
    "influxql_spread_stddev" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  MAX(value) - MIN(value) AS sp,
         |  CASE WHEN COUNT(value) > 1 THEN round(sqrt(greatest(
         |    (CAST(SUM(CAST((value * value) AS DECIMAL(38,6))) AS DOUBLE)
         |      - CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
         |        * CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
         |        / CAST(COUNT(value) AS DOUBLE))
         |    / (CAST(COUNT(value) AS DOUBLE) - 1.0), 0.0)), 6) END AS sd
         |FROM events GROUP BY 1
         |${orderAll("time", "sp", "sd")}""".stripMargin,
    "influxql_percentile" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  (list_sort(list(value)))[CAST(greatest(1,
         |    ceil(0.9 * COUNT(value))) AS INT)] AS p90,
         |  (list_sort(list(value)))[CAST(greatest(1,
         |    ceil(0.5 * COUNT(value))) AS INT)] AS med
         |FROM events GROUP BY 1
         |${orderAll("time", "p90", "med")}""".stripMargin,
    "influxql_agg_star" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  ${sqlDavg("event_id")} AS mean_event_id,
         |  ${sqlDavg("user_id")} AS mean_user_id,
         |  ${sqlDavg("value")} AS mean_value
         |FROM events GROUP BY 1
         |${orderAll("time", "mean_event_id", "mean_user_id", "mean_value")}""".stripMargin,
    "influxql_top_tag_n" ->
      s"""WITH r1 AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS time, event_type, value,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)},
         |        event_type
         |      ORDER BY value DESC, CAST(ts AS TIMESTAMP) ASC) AS rt
         |  FROM events),
         |m AS (SELECT * FROM r1 WHERE rt = 1),
         |r2 AS (
         |  SELECT time, event_type, value,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY ${sqlBucket("time", 86400)}
         |      ORDER BY value DESC, time ASC) AS rn
         |  FROM m)
         |SELECT time, event_type, value AS v FROM r2 WHERE rn <= 2
         |${orderAll("time", "event_type", "v")}""".stripMargin,
    // sample(): the md5-seeded deterministic selector — rank each point by
    // md5('<seed>:' || epoch-µs) within its (1d bucket, tag) group, keep
    // the n smallest; the literal 42 is InfluxQL.SampleSeed
    "influxql_sample" ->
      s"""WITH r AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS time, event_type, value,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)},
         |        event_type
         |      ORDER BY CAST(('0x' || substring(md5('42:' ||
         |          CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR)), 1, 15))
         |          ::UBIGINT AS BIGINT) ASC,
         |        CAST(ts AS TIMESTAMP) ASC, value ASC) AS rn
         |  FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00')
         |SELECT time, event_type, value AS s FROM r WHERE rn <= 3
         |${orderAll("time", "event_type", "s")}""".stripMargin,
    "influxql_top_bucket" ->
      s"""WITH r AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS time, event_type, value,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)},
         |        event_type
         |      ORDER BY value DESC, CAST(ts AS TIMESTAMP) ASC) AS rn
         |  FROM events)
         |SELECT time, event_type, value AS v FROM r WHERE rn <= 3
         |${orderAll("time", "event_type", "v")}""".stripMargin,
    "influxql_top" ->
      s"""SELECT * FROM (
         |  SELECT CAST(ts AS TIMESTAMP) AS time, value AS v FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'
         |  ORDER BY v DESC, time ASC LIMIT 5)
         |${orderAll("time", "v")}""".stripMargin,
    "influxql_bottom_tag" ->
      s"""SELECT time, event_type, v FROM (
         |  SELECT CAST(ts AS TIMESTAMP) AS time, event_type, value AS v,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY value ASC, CAST(ts AS TIMESTAMP) ASC) AS rn
         |  FROM events) WHERE rn <= 2
         |${orderAll("time", "event_type", "v")}""".stripMargin,
    "influxql_raw_series" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS time, event_type, value
         |  FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-05 00:00:00'),
         |r AS (
         |  SELECT time, event_type, value,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY time DESC, event_type ASC, value ASC) AS rn
         |  FROM f)
         |SELECT time, event_type, value FROM r WHERE rn <= 3
         |${orderAll("time", "event_type", "value")}""".stripMargin,
    "influxql_distinct" ->
      s"""SELECT DISTINCT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  user_id AS u
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-04 00:00:00'
         |${orderAll("time", "u")}""".stripMargin,
    "influxql_mode" ->
      s"""WITH c AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    user_id, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2),
         |r AS (
         |  SELECT time, user_id, ROW_NUMBER() OVER (PARTITION BY time
         |    ORDER BY n DESC, user_id ASC) AS rn
         |  FROM c)
         |SELECT time, user_id AS m FROM r WHERE rn = 1
         |${orderAll("time", "m")}""".stripMargin,
    "influxql_histogram" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08 00:00:00'),
         |b AS (
         |  SELECT ${sqlBucket("t", 86400)} AS time, event_type,
         |    CAST(LEAST(GREATEST(FLOOR((value - 0.0) / ((200.0 - 0.0) / 20)),
         |      0), 19) AS INTEGER) AS bin
         |  FROM f)
         |SELECT time, event_type,
         |  0.0 + bin * ((200.0 - 0.0) / 20) AS bin_lo,
         |  0.0 + (bin + 1) * ((200.0 - 0.0) / 20) AS bin_hi,
         |  COUNT(*) AS n
         |FROM b GROUP BY time, event_type, bin
         |${orderAll("time", "event_type", "bin_lo", "bin_hi", "n")}""".stripMargin,
    "influxql_fill_value" ->
      s"""WITH f AS (
         |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'),
         |agg AS (
         |  SELECT ${sqlBucket("t", 43200)} AS time, event_type,
         |    COUNT(value) AS n
         |  FROM f GROUP BY 1, 2),
         |spine AS (
         |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
         |    TIMESTAMP '2024-01-02 12:00:00', INTERVAL 12 HOUR)) AS time),
         |grid AS (SELECT s.time, e.event_type FROM spine s
         |  CROSS JOIN (SELECT DISTINCT event_type FROM f) e)
         |SELECT * FROM (
         |  SELECT g.time, g.event_type, COALESCE(a.n, 100) AS n FROM grid g
         |  LEFT JOIN agg a ON a.time = g.time AND a.event_type = g.event_type)
         |${orderAll("time", "event_type", "n")}""".stripMargin,
    "influxql_time_offset" ->
      s"""SELECT ${sqlBucketOff("CAST(ts AS TIMESTAMP)", 86400, 21600)} AS time,
         |  COUNT(value) AS n
         |FROM events GROUP BY 1
         |${orderAll("time", "n")}""".stripMargin,
    "influxql_from_regex" ->
      s"""WITH a AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    COUNT(value) AS n
         |  FROM events GROUP BY 1),
         |b AS (
         |  SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |    COUNT(value) AS n
         |  FROM events WHERE event_type = 'click' GROUP BY 1)
         |SELECT * FROM (
         |  SELECT 'events' AS measurement, time, n FROM a
         |  UNION ALL
         |  SELECT 'events_clicks' AS measurement, time, n FROM b)
         |${orderAll("measurement", "time", "n")}""".stripMargin,
    "influxql_epoch_bound" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 21600)} AS time,
         |  COUNT(value) AS n
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-04 00:00:00'
         |GROUP BY 1
         |${orderAll("time", "n")}""".stripMargin,
    "influxql_ms_bucket" ->
      s"""SELECT ${sqlBucketUs("CAST(ts AS TIMESTAMP)", 500000)} AS time,
         |  COUNT(value) AS n
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-02 01:00:00'
         |GROUP BY 1
         |${orderAll("time", "n")}""".stripMargin,
    "influxql_epoch_ms_bound" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 21600)} AS time,
         |  COUNT(value) AS n
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-04 00:00:00'
         |GROUP BY 1
         |${orderAll("time", "n")}""".stripMargin,
    "influxql_math" ->
      s"""SELECT CAST(ts AS TIMESTAMP) AS time,
         |  round(sqrt(value)) AS rs, abs(value - 500) AS av
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'
         |${orderAll("time", "rs", "av")}""".stripMargin,
    "influxql_math_agg" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  floor(${sqlDavg("value")}) AS fm,
         |  ceil(MAX(value) / 10) AS cm
         |FROM events GROUP BY 1
         |${orderAll("time", "fm", "cm")}""".stripMargin,
    "influxql_into" ->
      s"""SELECT ${sqlBucket("CAST(ts AS TIMESTAMP)", 86400)} AS time,
         |  event_type, ${sqlDavg("value")} AS mv
         |FROM events GROUP BY 1, 2
         |${orderAll("time", "event_type", "mv")}""".stripMargin)
}
