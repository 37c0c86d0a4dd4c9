package graft.ops

import graft.OpCaches.scratch
import graft.Tables._
import graft.store.MeasurementStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store-layer operators (SURVEY.md §2.1 sink_influx_write / §4 custom work
  * 1-2): measurement write → idempotent upsert → pruned read, end-to-end
  * through real partitioned parquet on disk. The oracle reconstructs the
  * expected post-upsert state straight from the fixture, so the whole
  * write/merge/read path is differentially checked.
  */
object Store {
  import Relational.{totalOrder, orderAll}

  private val UpsertDay = "2024-01-03"

  /** Append events as measurement points, upsert a doubled-value revision
    * of one day (last-write-wins on (tags, time)), then read back the
    * per-day aggregate. Only the revised day's partition is rewritten. */
  def storeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "measurements")
    val store = new MeasurementStore(spark, root)
    val points = load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts").as("time"),
        col("value"), col("event_id").as("version"))
    store.append("RawData", points)
    val updates = points
      .filter(date_format(col("time"), "yyyy-MM-dd") === UpsertDay)
      .withColumn("value", col("value") * 2)
      .withColumn("version", col("version") + 1000000)
    store.upsert("RawData", updates,
      keys = Seq("event_type", "user_id", "time"), versionCol = "version")
    totalOrder(store.read("RawData")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        max(col("version")).as("max_version")))
  }

  /** sink_influx_write (loader.py:164-183; transfer_manager.py:126-157):
    * the measurement-routed batched write path. Points split by QC flag
    * into RawData/QCData (the loader's measurement_name_map, loader.py:16-19),
    * written through the store's day-partitioned layout with bounded file
    * sizes (`maxRecordsPerFile` = the 2000-point batch_size analog), then
    * read back per measurement/day. */
  def sinkInfluxWrite(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "sink_influx")
    val store = new MeasurementStore(spark, root)
    val points = load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts").as("time"),
        col("value"))
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2000")
    try {
      store.append("RawData", points.filter(col("user_id") % 2 =!= 0))
      store.append("QCData", points.filter(col("user_id") % 2 === 0))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
    }
    val back = store.read("RawData").withColumn("measurement", lit("RawData"))
      .unionByName(store.read("QCData").withColumn("measurement", lit("QCData")))
    totalOrder(back.groupBy(col("measurement"), col("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
  }

  private val DeleteBound = "2024-01-03 12:00:00"

  /** InfluxQL DELETE roundtrip (memory_manager.py:8-17 as one statement):
    * write events as points, `DELETE WHERE time < mid-day bound` — whole
    * days before the bound drop as metadata ops, the boundary day is
    * rewritten through the crash-safe swap — then read back per-day
    * aggregates; the oracle reconstructs the survivors from the fixture. */
  def storeDeleteRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "store_delete")
    val store = new MeasurementStore(spark, root)
    val points = load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts").as("time"),
        col("value"))
    store.append("RawData", points)
    val (dropped, rewritten) =
      store.deleteWhere(s"DELETE FROM RawData WHERE time < '$DeleteBound'")
    require(dropped.nonEmpty && rewritten.nonEmpty,
      s"delete exercised nothing: dropped=$dropped rewritten=$rewritten")
    totalOrder(store.read("RawData")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        min(col("time")).as("min_time")))
  }

  /** InfluxQL DROP SERIES roundtrip — the decommissioned-site workflow:
    * write events as points, `DROP SERIES WHERE event_type = 'error'`
    * (every point of that series across all time, only containing days
    * rewritten), read back per-day aggregates of the survivors. */
  def storeDropSeries(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "store_drop_series")
    val store = new MeasurementStore(spark, root)
    val points = load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts").as("time"),
        col("value"))
    store.append("RawData", points)
    val rewritten =
      store.dropSeries("DROP SERIES FROM RawData WHERE event_type = 'error'")
    require(rewritten.nonEmpty, "drop series exercised nothing")
    totalOrder(store.read("RawData")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        count_distinct(col("event_type")).as("kinds")))
  }

  private val SeriesWindowBound = "2024-01-04 06:00:00"

  /** Tag-scoped DELETE roundtrip — the site decommission that keeps recent
    * data for audit: write events as points, `DELETE WHERE event_type =
    * 'error' AND time < bound` (one series, bounded window; every touched
    * day still holds other series, so all are rewritten to survivors in
    * one job), read back per-day aggregates. */
  def storeDeleteSeriesWindow(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "store_delete_sw")
    val store = new MeasurementStore(spark, root)
    val points = load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts").as("time"),
        col("value"))
    store.append("RawData", points)
    val (dropped, rewritten) = store.deleteWhere(
      s"DELETE FROM RawData WHERE event_type = 'error' AND time < '$SeriesWindowBound'")
    require(dropped.isEmpty && rewritten.nonEmpty,
      s"series-window delete exercised nothing: $rewritten")
    totalOrder(store.read("RawData")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        count(when(col("event_type") === "error", 1)).as("n_error")))
  }

  /** Compaction roundtrip under the correctness gate: write events as two
    * appends (every day lands ≥ 2 files — the reference's accumulating
    * per-site daily batches), compact to one file per day through the
    * crash-safe swap, then read back per-day aggregates — the oracle proves
    * the rewrite is content-exact while the file counts prove it actually
    * compacted. */
  def storeCompact(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "store_compact")
    val store = new MeasurementStore(spark, root)
    val ev = load(spark, dir, "events")
    def sel(df: DataFrame): DataFrame =
      df.select(col("event_type"), col("user_id"), col("ts").as("time"),
        col("value"))
    store.append("RawData", sel(ev.filter(col("event_id") % 2 === 0)))
    store.append("RawData", sel(ev.filter(col("event_id") % 2 =!= 0)))
    val report = store.compact("RawData", filesPerDay = 1)
    require(report.nonEmpty && report.forall(_._3 == 1) &&
      report.exists(_._2 > 1),
      s"compaction exercised nothing: $report")
    totalOrder(store.read("RawData")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        min(col("time")).as("min_time"), max(col("time")).as("max_time")))
  }

  /** Time travel through the versioned store (the Delta capability the
    * §1.5 adjudication previously closed as unprovided): two appends and a
    * non-destructive upsert build versions 0/1/2, then EVERY version is
    * read back AS OF and aggregated — the oracle reconstructs all three
    * snapshots independently from the fixture, so the log replay, the
    * immutability of published files, and the merge rewrite are all under
    * the differential gate at once. */
  def storeTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "store_tt")
    val vs = new graft.store.VersionedStore(spark, root)
    val points = load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts").as("time"),
        col("value"), col("event_id").as("version"))
    vs.append("RawData", points.filter(col("version") % 2 === 0))
    vs.append("RawData", points.filter(col("version") % 2 =!= 0))
    val revised = points
      .filter(date_format(col("time"), "yyyy-MM-dd") === UpsertDay)
      .withColumn("value", col("value") * 2)
      .withColumn("version", col("version") + 1000000)
    vs.upsert("RawData", revised,
      keys = Seq("event_type", "user_id", "time"), versionCol = "version")
    val h = vs.history("RawData")
    require(h.map(_._2) == Seq("append", "append", "upsert") &&
      h.last._4 > 0,
      s"versioned store exercised nothing: $h")
    val perVersion = (0L to 2L).map { v =>
      vs.readAsOf("RawData", v)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          max(col("version")).as("max_version"))
        .withColumn("snapshot", lit(v))
    }
    totalOrder(perVersion.reduce(_ unionByName _)
      .select(col("snapshot"), col("day"), col("n"), col("sum_value"),
        col("max_version")))
  }

  private val Day4 = "2024-01-04"

  /** Two RACING writers against the versioned store — disjoint-day upserts
    * committed concurrently through the optimistic-concurrency protocol.
    * Whichever writer loses the publish race rebases against the winner's
    * snapshot, so BOTH revisions land whatever the interleaving and the
    * final table is order-independent — which is exactly what lets a
    * nondeterministically-scheduled concurrent run sit under a
    * deterministic differential oracle. The serialized history length
    * rides along as a constant column: exactly three commits, never two
    * (lost update) or four (double-publish). */
  def storeConcurrentWriters(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "store_occ")
    val vs = new graft.store.VersionedStore(spark, root)
    val points = load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts").as("time"),
        col("value"), col("event_id").as("version"))
    vs.append("RawData", points)
    def revision(day: String, mult: Int, bump: Long): DataFrame = points
      .filter(date_format(col("time"), "yyyy-MM-dd") === day)
      .withColumn("value", col("value") * mult)
      .withColumn("version", col("version") + bump)
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val keys = Seq("event_type", "user_id", "time")
    try {
      val a = Future(vs.upsert("RawData", revision(UpsertDay, 2, 1000000L),
        keys, "version"))
      val b = Future(vs.upsert("RawData", revision(Day4, 3, 2000000L),
        keys, "version"))
      Await.result(a.zip(b), 10.minutes)
      ()
    } finally { pool.shutdown(); () }
    val h = vs.history("RawData")
    require(vs.latestVersion("RawData") == 2L && h.size == 3,
      s"concurrent commit history wrong: $h")
    totalOrder(vs.read("RawData")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        max(col("version")).as("max_version"))
      .withColumn("n_commits", lit(h.size.toLong)))
  }

  private val EvolveBoundary = "2024-01-15"

  /** Schema evolution through the store — the lifecycle event every
    * long-lived measurement hits: a new field starts being written
    * mid-history (here `qc_flag`, appearing after 2024-01-15) and reads
    * spanning the boundary must surface the union schema with
    * pre-evolution rows NULL in the new field — InfluxDB's own field
    * semantics. The early days append WITHOUT the column, the later days
    * WITH it, and [[MeasurementStore.readMerged]] (parquet mergeSchema)
    * reconstructs the union; the per-day report counts flagged, passing,
    * and pre-evolution rows, and the oracle re-derives all three from the
    * fixture by the same boundary rule — so NULL-at-merge semantics are
    * differentially proven, not assumed. At 100 TB: schema merge costs one
    * footer read per file (bounded by the compaction policy), and day
    * pruning still applies — evolution never forces a rewrite of history. */
  def storeSchemaMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "store_evolve")
    val store = new MeasurementStore(spark, root)
    val points = load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts").as("time"),
        col("value"))
    val dayOf = date_format(col("time"), "yyyy-MM-dd")
    store.append("RawData", points.filter(dayOf <= EvolveBoundary))
    store.append("RawData", points.filter(dayOf > EvolveBoundary)
      .withColumn("qc_flag", when(col("value") >= 50.0, 1L).otherwise(0L)))
    totalOrder(store.readMerged("RawData")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        sum(when(col("qc_flag") === 1L, 1L).otherwise(0L)).as("n_qc_pass"),
        sum(when(col("qc_flag").isNull, 1L).otherwise(0L))
          .as("n_unflagged")))
  }

  /** 5-bit × 5-bit Morton interleave as engine-portable integer
    * arithmetic (`div` is `DIV` in Spark SQL, `//` in DuckDB): s occupies
    * the even bits, d the odd, so one `z DIV 16` step groups 4×4 (d, s)
    * tiles — the bit-twiddling is spelled as shift-free multiply/mod,
    * identical text in both engines. */
  private def zInterleaveSql(d: String, s: String, div: String): String =
    (0 until 5).map(i =>
      s"((($s) $div ${1 << i}) % 2) * ${1L << (2 * i)} + " +
        s"((($d) $div ${1 << i}) % 2) * ${1L << (2 * i + 1)}").mkString(" + ")

  /** Z-ORDER clustering + the data-skipping audit that justifies it — the
    * layout decision behind Delta/Iceberg `OPTIMIZE ZORDER BY (time,
    * series)`: a store clustered on time alone answers time-range queries
    * from few files but must read EVERY file for a series predicate,
    * while Morton-interleaving the (day, series) bits gives every file a
    * tight bounding box in BOTH dimensions, so min/max file stats prune
    * two-dimensionally. The op materializes both layouts' skipping
    * ledgers over the events table: day index scaled to 5 bits, series =
    * user_id mod 32, `zorder` buckets = equal-width z quadrants (4×4
    * tiles — deterministic, so DuckDB reproduces the file boundaries;
    * production uses repartitionByRange(z), whose sampled split points
    * this equal-width form stands in for), `bytime` buckets = 64
    * equal-width time slices. Each bucket row carries its min/max stats
    * and whether the standard pruning rule must touch it for (a) a
    * day×series box predicate and (b) a series-only predicate — the
    * second is the killer: bytime reads everything, zorder reads 1/4 of
    * the buckets. Entirely deterministic arithmetic ⇒ the whole audit,
    * stats and touch verdicts, is hash-oracled. At 100 TB the same z
    * expression is the repartition key and the bucket stats are the
    * parquet footer min/max the scan planner already collects. */
  def storeZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = load(spark, dir, "events")
      .select(unix_micros(col("ts")).as("us"), col("user_id"))
    val bounds = ev.agg(min(col("us")).as("min_us"), max(col("us")).as("max_us"))
    val cells = ev.crossJoin(broadcast(bounds))
      .withColumn("d", expr(s"((us - min_us) DIV $dayUs) * 32" +
        s" DIV ((max_us - min_us) DIV $dayUs + 1)"))
      .withColumn("s", pmod(col("user_id"), lit(32L)))
      .withColumn("zb", expr(s"(${zInterleaveSql("d", "s", "DIV")}) DIV 16"))
      .withColumn("tb", expr("((us - min_us) * 64) DIV (max_us - min_us + 1)"))
    val union = cells
      .select(lit("zorder").as("layout"), col("zb").as("bucket"),
        col("d"), col("s"))
      .unionByName(cells.select(lit("bytime").as("layout"),
        col("tb").as("bucket"), col("d"), col("s")))
    totalOrder(union
      .groupBy(col("layout"), col("bucket"))
      .agg(min(col("d")).as("min_d"), max(col("d")).as("max_d"),
        min(col("s")).as("min_s"), max(col("s")).as("max_s"),
        count(lit(1)).as("n_rows"))
      .withColumn("touched_ds",
        (col("max_d") >= 8 && col("min_d") <= 11 &&
          col("max_s") >= 16 && col("min_s") <= 19).cast("long"))
      .withColumn("touched_s",
        (col("max_s") >= 16 && col("min_s") <= 19).cast("long")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "store_zorder_layout" -> storeZorderLayout,
    "store_schema_merge" -> storeSchemaMerge,
    "store_time_travel" -> storeTimeTravel,
    "store_concurrent_writers" -> storeConcurrentWriters,
    "store_compact" -> storeCompact,
    "store_delete_series_window" -> storeDeleteSeriesWindow,
    "store_upsert_roundtrip" -> storeRoundtrip,
    "store_delete_roundtrip" -> storeDeleteRoundtrip,
    "store_drop_series" -> storeDropSeries,
    "sink_influx_write" -> sinkInfluxWrite)

  val oracle: Map[String, String] = Map(
    // the layout is deterministic arithmetic, so DuckDB re-derives both
    // bucket ledgers — including the touch verdicts — from the same
    // Morton expression
    "store_zorder_layout" ->
      s"""WITH e AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, user_id
         |  FROM events),
         |bnd AS (SELECT MIN(us) AS min_us, MAX(us) AS max_us FROM e),
         |cells AS (
         |  SELECT ((us - min_us) // 86400000000) * 32
         |           // ((max_us - min_us) // 86400000000 + 1) AS d,
         |         user_id % 32 AS s,
         |         ((us - min_us) * 64) // (max_us - min_us + 1) AS tb
         |  FROM e CROSS JOIN bnd),
         |z AS (
         |  SELECT 'zorder' AS layout,
         |    (${zInterleaveSql("d", "s", "//")}) // 16 AS bucket, d, s
         |  FROM cells
         |  UNION ALL SELECT 'bytime', tb, d, s FROM cells),
         |g AS (
         |  SELECT layout, bucket, MIN(d) AS min_d, MAX(d) AS max_d,
         |    MIN(s) AS min_s, MAX(s) AS max_s, COUNT(*) AS n_rows
         |  FROM z GROUP BY layout, bucket)
         |SELECT layout, bucket, min_d, max_d, min_s, max_s, n_rows,
         |  CAST((max_d >= 8 AND min_d <= 11 AND max_s >= 16 AND min_s <= 19)
         |    AS BIGINT) AS touched_ds,
         |  CAST((max_s >= 16 AND min_s <= 19) AS BIGINT) AS touched_s
         |FROM g
         |${orderAll("layout", "bucket", "min_d", "max_d", "min_s", "max_s",
              "n_rows", "touched_ds", "touched_s")}""".stripMargin,
    "store_schema_merge" ->
      s"""WITH e AS (
         |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, value
         |  FROM events),
         |f AS (
         |  SELECT day, value,
         |    CASE WHEN day > '$EvolveBoundary'
         |      THEN (CASE WHEN value >= 50 THEN 1 ELSE 0 END) END AS qc_flag
         |  FROM e)
         |SELECT day, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
         |  CAST(SUM(CASE WHEN qc_flag = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_qc_pass,
         |  CAST(SUM(CASE WHEN qc_flag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unflagged
         |FROM f GROUP BY day
         |${orderAll("day", "n", "sum_value", "n_qc_pass", "n_unflagged")}""".stripMargin,
    "store_time_travel" ->
      s"""WITH days AS (
         |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |    event_id, value FROM events
         |), snap AS (
         |  SELECT CAST(0 AS BIGINT) AS snapshot, day, COUNT(*) AS n,
         |    ${sqlDsum("value")} AS sum_value, MAX(event_id) AS max_version
         |  FROM days WHERE event_id % 2 = 0 GROUP BY day
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), day, COUNT(*),
         |    ${sqlDsum("value")}, MAX(event_id)
         |  FROM days GROUP BY day
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), day, COUNT(*),
         |    ${sqlDsum(s"CASE WHEN day = '$UpsertDay' THEN value * 2 ELSE value END")},
         |    MAX(CASE WHEN day = '$UpsertDay' THEN event_id + 1000000
         |        ELSE event_id END)
         |  FROM days GROUP BY day
         |)
         |SELECT snapshot, day, n, sum_value, max_version FROM snap
         |${orderAll("snapshot", "day", "n", "sum_value", "max_version")}""".stripMargin,
    "store_concurrent_writers" ->
      s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |  COUNT(*) AS n,
         |  ${sqlDsum(s"CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '$UpsertDay' THEN value * 2 WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '$Day4' THEN value * 3 ELSE value END")} AS sum_value,
         |  MAX(CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '$UpsertDay'
         |      THEN event_id + 1000000
         |      WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '$Day4'
         |      THEN event_id + 2000000 ELSE event_id END) AS max_version,
         |  CAST(3 AS BIGINT) AS n_commits
         |FROM events GROUP BY 1
         |${orderAll("day", "n", "sum_value", "max_version", "n_commits")}""".stripMargin,
    "store_compact" ->
      s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |  COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
         |  MIN(CAST(ts AS TIMESTAMP)) AS min_time,
         |  MAX(CAST(ts AS TIMESTAMP)) AS max_time
         |FROM events GROUP BY 1
         |${orderAll("day", "n", "sum_value", "min_time", "max_time")}""".stripMargin,
    "store_delete_series_window" ->
      s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |  COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
         |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
         |FROM events
         |WHERE NOT (event_type = 'error'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '$SeriesWindowBound')
         |GROUP BY 1
         |${orderAll("day", "n", "sum_value", "n_error")}""".stripMargin,
    "store_upsert_roundtrip" ->
      s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |  COUNT(*) AS n,
         |  ${sqlDsum(s"CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '$UpsertDay' THEN value * 2 ELSE value END")} AS sum_value,
         |  MAX(CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '$UpsertDay'
         |      THEN event_id + 1000000 ELSE event_id END) AS max_version
         |FROM events GROUP BY 1
         |${orderAll("day", "n", "sum_value", "max_version")}""".stripMargin,
    "store_delete_roundtrip" ->
      s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |  COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
         |  MIN(CAST(ts AS TIMESTAMP)) AS min_time
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '$DeleteBound'
         |GROUP BY 1
         |${orderAll("day", "n", "sum_value", "min_time")}""".stripMargin,
    "store_drop_series" ->
      s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |  COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
         |  COUNT(DISTINCT event_type) AS kinds
         |FROM events
         |WHERE event_type <> 'error'
         |GROUP BY 1
         |${orderAll("day", "n", "sum_value", "kinds")}""".stripMargin,
    "sink_influx_write" ->
      s"""SELECT
         |  CASE WHEN user_id % 2 = 0 THEN 'QCData' ELSE 'RawData' END
         |    AS measurement,
         |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |  COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2
         |${orderAll("measurement", "day", "n", "sum_value")}""".stripMargin)
}
