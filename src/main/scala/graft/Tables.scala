package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Fixture-table access + hash-oracle-stable expression helpers.
  *
  * Every `SparkEntry.queries` entry is differentially tested against DuckDB
  * executing `SparkEntry.oracleSql` on the same parquet files, comparing a
  * hash of (column-name-sorted) values. Two classes of nondeterminism would
  * flap that hash and are neutralized here:
  *
  *   - float addition order: `sum(double)` depends on partial-aggregation
  *     order, which differs between Spark and DuckDB (and across runs).
  *     [[Tables.dsum]] casts to DecimalType(38,6) first — exact, associative,
  *     order-independent — then back to double. Oracle SQL mirrors with
  *     `CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)`.
  *   - row order: every query ends in a total ORDER BY over its output
  *     columns (rows tying on all columns are identical, so the multiset
  *     hash is stable). Catalyst's EliminateSorts removes the sort when a
  *     downstream agg (e.g. Bench's `.count()`) makes it redundant.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session configs every graft session needs. `inferTimestampNTZ=false`
    * makes the parquet reader surface TIMESTAMP(MICROS, isAdjustedToUTC
    * either way) as session-TZ TimestampType (values stay the stored UTC
    * instants under the pinned-UTC session), so `time` math (`unix_micros`,
    * windows, `Row.getTimestamp`) is type-stable. Fixture layouts have
    * changed under us once already (INT64-ns → µs-NTZ); [[normalizeTs]]
    * converts by ACTUAL schema type so the engine survives the next one. */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // managed tables (bucketed-join demo) live outside the repo checkout
    "spark.sql.warehouse.dir" ->
      s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")

  /** Per-(session, dir, table) memo of the loaded PLAN. Constructing a
    * parquet DataFrame costs a driver-side footer read for schema
    * inference; catalog-style statements (the SHOW family) touch every
    * fixture table, so re-inferring per statement is pure metadata
    * overhead — exactly what a deployment's registered catalog
    * ([[graft.influxql.MeasurementCatalog]], a metastore) avoids by
    * holding frames once. The memo pins only the lazy plan, never data
    * (nothing to unpersist — execution still reads the files), and keys
    * on the session so test suites with their own sessions don't share. */
  private val loadMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // bound the memo (cloned sessions each key their own entries): the
    // fixture set is ~10 tables × a handful of sessions; a runaway caller
    // clears rather than leaks
    if (loadMemo.size > 256) loadMemo.clear()
    loadMemo.computeIfAbsent((spark, sfDir, name), _ =>
      normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet")))
  }

  /** Normalize an event-time column to µs TimestampType by ACTUAL schema
    * type — never by an assumed fixture layout. Handles every layout the
    * driver has materialized so far plus the obvious next ones:
    *   - LongType: legacy TIMESTAMP(NANOS) read as raw INT64 ns. ns→µs via
    *     integer division (double division loses precision at 1.7e18 ns);
    *     truncation matches DuckDB CAST(ts_ns AS TIMESTAMP).
    *   - TimestampNTZType: µs with isAdjustedToUTC=false (stored values are
    *     UTC instants). Cast under the pinned-UTC session reinterprets the
    *     same micros value — a no-op on the instant.
    *   - TimestampType / absent column: nothing to do. */
  def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema.fields.find(_.name == c).map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn(c, timestamp_micros(expr(s"`$c` DIV 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn(c, col(c).cast("timestamp"))
      case _ => df
    }
  }

  /** A cloned session whose `spark.sql.shuffle.partitions` is sized to one
    * op's state/pair-graph width. Per-PLAN shuffle width without mutating
    * the caller's session conf (a session-global set/restore is racy under
    * concurrent queries — the conf is read at execution, not plan-build,
    * time). `newSession` shares the SparkContext and cached data but NOT
    * runtime SQL confs, so the graft-required confs are re-applied
    * explicitly. */
  def sizedSession(spark: SparkSession, shufflePartitions: Int): SparkSession = {
    val s = spark.newSession()
    // static confs (warehouse dir) can't be set on a live session — they
    // are JVM-wide already; re-apply only the modifiable ones
    sessionConfs.filter { case (k, _) => s.conf.isModifiable(k) }
      .foreach { case (k, v) => s.conf.set(k, v) }
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    s
  }

  /** Register all fixture tables as temp views (for spark.sql paths). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Order-independent double sum: exact decimal accumulation. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(38, 6))).cast(DoubleType)

  /** Order-independent double avg: exact decimal sum cast to double, then
    * one IEEE division by the count — bit-identical in Spark and DuckDB
    * (decimal/decimal division scale rules differ between engines, so the
    * division must happen in double space). */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(38, 6))).cast(DoubleType) / count(c)

  /** DuckDB twin of [[dsum]]. */
  def sqlDsum(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(38,6))) AS DOUBLE)"

  /** DuckDB twin of [[davg]]. */
  def sqlDavg(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(38,6))) AS DOUBLE) / COUNT($expr)"

  /** Lineage cut for iterative plans (the CC dedup loop, Lloyd rounds):
    * reliable `checkpoint()` when the context has a checkpoint dir set —
    * blocks land on the shared FS and survive executor loss, the cluster
    * deployment mode — else `localCheckpoint()`, whose executor-local
    * blocks are fine single-node but are lost (and fail the job) when an
    * executor dies mid-iteration. Both are eager, so the downstream plan
    * sees a short LogicalRDD either way. */
  def lineageCut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Run a side-effect-free action with ONE retry on Spark's INTERNAL_ERROR
    * wrapper. Observed once (bench, round 14): a plan node constructed with
    * a null `session` NPE'd inside `resetMetrics` at the start of a
    * `count()` — an internal Spark race that 60 stress iterations plus the
    * full verify/bench matrix could not reproduce. The retry re-invokes the
    * thunk, so the thunk must BUILD its Dataset, not capture a built one: a
    * Dataset's `queryExecution` (and its `toRdd`) is a cached lazy val, so
    * only a Dataset made inside the thunk gets a fresh QueryExecution and
    * physical plan, and a transiently-corrupt plan instance cannot persist
    * into the second attempt. The action must be idempotent (counts are).
    * Anything else — including a second internal error — still fails
    * loudly. */
  def retryInternalOnce[T](what: String)(thunk: => T): T =
    try thunk catch {
      case e: org.apache.spark.SparkException
          if e.getMessage != null && e.getMessage.contains("INTERNAL_ERROR") =>
        System.err.println(
          s"[graft] transient Spark INTERNAL_ERROR in $what - retrying once: $e")
        thunk
    }
}
