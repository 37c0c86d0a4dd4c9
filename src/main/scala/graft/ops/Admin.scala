package graft.ops

import graft.OpCaches.scratch
import graft.Tables._
import graft.influxql.{AdminCatalog, MeasurementCatalog}
import graft.store.MeasurementStore
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Admin-tier statement operators (the InfluxDB 1.x operations surface the
  * reference's deployment leans on behind its sha256 HTTP edge,
  * reference src/ciws_ci/data_posting_service/auth.py:16-47): users and
  * privileges, the running-query registry, and the operator diagnostics
  * statements, each driven end-to-end through the catalog front door and
  * differentially checked — including sha256 hash parity against DuckDB's
  * own digest.
  */
object Admin {
  import Relational.{totalOrder, orderAll}

  /** events as a measurement frame (event-time column named `time`). */
  private def measurement(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events").withColumnRenamed("ts", "time")

  /** Fresh catalog with the standard two-measurement series set and its
    * admin tier — every op starts from a clean registry so qids and
    * audit rows are deterministic. */
  private def freshCat(spark: SparkSession, dir: String): MeasurementCatalog = {
    val cat = new MeasurementCatalog(spark)
    cat.createDatabase("ciwsdb")
    val m = measurement(spark, dir)
    cat.register("ciwsdb", "events", m)
    cat.register("ciwsdb", "events_clicks",
      m.filter(col("event_type") === "click"))
    cat
  }

  /** CREATE USER / DROP USER / SET PASSWORD / SHOW USERS lifecycle: the
    * admin born with ALL PRIVILEGES, a read-only Grafana account whose
    * password is rotated, and a departed intern dropped — SHOW USERS
    * lists the survivors with their admin bit. */
  private def showUsers(spark: SparkSession, dir: String): DataFrame = {
    val cat = freshCat(spark, dir)
    cat.statement("CREATE USER admin WITH PASSWORD 'wasserhaus' WITH ALL PRIVILEGES")
    cat.statement("CREATE USER grafana_ro WITH PASSWORD 'dashboards'")
    cat.statement("CREATE USER intern WITH PASSWORD 'temp123'")
    cat.statement("DROP USER intern")
    cat.statement("SET PASSWORD FOR grafana_ro = 'dashboards2'")
    totalOrder(cat.statement("SHOW USERS"))
  }

  /** GRANT / REVOKE with InfluxDB's privilege lattice, proven through the
    * observable SHOW GRANTS: READ+WRITE renders as ALL PRIVILEGES,
    * revoking READ from ALL leaves WRITE, and an emptied grant drops its
    * row. */
  private def showGrants(spark: SparkSession, dir: String): DataFrame = {
    val cat = freshCat(spark, dir)
    cat.statement("CREATE USER loader WITH PASSWORD 'ingest'")
    cat.statement("GRANT READ ON ciwsdb TO loader")
    cat.statement("GRANT WRITE ON ciwsdb TO loader")
    cat.statement("GRANT ALL ON staging TO loader")
    cat.statement("REVOKE READ ON staging FROM loader")
    cat.statement("GRANT WRITE ON telegraf TO loader")
    cat.statement("REVOKE WRITE ON telegraf FROM loader")
    totalOrder(cat.statement("SHOW GRANTS FOR loader"))
  }

  /** Authentication parity: stored password digests and login outcomes.
    * The digest column is hash-checked against DuckDB's own sha256() over
    * the same cleartext — the differential proof that this library's
    * credential hashing matches an independent implementation (the
    * reference hashes its edge tokens the same way, auth.py:74-78). */
  private def authCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCat(spark, dir)
    val admin = cat.admin
    cat.statement("CREATE USER admin WITH PASSWORD 'wasserhaus' WITH ALL PRIVILEGES")
    cat.statement("CREATE USER loader WITH PASSWORD 'hunter2'")
    val rows = Seq(
      ("admin", admin.passwordHash("admin"),
        admin.authenticate("admin", "wasserhaus")),
      ("loader", admin.passwordHash("loader"),
        admin.authenticate("loader", "wrong-password")),
      ("mallory", admin.passwordHash("mallory"),
        admin.authenticate("mallory", "anything")))
    totalOrder(rows.toDF("name", "pw_hash", "login_ok"))
  }

  /** SHOW QUERIES through the synchronous request tier: two statements run
    * tracked to completion, then SHOW QUERIES — which, as InfluxDB's does,
    * lists ITSELF as the one in-flight query (qid 3, sub-second duration
    * rendering as "0s"). */
  private def showQueries(spark: SparkSession, dir: String): DataFrame = {
    val cat = freshCat(spark, dir)
    val admin = cat.admin
    admin.run(cat, "SHOW MEASUREMENTS")
    admin.run(cat, "SHOW SERIES EXACT CARDINALITY")
    totalOrder(admin.run(cat, "SHOW QUERIES"))
  }

  /** KILL QUERY end-to-end: a genuinely RUNNING query — its one task
    * parked on a latch, the runaway-query stand-in — is killed through the
    * statement surface; cancelJobGroup(interruptOnCancel) interrupts the
    * task, the blocked execution aborts, and the registry's audit shows
    * the kill. The op returns the audit log, not the (empty) KILL result,
    * so the gate checks the observable outcome. */
  private def killQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCat(spark, dir)
    val admin = cat.admin
    val token = KillFixture.create()
    val label = "SELECT * FROM events /* blocked */"
    // one partition → one parked task; the frame itself is trivial because
    // what's under test is the interrupt path, not the plan
    val blocked = spark.range(0L, 1L, 1L, 1)
      .mapPartitions { it => KillFixture.park(token); it }.toDF("n")
    val worker = new Thread(() =>
      try admin.runFrame(label, "ciwsdb", blocked)
      catch { case _: Throwable => () }) // the kill surfaces here, expected
    worker.setDaemon(true)
    worker.start()
    try {
      require(KillFixture.awaitParked(token, 60),
        "blocked task never started — cannot exercise KILL QUERY")
      require(admin.queryStatus(1L).contains("running"),
        s"expected qid 1 running, got ${admin.queryStatus(1L)}")
      cat.statement("KILL QUERY 1")
      worker.join(60000)
      require(!worker.isAlive, "kill did not interrupt the blocked query")
    } finally KillFixture.release(token)
    totalOrder(admin.auditLog)
  }

  /** SHOW STATS: per-measurement points + exact series cardinality of the
    * current database — one distributed agg per measurement, hash-checked
    * against DuckDB recomputing both. */
  private def showStats(spark: SparkSession, dir: String): DataFrame = {
    val cat = freshCat(spark, dir)
    totalOrder(cat.statement("SHOW STATS"))
  }

  /** SHOW DIAGNOSTICS: build + live session configuration rows. */
  private def showDiagnostics(spark: SparkSession, dir: String): DataFrame = {
    val cat = freshCat(spark, dir)
    totalOrder(cat.statement("SHOW DIAGNOSTICS"))
  }

  /** SHOW SHARDS over the store's day-partition layout: events written as
    * two measurements (full + a bounded QC slice), one shard row per
    * distinct day across the store — pure directory metadata, the same
    * bounded listing the day-pruned reads use. */
  private def showShards(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "show_shards")
    val store = new MeasurementStore(spark, root)
    val points = load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts").as("time"),
        col("value"))
    store.append("RawData", points)
    store.append("QCData", points.filter(col("event_type") === "error" &&
      col("time") < "2024-01-04 00:00:00"))
    totalOrder(store.showShards(database = "ciwsdb"))
  }

  /** SHOW SHARD GROUPS: the group-level view of the same day listing. */
  private def showShardGroups(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "shard_groups")
    val store = new MeasurementStore(spark, root)
    store.append("RawData", load(spark, dir, "events")
      .select(col("event_type"), col("ts").as("time"), col("value")))
    totalOrder(store.showShardGroups(database = "ciwsdb"))
  }

  /** DROP SHARD roundtrip — the reclaim-space-NOW half of retention: write
    * events as two measurements, drop shard 2 (one day across BOTH), and
    * re-list; the dropped day is gone from every measurement and the
    * positional ids renumber, which the oracle reproduces by excluding
    * the second day. */
  private def dropShard(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch(spark, "drop_shard")
    val store = new MeasurementStore(spark, root)
    val points = load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts").as("time"),
        col("value"))
    store.append("RawData", points)
    store.append("QCData", points.filter(col("event_type") === "error"))
    store.dropShard(2L)
    totalOrder(store.showShards(database = "ciwsdb"))
  }

  /** Subscription registry lifecycle: two registrations (ALL and ANY
    * modes, single and multi destination), one dropped — SHOW
    * SUBSCRIPTIONS lists the survivors. */
  private def showSubscriptions(spark: SparkSession, dir: String): DataFrame = {
    val cat = freshCat(spark, dir)
    cat.statement("CREATE DATABASE telegraf")
    cat.statement("CREATE SUBSCRIPTION sub_kapacitor ON ciwsdb.autogen " +
      "DESTINATIONS ALL 'http://kapacitor:9092'")
    cat.statement("CREATE SUBSCRIPTION sub_mirror ON telegraf.autogen " +
      "DESTINATIONS ANY 'http://mirror-a:9092', 'http://mirror-b:9092'")
    cat.statement("CREATE SUBSCRIPTION sub_tmp ON ciwsdb.autogen " +
      "DESTINATIONS ALL 'http://scratch:9092'")
    cat.statement("DROP SUBSCRIPTION sub_tmp ON ciwsdb.autogen")
    totalOrder(cat.statement("SHOW SUBSCRIPTIONS"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "influxql_show_users" -> (showUsers _),
    "influxql_show_grants" -> (showGrants _),
    "influxql_auth_check" -> (authCheck _),
    "influxql_show_queries" -> (showQueries _),
    "influxql_kill_query" -> (killQuery _),
    "influxql_show_stats" -> (showStats _),
    "influxql_show_diagnostics" -> (showDiagnostics _),
    "influxql_show_shards" -> (showShards _),
    "influxql_show_shard_groups" -> (showShardGroups _),
    "influxql_drop_shard" -> (dropShard _),
    "influxql_show_subscriptions" -> (showSubscriptions _))

  val oracle: Map[String, String] = Map(
    "influxql_show_users" ->
      s"""SELECT * FROM (VALUES
         |  ('admin', true), ('grafana_ro', false)
         |) AS t("user", "admin")
         |${orderAll("\"user\"", "\"admin\"")}""".stripMargin,
    "influxql_show_grants" ->
      s"""SELECT * FROM (VALUES
         |  ('ciwsdb', 'ALL PRIVILEGES'), ('staging', 'WRITE')
         |) AS t("database", privilege)
         |${orderAll("\"database\"", "privilege")}""".stripMargin,
    // DuckDB's sha256() recomputes the digests independently — a VALUES
    // oracle here would only prove self-consistency
    "influxql_auth_check" ->
      s"""SELECT * FROM (VALUES
         |  ('admin', sha256('wasserhaus'), true),
         |  ('loader', sha256('hunter2'), false),
         |  ('mallory', CAST(NULL AS VARCHAR), false)
         |) AS t(name, pw_hash, login_ok)
         |${orderAll("name", "pw_hash", "login_ok")}""".stripMargin,
    "influxql_show_queries" ->
      s"""SELECT CAST(3 AS BIGINT) AS qid, 'SHOW QUERIES' AS query,
         |  'ciwsdb' AS "database", '0s' AS duration
         |${orderAll("qid", "query", "\"database\"", "duration")}""".stripMargin,
    "influxql_kill_query" ->
      s"""SELECT CAST(1 AS BIGINT) AS qid,
         |  'SELECT * FROM events /* blocked */' AS query,
         |  'ciwsdb' AS "database", 'killed' AS status
         |${orderAll("qid", "query", "\"database\"", "status")}""".stripMargin,
    "influxql_show_stats" ->
      s"""SELECT * FROM (
         |  SELECT 'database' AS module, 'ciwsdb' AS "database",
         |    'events' AS measurement,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS points,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |      (SELECT DISTINCT event_type, props FROM events)) AS series
         |  UNION ALL
         |  SELECT 'database', 'ciwsdb', 'events_clicks',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events
         |      WHERE event_type = 'click'),
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |      (SELECT DISTINCT event_type, props FROM events
         |       WHERE event_type = 'click')))
         |${orderAll("module", "\"database\"", "measurement", "points",
           "series")}""".stripMargin,
    // the mains' session (Harness.session) runs one shuffle partition per core
    "influxql_show_diagnostics" ->
      s"""SELECT * FROM (VALUES
         |  ('build', 'engine', 'graft'),
         |  ('build', 'spark_version', '4.1.2'),
         |  ('config', 'session_timezone', 'UTC'),
         |  ('config', 'shuffle_partitions', '${graft.Harness.cpus}'),
         |  ('config', 'adaptive_execution', 'true')
         |) AS t(module, name, value)
         |${orderAll("module", "name", "value")}""".stripMargin,
    "influxql_show_shards" ->
      s"""WITH d AS (
         |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
         |  FROM events)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS id,
         |  'ciwsdb' AS "database", 'autogen' AS retention_policy,
         |  CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS shard_group,
         |  CAST(day AS TIMESTAMP) AS start_time,
         |  CAST(day AS TIMESTAMP) + INTERVAL 1 DAY AS end_time,
         |  CAST(day AS TIMESTAMP) + INTERVAL 1 DAY AS expiry_time,
         |  '1' AS owners
         |FROM d
         |${orderAll("id", "\"database\"", "retention_policy", "shard_group",
           "start_time", "end_time", "expiry_time", "owners")}""".stripMargin,
    "influxql_show_shard_groups" ->
      s"""WITH d AS (
         |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
         |  FROM events)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS id,
         |  'ciwsdb' AS "database", 'autogen' AS retention_policy,
         |  CAST(day AS TIMESTAMP) AS start_time,
         |  CAST(day AS TIMESTAMP) + INTERVAL 1 DAY AS end_time,
         |  CAST(day AS TIMESTAMP) + INTERVAL 1 DAY AS expiry_time
         |FROM d
         |${orderAll("id", "\"database\"", "retention_policy",
           "start_time", "end_time", "expiry_time")}""".stripMargin,
    // the oracle re-derives the post-drop listing: all days except the
    // second, re-ranked — proving both the deletion and the positional ids
    "influxql_drop_shard" ->
      s"""WITH d AS (
         |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
         |  FROM events),
         |r AS (SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM d),
         |k AS (SELECT day FROM r WHERE rn <> 2)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS id,
         |  'ciwsdb' AS "database", 'autogen' AS retention_policy,
         |  CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS shard_group,
         |  CAST(day AS TIMESTAMP) AS start_time,
         |  CAST(day AS TIMESTAMP) + INTERVAL 1 DAY AS end_time,
         |  CAST(day AS TIMESTAMP) + INTERVAL 1 DAY AS expiry_time,
         |  '1' AS owners
         |FROM k
         |${orderAll("id", "\"database\"", "retention_policy", "shard_group",
           "start_time", "end_time", "expiry_time", "owners")}""".stripMargin,
    "influxql_show_subscriptions" ->
      s"""SELECT * FROM (VALUES
         |  ('ciwsdb', 'autogen', 'sub_kapacitor', 'ALL',
         |   'http://kapacitor:9092'),
         |  ('telegraf', 'autogen', 'sub_mirror', 'ANY',
         |   'http://mirror-a:9092,http://mirror-b:9092')
         |) AS t("database", retention_policy, name, mode, destinations)
         |${orderAll("\"database\"", "retention_policy", "name", "mode",
           "destinations")}""".stripMargin)
}

/** Re-entrant latch registry for the KILL QUERY demonstration: the task
  * closure captures only a Long token (the latches themselves are not
  * serializable); tasks resolve it against this JVM-local registry — valid
  * in local mode, where driver and executors share the JVM. Each op
  * invocation creates fresh latches, so bench re-runs never see a
  * released gate from a previous run. */
private[ops] object KillFixture {
  private val gates =
    new ConcurrentHashMap[Long, (CountDownLatch, CountDownLatch)]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  def create(): Long = {
    val t = ids.incrementAndGet()
    gates.put(t, (new CountDownLatch(1), new CountDownLatch(1)))
    t
  }

  /** Called from the task: signal arrival, then block (interruptibly —
    * the job-group cancel's interrupt is the expected exit). */
  def park(token: Long): Unit = {
    val (started, release) = gates.get(token)
    started.countDown()
    release.await()
  }

  def awaitParked(token: Long, seconds: Long): Boolean =
    gates.get(token)._1.await(seconds, TimeUnit.SECONDS)

  def release(token: Long): Unit = {
    Option(gates.remove(token)).foreach(_._2.countDown())
  }
}
