package graft

import graft.influxql.{AdminCatalog, MeasurementCatalog}
import graft.store.MeasurementStore
import org.apache.spark.sql.functions._

/** Admin tier (users/privileges, query registry, diagnostics statements)
  * — the statement surface behind [[graft.ops.Admin]]'s gate queries. */
class AdminSpec extends SparkTestBase {
  import spark.implicits._

  private def events = Tables.load(spark, sf, "events")
    .withColumnRenamed("ts", "time")

  private def freshCat(): MeasurementCatalog = {
    val cat = new MeasurementCatalog(spark)
    cat.createDatabase("ciwsdb")
    cat.register("ciwsdb", "events", events)
    cat
  }

  test("user lifecycle: create, authenticate, rotate, drop") {
    val cat = freshCat()
    cat.statement("CREATE USER alice WITH PASSWORD 's3cret' WITH ALL PRIVILEGES")
    cat.statement("CREATE USER bob WITH PASSWORD 'hunter2'")
    val admin = cat.admin
    assert(admin.authenticate("alice", "s3cret"))
    assert(!admin.authenticate("alice", "wrong"))
    assert(!admin.authenticate("nobody", "s3cret"))
    cat.statement("SET PASSWORD FOR bob = 'rotated'")
    assert(!admin.authenticate("bob", "hunter2"))
    assert(admin.authenticate("bob", "rotated"))
    val users = cat.statement("SHOW USERS").as[(String, Boolean)].collect().toSet
    assert(users === Set(("alice", true), ("bob", false)))
    cat.statement("DROP USER bob")
    assert(cat.statement("SHOW USERS").count() === 1)
    intercept[IllegalArgumentException] {
      cat.statement("CREATE USER alice WITH PASSWORD 'again'")
    }
    intercept[IllegalArgumentException] { cat.statement("DROP USER ghost") }
  }

  test("sha256 digest matches the published test vector") {
    // independently known value — the same digest DuckDB's sha256() returns,
    // which is what the influxql_auth_check oracle hash-checks at the gate
    assert(AdminCatalog.sha256Hex("hunter2") ===
      "f52fbd32b2b3b86ff88ef6c490628285f482af15ddcb29541f94bcf526a3f6c7")
  }

  test("privilege lattice: grant composes to ALL, revoke downgrades") {
    val cat = freshCat()
    cat.statement("CREATE USER u WITH PASSWORD 'p'")
    cat.statement("GRANT READ ON db1 TO u")
    cat.statement("GRANT WRITE ON db1 TO u")
    cat.statement("GRANT ALL ON db2 TO u")
    cat.statement("REVOKE READ ON db2 FROM u")
    cat.statement("GRANT READ ON db3 TO u")
    cat.statement("REVOKE READ ON db3 FROM u")
    // revoking a privilege the user never held is a no-op, not an error
    cat.statement("REVOKE WRITE ON db4 FROM u")
    val grants = cat.statement("SHOW GRANTS FOR u")
      .as[(String, String)].collect().toSet
    assert(grants === Set(("db1", "ALL PRIVILEGES"), ("db2", "WRITE")))
    // the ON-less forms flip the admin bit
    cat.statement("GRANT ALL PRIVILEGES TO u")
    assert(cat.statement("SHOW USERS").as[(String, Boolean)]
      .collect().toSet === Set(("u", true)))
    cat.statement("REVOKE ALL PRIVILEGES FROM u")
    assert(cat.statement("SHOW USERS").as[(String, Boolean)]
      .collect().toSet === Set(("u", false)))
  }

  test("query registry: tracked runs finish; SHOW QUERIES lists itself") {
    val cat = freshCat()
    val admin = cat.admin
    admin.run(cat, "SHOW MEASUREMENTS")
    val inFlight = admin.run(cat, "SHOW QUERIES")
      .select("qid", "query", "duration")
      .as[(Long, String, String)].collect().toSeq
    assert(inFlight === Seq((2L, "SHOW QUERIES", "0s")))
    val audit = admin.auditLog.select("qid", "status")
      .as[(Long, String)].collect().toSet
    assert(audit === Set((1L, "finished"), (2L, "finished")))
  }

  test("KILL QUERY interrupts a genuinely running job") {
    // end-to-end through the gate op: a task parked on a latch, killed via
    // the statement surface; the audit must show the kill and the worker
    // thread must have been released by the interrupt (asserted inside)
    val out = ops.Admin.queries("influxql_kill_query")(spark, sf)
      .as[(Long, String, String, String)].collect().toSeq
    assert(out ===
      Seq((1L, "SELECT * FROM events /* blocked */", "ciwsdb", "killed")))
  }

  test("SHOW STATS matches directly computed points/series") {
    val cat = freshCat()
    val stats = cat.statement("SHOW STATS")
      .select("measurement", "points", "series")
      .as[(String, Long, Long)].collect()
      .map { case (m, p, s) => m -> ((p, s)) }.toMap
    val pts = events.count()
    val ser = events.select("event_type", "props").distinct().count()
    assert(stats === Map("events" -> (pts, ser)))
  }

  test("SHOW DIAGNOSTICS echoes the live session configuration") {
    val cat = freshCat()
    val d = cat.statement("SHOW DIAGNOSTICS")
      .as[(String, String, String)].collect()
      .map { case (_, n, v) => n -> v }.toMap
    // the test session runs 4 shuffle partitions (the mains run one per core) —
    // proving the statement reads the session, not a constant
    assert(d("shuffle_partitions") ===
      spark.conf.get("spark.sql.shuffle.partitions"))
    assert(d("session_timezone") === "UTC")
    assert(d("spark_version") === spark.version)
  }

  test("SHOW SHARDS: one row per distinct day, contiguous ids, 1-day spans") {
    val root = java.nio.file.Files.createTempDirectory("shards_spec").toString
    val store = new MeasurementStore(spark, root)
    store.append("m1", events.select(col("time"), col("value")))
    store.append("m2", events.filter(col("event_type") === "error")
      .select(col("time"), col("value")))
    val shards = store.showShards(database = "ciwsdb").collect()
    val expectDays = events
      .select(date_format(col("time"), "yyyy-MM-dd")).distinct().count()
    assert(shards.length === expectDays)
    assert(shards.map(_.getLong(0)).toSeq === (1L to expectDays).toSeq)
    shards.foreach { r =>
      val start = r.getTimestamp(4).toInstant
      val end = r.getTimestamp(5).toInstant
      assert(java.time.Duration.between(start, end).toDays === 1)
      assert(r.getTimestamp(6) === r.getTimestamp(5)) // infinite retention
      assert(r.getString(1) === "ciwsdb" && r.getString(7) === "1")
    }
  }

  test("DROP SHARD deletes one day across every measurement, ids renumber") {
    val root = java.nio.file.Files.createTempDirectory("drop_shard_spec").toString
    val store = new MeasurementStore(spark, root)
    store.append("m1", events.select(col("time"), col("value")))
    store.append("m2", events.select(col("time"), col("value")))
    val before = store.showShards().collect()
    val droppedDay = before(1).getTimestamp(4).toLocalDateTime.toLocalDate.toString
    store.dropShard(2L)
    val after = store.showShards().collect()
    assert(after.length === before.length - 1)
    assert(after.map(_.getLong(0)).toSeq === (1L to after.length).toSeq)
    // the day is gone from the DATA of both measurements, not just the listing
    Seq("m1", "m2").foreach { m =>
      assert(store.read(m).filter(col("day") === droppedDay).count() === 0)
      assert(store.read(m).count() > 0)
    }
    // group view carries the same ids minus ownership columns
    assert(store.showShardGroups().columns.toSeq ===
      Seq("id", "database", "retention_policy",
        "start_time", "end_time", "expiry_time"))
    intercept[IllegalArgumentException] { store.dropShard(999L) }
  }

  test("subscription registry: create validates db/rp, drop removes, list") {
    val cat = freshCat()
    cat.statement("CREATE SUBSCRIPTION s1 ON ciwsdb.autogen " +
      "DESTINATIONS ANY 'http://a:9092', 'http://b:9092'")
    val listed = cat.statement("SHOW SUBSCRIPTIONS")
      .as[(String, String, String, String, String)].collect().toSeq
    assert(listed ===
      Seq(("ciwsdb", "autogen", "s1", "ANY", "http://a:9092,http://b:9092")))
    // udp:// is the declared serving-layer boundary: rejected at CREATE
    intercept[IllegalArgumentException] {
      cat.statement("CREATE SUBSCRIPTION s_udp ON ciwsdb.autogen " +
        "DESTINATIONS ALL 'udp://h:8089'")
    }
    // a second registration under the same (db, rp, name) is an error
    intercept[IllegalArgumentException] {
      cat.statement("CREATE SUBSCRIPTION s1 ON ciwsdb.autogen " +
        "DESTINATIONS ALL 'http://x:1'")
    }
    // unknown database and unknown retention policy both fail loudly
    intercept[IllegalArgumentException] {
      cat.statement("CREATE SUBSCRIPTION s2 ON nodb.autogen " +
        "DESTINATIONS ALL 'http://x:1'")
    }
    intercept[IllegalArgumentException] {
      cat.statement("CREATE SUBSCRIPTION s2 ON ciwsdb.norp " +
        "DESTINATIONS ALL 'http://x:1'")
    }
    cat.statement("DROP SUBSCRIPTION s1 ON ciwsdb.autogen")
    assert(cat.statement("SHOW SUBSCRIPTIONS").count() === 0)
    intercept[IllegalArgumentException] {
      cat.statement("DROP SUBSCRIPTION s1 ON ciwsdb.autogen")
    }
  }
}
