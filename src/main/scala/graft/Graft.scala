package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library front door — the single object a user of the reference
  * deployment switches to. One `Graft` instance wires the whole surface
  * together over an existing SparkSession:
  *
  *  - [[catalog]]: databases, measurements, retention policies, and every
  *    InfluxQL statement (SELECT / SHOW / DDL / CQ management, plus the
  *    admin tier: CREATE USER / GRANT / SHOW USERS / SHOW GRANTS /
  *    SHOW QUERIES / KILL QUERY / SHOW STATS / SHOW DIAGNOSTICS) through
  *    [[statement]] — the CLI/Grafana dialogue verbatim; the registry-
  *    tracked synchronous tier is `catalog.admin.run` (what a serving
  *    layer calls per request so KILL QUERY can interrupt it);
  *  - [[store]]: day-partitioned measurement storage with upsert, delete,
  *    drop, compaction, and retention enforcement;
  *  - [[cqRegistry]]: managed continuous queries with checkpointed resume;
  *  - the custom Catalyst surface (vec_dot, LSH signatures, the
  *    VecDotRewrite rule) registered at construction, so `spark.sql` and
  *    every operator in `graft.ops` are immediately usable.
  *
  * {{{
  * val g = Graft(Graft.session())
  * g.statement("CREATE DATABASE ciwsdb")
  * g.register("ciwsdb", "flow", flowFrame)
  * g.statement("SELECT mean(value) FROM flow GROUP BY time(1h)")
  * }}}
  *
  * Construction performs no Spark jobs — everything stays lazy until a
  * statement runs. Release operator-internal caches with
  * [[OpCaches.releaseAll]] once results are consumed.
  */
class Graft(val spark: SparkSession) {
  functions.GraftFunctions.register(spark)

  /** Database-level catalog; serves every InfluxQL statement. */
  val catalog = new influxql.MeasurementCatalog(spark)

  /** Open (or create) a measurement store rooted at `root` — any
    * Hadoop-reachable URI (local, HDFS, S3A, ...). */
  def store(root: String): _root_.graft.store.MeasurementStore =
    Graft.store(spark, root)

  /** Managed continuous queries with per-CQ checkpoints under `root`;
    * `watermarkLag` is the lateness/freshness policy bounding streaming
    * state to windows inside the lag (input older than it is dropped —
    * InfluxDB's own CQ contract; older backfill is a batch INTO run). */
  def cqRegistry(root: String,
    watermarkLag: String = "1 hour"): streaming.CqRegistry =
    new streaming.CqRegistry(spark, root, watermarkLag)

  /** Register a measurement frame (time column named `time`) under `db`,
    * creating the database on first use. */
  def register(db: String, measurement: String, df: DataFrame): Unit =
    catalog.register(db, measurement, df)

  /** Run InfluxQL statement text — the whole dialect: SELECT (aggregates,
    * fills, tz, transforms, subqueries, INTO, FROM lists/regex), SHOW
    * discovery and cardinality, database/retention DDL, and CONTINUOUS
    * QUERY management. A `;`-separated BATCH (what the InfluxDB CLI and
    * client libraries send) runs each statement in order through the
    * catalog and returns the LAST result frame, CLI-style; `now` pins
    * now()-relative bounds for tests. */
  def statement(q: String, now: Option[String] = None): DataFrame = {
    val stmts = Graft.splitStatements(q)
    if (stmts.isEmpty)
      throw new IllegalArgumentException(s"empty statement: $q")
    stmts.map(catalog.statement(_, now)).last
  }
}

/** Session-level helpers: one call builds a session with every config the
  * engine needs (nanos-timestamp parquet reads, UTC, AQE, warehouse dir)
  * and the custom Catalyst functions registered — so
  * `SELECT vec_dot(a, b)` and `band_keys(emb)` work from plain SQL too.
  *
  * A cluster deployment instead sets
  * `spark.sql.extensions=graft.functions.GraftExtensions` on its own
  * builder and copies [[Tables.sessionConfs]].
  */
object Graft {

  def apply(spark: SparkSession): Graft = new Graft(spark)

  /** Split a statement batch on `;` at paren depth 0, outside single- and
    * double-quoted runs (`'a;b'` string literals and `"a;b"` identifiers
    * stay whole) and outside `/regex/` measurement literals (`FROM /a;b/`
    * and `=~ /a;b/` stay whole — a `/` opens a regex run only where a
    * regex can appear: after FROM, a FROM-list comma, or `=~`/`!~`, so
    * arithmetic division never starts one). Trailing/empty statements
    * drop, so `SELECT 1;` is one statement, not two. */
  private[graft] def splitStatements(q: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    var inSingle = false
    var inDouble = false
    var inRegex = false
    def regexCanStart: Boolean = {
      val t = sb.toString.trim
      t.endsWith("=~") || t.endsWith("!~") || t.endsWith(",") || {
        val up = t.toUpperCase
        up.endsWith("FROM") && (t.length == 4 ||
          !Character.isLetterOrDigit(t.charAt(t.length - 5)))
      }
    }
    var i = 0
    while (i < q.length) {
      val ch = q.charAt(i)
      if (inRegex) {
        sb += ch
        if (ch == '\\' && i + 1 < q.length) { sb += q.charAt(i + 1); i += 1 }
        else if (ch == '/') inRegex = false
      } else ch match {
        case '\'' if !inDouble => inSingle = !inSingle; sb += '\''
        case '"' if !inSingle => inDouble = !inDouble; sb += '"'
        case '(' if !inSingle && !inDouble => depth += 1; sb += '('
        case ')' if !inSingle && !inDouble => depth -= 1; sb += ')'
        case '/' if !inSingle && !inDouble && regexCanStart =>
          inRegex = true; sb += '/'
        case ';' if depth == 0 && !inSingle && !inDouble =>
          out += sb.toString; sb.clear()
        case c => sb += c
      }
      i += 1
    }
    val parts = (out += sb.toString).result().map(_.trim).filter(_.nonEmpty)
    // re-join CQ bodies: `CREATE CONTINUOUS QUERY ... BEGIN <select>; END`
    // legitimately carries a `;` inside BEGIN...END
    val beginRe = """(?i)\bBEGIN\b""".r
    val endRe = """(?i)\bEND\s*$""".r
    val merged = Seq.newBuilder[String]
    var acc: Option[String] = None
    parts.foreach { p =>
      acc match {
        case Some(a) =>
          val joined = s"$a; $p"
          if (endRe.findFirstIn(p).isDefined) { merged += joined; acc = None }
          else acc = Some(joined)
        case None =>
          if (beginRe.findFirstIn(p).isDefined && endRe.findFirstIn(p).isEmpty)
            acc = Some(p)
          else merged += p
      }
    }
    acc.foreach(merged += _)
    merged.result()
  }

  /** Build (or reuse) a configured session ([[Harness.session]]: shuffle
    * partitions sized to the cores, never the 200 default on a laptop or a
    * 32-core driver) with the custom functions registered. */
  def session(
    master: String = s"local[${Harness.cpus}]",
    appName: String = "graft",
    shufflePartitions: Int = Harness.cpus): SparkSession = {
    val spark = Harness.session(master, shufflePartitions, appName)
    functions.GraftFunctions.register(spark)
    spark
  }

  /** A [[graft.store.MeasurementStore]] rooted at `path`. */
  def store(spark: SparkSession, path: String): graft.store.MeasurementStore =
    new graft.store.MeasurementStore(spark, path)
}
