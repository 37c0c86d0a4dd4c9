package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the mains ([[Bench]], [[Verify]], [[Scratch]]) share: one session
  * builder, and one way to run queries — every query's op state is released
  * right after it ([[released]]), the session-scoped state when the run
  * ends ([[run]]). [[Graft.session]] and the test suites build their
  * sessions here too. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else every available
    * processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors())(_.trim.toInt)

  /** Build (or reuse) a configured local session: shuffle partitions sized
    * to the cores (the local-mode analog of sizing partitions to cluster
    * parallelism — never the 200 default), every [[Tables.sessionConfs]]
    * entry, no web UI, WARN logging. */
  def session(master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus, appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A main's body on a fresh session; whatever the run built
    * ([[OpCaches.releaseSession]]) is released and the session stopped,
    * also when the body throws. */
  def run(body: SparkSession => Unit): Unit = {
    val spark = session()
    try body(spark)
    finally { OpCaches.releaseSession(); spark.stop() }
  }

  /** One query's action, then release what it left behind — op caches,
    * sink views, scratch dirs, stray cached frames — so nothing leaks into
    * the next query or piles up across a session of hundreds. */
  def released[A](spark: SparkSession)(action: => A): A =
    try action
    finally { OpCaches.releaseAll(); spark.catalog.clearCache() }

  /** Wall seconds of query `name` over `dir` into the NOOP sink, released
    * afterwards. Not `count()`: under a bare count Catalyst prunes every
    * unused per-row expression, so shuffle-free map-only ops (gopher_rules,
    * soft_dedup, quality_classifier, …) would time at the parquet-footer
    * floor at any scale. The noop sink consumes every output row whole, so
    * the timing covers exactly what Verify's parquet write evaluates, with
    * no write-side cost. One retry on Spark's INTERNAL_ERROR wrapper
    * ([[Tables.retryInternalOnce]]) rebuilds the query and re-times it from
    * scratch; any other failure, or a second one, is loud and rethrown —
    * a crashing query must never masquerade as a fast timing. */
  def time(spark: SparkSession, dir: String, name: String, q: Query): Double =
    released(spark) {
      var t0 = System.nanoTime()
      try Tables.retryInternalOnce(s"query '$name'") {
        t0 = System.nanoTime()
        q(spark, dir).write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          System.err.println(s"[harness] query '$name' failed: $e")
          throw e
      }
      (System.nanoTime() - t0) / 1e9
    }
}
