package graft

import scala.collection.mutable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of everything an operator leaves behind, so a LIBRARY
  * caller can release it. Nothing else in the engine keeps a release
  * registry, a shutdown hook or a recursive delete.
  *
  * Query-scoped state lives until [[releaseAll]]:
  *  - [[cached]] frames. Several operators cache an intermediate frame that
  *    their returned plan references more than once (e.g. a tokenized
  *    corpus both aggregated and exploded — without the cache, `Generate`
  *    re-evaluates the un-materialized `transform()` once per output row).
  *    The cache must outlive the op call (the plan hasn't run yet when the
  *    op returns), so the op cannot unpersist it itself.
  *  - [[sinkView]]s: a streaming memory sink's view holds its whole result
  *    in driver memory.
  *  - [[scratch]] directories: stores, checkpoints, landing dirs and sinks
  *    an op writes and its returned plan reads back.
  *
  * Session-scoped state lives until [[releaseSession]]: directories built
  * [[once]] and reused by every later call (persisted ANN and band indexes,
  * bucketed tables, the JSONL landing) — reuse across the ops that share
  * them is their whole point.
  *
  * Every directory sits under one root: `spark.graft.scratch` when set —
  * on a cluster a SHARED filesystem path (HDFS/S3), since executors write
  * there and read back, and a driver-local temp dir would lose every file a
  * remote executor wrote — else the JVM temp dir. A JVM shutdown hook
  * deletes whatever an abnormal exit left registered. `graft.Harness`
  * releases after every query and at the end of the run; a spec asserts
  * the root ends empty.
  */
object OpCaches {
  private type Dir = (Path, Configuration)
  private val frames = mutable.Buffer.empty[DataFrame]
  private val views = mutable.Buffer.empty[(SparkSession, String)]
  private val dirs = mutable.Buffer.empty[Dir]
  private val built = mutable.LinkedHashMap.empty[String, Dir]
  private val building = mutable.Map.empty[String, AnyRef]
  private lazy val shutdownHook: Unit = {
    sys.addShutdownHook(synchronized {
      (dirs ++ built.values).foreach(d => scala.util.Try(rm(d)))
    })
    ()
  }

  /** Cache `df` and register it for later release. */
  def cached(df: DataFrame): DataFrame = synchronized {
    frames += df
    df.cache()
  }

  /** Register the temp view `name` of `spark` to be dropped at release. */
  def sinkView(spark: SparkSession, name: String): Unit = synchronized {
    views += spark -> name; ()
  }

  /** A fresh empty directory under the scratch root, deleted at release. */
  def scratch(spark: SparkSession, prefix: String): String = synchronized {
    val d = mkdir(spark, prefix)
    dirs += d
    d._1.toString
  }

  /** Build-once per session: run `init` into a fresh directory the FIRST
    * time `key` is seen, return that directory to every later call, and
    * delete it at [[releaseSession]]. A failed `init` leaves nothing
    * behind, so the next call builds again. Builds lock only their key: an
    * `init` may run a stream whose batches register state here. */
  def once(spark: SparkSession, key: String, prefix: String)(
      init: String => Unit): String =
    synchronized(building.getOrElseUpdate(key, new AnyRef)).synchronized {
      synchronized(built.get(key)).getOrElse {
        val d = mkdir(spark, prefix)
        try init(d._1.toString) catch { case e: Throwable => rm(d); throw e }
        synchronized(built(key) = d)
        d
      }._1.toString
    }

  /** The directory built [[once]] under `key`, if any (None proves a
    * branch built nothing). */
  private[graft] def onceDir(key: String): Option[String] =
    synchronized { built.get(key).map(_._1.toString) }

  /** Release every query-scoped entry: unpersist the frames (blocking, so
    * the memory is really back before the next measurement starts), drop
    * the sink views, delete the scratch directories. */
  def releaseAll(): Unit = synchronized {
    frames.foreach(_.unpersist(blocking = true))
    frames.clear()
    views.foreach { case (s, n) => s.catalog.dropTempView(n) }
    views.clear()
    dirs.foreach(rm)
    dirs.clear()
  }

  /** [[releaseAll]], then delete everything built [[once]]: the end of a
    * session's use of the engine. */
  def releaseSession(): Unit = synchronized {
    releaseAll()
    built.values.foreach(rm)
    built.clear()
  }

  private def mkdir(spark: SparkSession, prefix: String): Dir = {
    shutdownHook
    val root = spark.conf.getOption("spark.graft.scratch")
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val p = new Path(root, s"$prefix-${java.util.UUID.randomUUID()}")
    val conf = spark.sparkContext.hadoopConfiguration
    p.getFileSystem(conf).mkdirs(p)
    (p, conf)
  }

  private def rm(d: Dir): Unit = {
    d._1.getFileSystem(d._2).delete(d._1, true); ()
  }
}
