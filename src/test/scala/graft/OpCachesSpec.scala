package graft

import java.nio.file.Files

/** [[OpCaches]] owns everything a query leaves behind: every directory an
  * op creates sits under the scratch root, and release empties it; a
  * stream op's memory-sink view is dropped at release. */
class OpCachesSpec extends SparkTestBase {

  /** One scratch-making op per family → the directory prefix it creates. */
  private val families = Seq(
    "store_upsert_roundtrip" -> "measurements",
    "stream_time_bucket" -> "merge_sink",
    "scan_csv_pulses" -> "pulses",
    "scan_jsonl_corpus" -> "graft-jsonl",
    "influxql_into" -> "influxql_into",
    "influxql_show_shards" -> "show_shards",
    "pipeline_shard_manifest" -> "graft_shards",
    "ts_staleness_alert" -> "alerts",
    "sim_index_build" -> "ivf_index",
    "dedup_index_build" -> "band_index")

  test("every op family writes under spark.graft.scratch, and the query " +
    "and session releases leave the root empty") {
    val root = Files.createTempDirectory("graft_scratch_spec").toFile
    // session-scoped builds from earlier suites live under the old root
    OpCaches.releaseSession()
    spark.conf.set("spark.graft.scratch", root.getPath)
    try {
      families.foreach { case (id, _) =>
        SparkEntry.queries(id)(spark, sf).collect()
      }
      val made = root.list().map(_.replaceAll("-[0-9a-f-]{36}$", "")).toSet
      assert(families.map(_._2).toSet.subsetOf(made),
        s"ops wrote outside the scratch root; under it: ${made.mkString(", ")}")
      OpCaches.releaseAll()
      OpCaches.releaseSession()
      assert(root.list().isEmpty,
        s"release left behind: ${root.list().mkString(", ")}")
    } finally {
      spark.conf.unset("spark.graft.scratch")
      OpCaches.releaseSession()
      root.delete()
    }
  }

  test("a stream op's memory-sink view is dropped at release") {
    def sinks = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_sink_"))
    streaming.StreamingOps.streamDedup(spark, sf).collect()
    assert(sinks.nonEmpty)
    OpCaches.releaseAll()
    assert(sinks.isEmpty, sinks.mkString(", "))
  }
}
