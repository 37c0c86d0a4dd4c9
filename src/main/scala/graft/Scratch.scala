package graft
/** Dev scratch main: time any query at any SF the way [[Bench]] does
  * ([[Harness.time]]: noop sink, per-query release) —
  * `sbt "runMain graft.Scratch <sfDir> <query1,query2,...>"`.
  * Env knobs: SPARK_GRAFT_CPUS (default: every core), SPARK_GRAFT_RUNS
  * (timings per query, default 1, reported individually; 0 only explains),
  * SPARK_GRAFT_EXPLAIN_DIR (write `<query>.txt` with the formatted physical
  * plan there).
  * Not part of the library API. */
object Scratch {
  def main(args: Array[String]): Unit = Harness.run { spark =>
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "1").toInt
    ops.Joins.ensureBucketedTables(spark, dir)
    for (name <- names) {
      val q = SparkEntry.queries(name)
      sys.env.get("SPARK_GRAFT_EXPLAIN_DIR").foreach { d =>
        val txt = Harness.released(spark)(q(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"$name.txt"), txt)
      }
      val ts = (1 to runs).map(_ => Harness.time(spark, dir, name, q))
      println(f"$name%-28s ${ts.map(t => f"$t%7.2f").mkString(" ")} s")
    }
  }
}
