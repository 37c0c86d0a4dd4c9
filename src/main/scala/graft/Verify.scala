package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (dev iteration)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    new java.io.File(outDir).mkdirs()
    // A query that throws must be a VISIBLE red row, never a silent
    // omission: without the marker files the driver's ledger just shrinks
    // by the crashed ids (round 7 lost 8 entries that way). Each failure
    // writes <name>.error.txt, and the set is summarized in _errors.json.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    Harness.run { spark =>
      SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
          // one retry on Spark's INTERNAL_ERROR wrapper (the rare
          // resetMetrics/null-session race — see Tables.retryInternalOnce):
          // without it a transient internal race would land as a spurious
          // red row in the driver's ledger; a repeat failure is still loud
          try Harness.released(spark)(Tables.retryInternalOnce(s"verify '$name'")(
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")))
          catch { case e: Throwable =>
            val msg = s"${e.getClass.getName}: ${e.getMessage}"
            System.err.println(s"[verify] $name failed: $msg")
            errors(name) = msg
            Files.writeString(Paths.get(s"$outDir/$name.error.txt"), msg + "\n")
          }
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // exit 0 even on per-query failure: the driver must still run its
    // DuckDB compare over the queries that DID dump; the .error.txt /
    // _errors.json markers are the loud signal for the ones that didn't
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed: " +
        errors.keys.mkString(", "))
  }
}
