package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metric helpers shared by the workloads. Layers are named
  * after the engine's modules; a span's name says which layer it wraps. */
object Layers {
  val Names: Seq[String] = Seq("harness", "influxql", "spark_plan",
    "spark_exec", "store", "ingest", "streaming", "ops", "cache")

  def of(span: String): String = span match {
    case "influxql.parse" | "influxql.translate" => "influxql"
    case "spark.plan" => "spark_plan"
    case "spark.exec" | "job.run" => "spark_exec"
    case s if s.startsWith("store.") => "store"
    case s if s.startsWith("ingest.") => "ingest"
    case s if s.startsWith("streaming.") => "streaming"
    case "job.build" => "ops"
    case "cache.release" => "cache"
    case _ => "harness"
  }

  /** `self_ms.<layer>`: self time per op, every layer (0 where unused).
    * The spans are reconciled with a clock they do not share: `wallMs` is
    * the traced ops' wall time, timed by the workload outside the trace.
    * `trace.self_coverage` is the share of it the layer (non-harness) spans
    * inside those ops account for; `trace.unattributed_ms` is the rest per
    * op: harness glue, listener drains, and any layer call left without a
    * span. */
  def selfTimes(res: Result, t: Trace, ops: Int, wallMs: Double): Unit = {
    def byLayer(f: Span => Boolean): Map[String, Double] =
      t.selfMs(f).groupBy { case (n, _) => of(n) }.map { case (l, m) => l -> m.values.sum }
    val all = byLayer(_ => true)
    Names.foreach(l => res.metric(s"self_ms.$l", "ms", all.getOrElse(l, 0.0) / ops))
    val layered = byLayer(_.op != null).collect { case (l, ms) if l != "harness" => ms }.sum
    res.metric("trace.self_coverage", "ratio", layered / wallMs)
    res.metric("trace.unattributed_ms", "ms", (wallMs - layered) / ops)
    res.metric("trace.jobs_attributed", "ratio", t.jobsAttributed)
  }

  /** Listener counts per op. */
  def sparkCounts(res: Result, c: Trace#Counts, ops: Int): Unit = {
    val n = math.max(1, ops).toDouble
    res.metric("spark.jobs", "count", c.jobs / n)
    res.metric("spark.stages", "count", c.stages / n)
    res.metric("spark.tasks", "count", c.tasks / n)
    res.metric("spark.executor_run_ms", "ms", c.runMs / n)
    res.metric("spark.executor_cpu_ms", "ms", c.cpuNs / 1e6 / n)
    res.metric("spark.gc_ms", "ms", c.gcMs / n)
    res.metric("spark.shuffle_read_bytes", "bytes", c.shuffleRead / n)
    res.metric("spark.shuffle_write_bytes", "bytes", c.shuffleWrite / n)
    res.metric("spark.spill_bytes", "bytes", c.spill / n)
  }

  /** Data files (not markers or checksums) under a directory tree. */
  def countFiles(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter { f =>
        java.nio.file.Files.isRegularFile(f) &&
          p.relativize(f).iterator().asScala.forall { part =>
            val n = part.toString
            !n.startsWith(".") && !n.startsWith("_")
          }
      }.count()
      finally s.close()
    }
  }
}
