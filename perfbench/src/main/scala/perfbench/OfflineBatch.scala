package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.{OpCaches, SparkEntry}
import Result._

/** `offline_batch`: the job list run back to back into the noop sink over
  * the generated corpus, closed loop, a fixed number of passes. Caches are released between jobs as in `graft.Bench`; the
  * ANN and band indexes are released between passes, so every pass is a
  * full batch job over the corpus. */
object OfflineBatch {
  val Families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("dedup_exact", "dedup_minhash", "dedup_clusters"),
    "vector" -> Seq("sim_knn_ivf", "sim_knn_ivfpq"),
    "quality" -> Seq("pipeline_gopher_rules", "pipeline_quality_classifier"),
    "timeseries" -> Seq("ts_pattern_match"))
  val Jobs: Seq[String] = Families.flatMap(_._2)

  final case class JobRun(pass: Int, id: String, wallS: Double, ok: Boolean,
    traced: Boolean, persistedRdds: Int, persistedBytes: Long,
    plans: Seq[PlanStats])

  private def release(c: Ctx): Unit = {
    OpCaches.releaseAll()
    c.spark.catalog.clearCache()
  }

  private def releaseIndexes(): Unit = {
    graft.ops.Vectors.releaseIndexes()
    graft.ops.Dedup.releaseBandIndexes()
  }

  private def persisted(c: Ctx): (Int, Long) = {
    val infos = c.spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
  }

  /** Passes run before the measured ones and left out of every metric:
    * pass times still fall by about a fifth over the first passes after
    * the output-check pass while the JIT settles. */
  val SettlePasses = 2
  /** `--seconds` fixes the number of measured passes (one per
    * `NominalPassS` seconds; a traced run alternates untraced and traced
    * passes), so the work measured never depends on how fast passes go. */
  val NominalPassS = 15.0
  /** Passes not done within this many times `--seconds` fail the run. */
  val DeadlineFactor = 4.0

  def passes(c: Ctx): Int = {
    val m = math.max(2, math.round(c.seconds / NominalPassS).toInt)
    SettlePasses + (if (c.trace) 2 * m else m)
  }

  def job(c: Ctx, pass: Int, id: String, tr: Option[Trace]): JobRun = {
    val fn = SparkEntry.queries(id)
    def body(t: Option[Trace]): (Int, Long) = {
      def sp[A](n: String)(a: => A): A = t.fold(a)(_.span(n)(a))
      val df: DataFrame = sp("job.build")(fn(c.spark, c.inputs))
      sp("job.run")(df.write.format("noop").mode("overwrite").save())
      persisted(c)
    }
    val t0 = System.nanoTime()
    try {
      val ((rdds, bytes), plans) = tr match {
        case None => (body(None), Seq.empty)
        case Some(t) => t.seqOp(s"p$pass.$id", "job")(body(tr))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      JobRun(pass, id, wall, ok = true, tr.nonEmpty, rdds, bytes, plans)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] job $id failed: $e")
        JobRun(pass, id, (System.nanoTime() - t0) / 1e9, ok = false,
          tr.nonEmpty, 0, 0L, Seq.empty)
    } finally tr.fold(release(c))(_.span("cache.release")(release(c)))
  }

  def run(c: Ctx, res: Result): Unit = {
    val spark = c.spark
    // set-up: nothing to pre-build (jobs read the directory); warm the
    // session, the codegen compiler and the signature kernels
    res.prebuildS = timed {
      Seq("dedup_exact", "pipeline_gopher_rules").foreach(id => job(c, -1, id, None))
      releaseIndexes()
    }._2
    val trace = if (c.trace) Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val cg0 = Trace.codegenMs
    val runs = scala.collection.mutable.ArrayBuffer.empty[JobRun]
    val passS = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val n = passes(c)
    val start = System.nanoTime()
    val end = start + (DeadlineFactor * c.seconds * 1e9).toLong
    var pass = 0
    while (pass < n && System.nanoTime() < end) {
      val tr = trace.filter(_ => pass >= SettlePasses && (pass - SettlePasses) % 2 == 1)
      val (_, s) = timed {
        Jobs.foreach(id => runs += job(c, pass, id, tr))
        releaseIndexes()
      }
      passS += ((s, tr.nonEmpty))
      pass += 1
    }
    val cg1 = Trace.codegenMs
    // set-up and the passes; the output check below is not the workload's
    res.metric("peak_rss_mb", "MB", vmHwmMb())
    // passes the deadline cut off count as failed, job by job
    val missed = (n - pass) * Jobs.size
    if (missed > 0) System.err.println(
      s"[perfbench] deadline: ${n - pass} of $n passes not run within ${DeadlineFactor * c.seconds} s")
    res.attempted = runs.size + missed
    res.failed = runs.count(!_.ok) + missed
    // medians over the untraced measured passes. A pass with a failed job
    // misses every limit.
    val failedPasses = runs.filter(!_.ok).map(_.pass).toSet
    val settled = passS.indices.filter(p => p >= SettlePasses && !passS(p)._2)
    def cost(p: Int, s: Double) = if (failedPasses(p)) Double.PositiveInfinity else s
    res.metric("makespan_s", "s", median(settled.map(p => cost(p, passS(p)._1))))
    Families.foreach { case (fam, ids) =>
      res.metric(s"ops.${fam}_s", "s", median(settled.map { p =>
        cost(p, runs.filter(r => r.pass == p && ids.contains(r.id)).map(_.wallS).sum)
      }))
    }
    val base = runs.filter(r => !r.traced && r.pass >= SettlePasses)
    // a job's latency: submitted -> result written, over every job run of
    // the untraced measured passes; a failed job misses every limit
    val lat = base.map(r => if (r.ok) r.wallS else Double.PositiveInfinity).toSeq ++
      Seq.fill(missed)(Double.PositiveInfinity)
    val tp = tailPct(lat.size)
    res.metric("latency_p50_s", "s", median(lat))
    res.metric("latency_tail_s", "s", pct(lat, tp))
    res.info("tail_percentile") = tp
    res.info("passes") = pass
    res.info("pass_s") = passS.map(_._1).toSeq
    res.info("job_s") = base.groupBy(_.id).map { case (k, rs) => k -> median(rs.map(_.wallS).toSeq) }
    trace.foreach { t =>
      t.stop()
      layerMetrics(c, res, t, runs.toSeq, settled.map(passS(_)._1),
        passS.filter(_._2).map(_._1).toSeq, cg1 - cg0)
      t.write(s"${c.work}/spans_offline_batch.jsonl")
    }
    // the output check, after the measured passes: run.py computes the
    // DuckDB side while the jobs write their results
    writeOracleSql(c, res)
    touch(s"${c.work}/outputs.start")
    writeOutputs(c, res)
    res.check(awaitFile(s"${c.work}/oracle.done", 150000L),
      "offline_batch: the DuckDB oracle did not finish")
  }

  private def layerMetrics(c: Ctx, res: Result, t: Trace, runs: Seq[JobRun],
    untracedS: Seq[Double], tracedS: Seq[Double], codegenMs: Double): Unit = {
    val traced = runs.filter(_.traced)
    val ops = math.max(1, traced.size)
    val plans = traced.flatMap(_.plans)
    res.metric("spark.plan_ms", "ms", plans.map(_.planMs).sum / ops)
    res.metric("spark.exec_ms", "ms", plans.map(_.execMs).sum / ops)
    res.metric("spark.codegen_compile_ms", "ms", codegenMs / math.max(1, runs.size))
    Layers.sparkCounts(res, t.allCounts, ops)
    val scanRows = plans.map(_.scanRows).sum
    res.metric("spark.scan_files", "count", plans.map(_.scanFiles).sum.toDouble / ops)
    res.metric("spark.scan_rows", "count", scanRows.toDouble / ops)
    // the noop sink returns every row of the job's final plan
    val jobSpans = t.spansWhere(s => s.name == "job")
    traced.groupBy(_.id).foreach { case (id, rs) =>
      res.metric(s"job.$id.wall_s", "s", median(rs.map(_.wallS)))
      val mine = jobSpans.filter(_.op.endsWith(s".$id")).map(_.op).toSet
      val cnt = t.countsWhere(s => mine(s.op))
      res.metric(s"job.$id.spark_jobs", "count", cnt.jobs.toDouble / rs.size)
      res.metric(s"job.$id.spark_tasks", "count", cnt.tasks.toDouble / rs.size)
      res.metric(s"job.$id.shuffle_write_bytes", "bytes", cnt.shuffleWrite.toDouble / rs.size)
    }
    res.metric("cache.persisted_rdds", "count", mean(traced.map(_.persistedRdds.toDouble)))
    res.metric("cache.persisted_bytes", "bytes", mean(traced.map(_.persistedBytes.toDouble)))
    res.metric("trace.overhead_ratio", "ratio", median(tracedS) / median(untracedS))
    Layers.selfTimes(res, t, ops, traced.map(_.wallS).sum * 1000)
  }

  /** Each job's result as parquet, for the DuckDB compare in run.py. */
  private def writeOutputs(c: Ctx, res: Result): Unit = {
    Jobs.foreach { id =>
      try SparkEntry.queries(id)(c.spark, c.inputs)
        .write.mode("overwrite").parquet(s"${c.work}/outputs/$id")
      catch {
        case e: Throwable => res.check(false, s"offline_batch: output of $id failed: $e")
      } finally release(c)
    }
    releaseIndexes()
  }

  /** The oracle SQL of every job that has a DuckDB twin. */
  private def writeOracleSql(c: Ctx, res: Result): Unit = {
    val oracle = SparkEntry.oracleSql
    val ids = Jobs.filter(oracle.contains)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(ids.map(id => id -> oracle(id)).toMap.asJava)
    Files.writeString(Paths.get(s"${c.work}/oracle_sql.json"), json)
    res.info("oracle_jobs") = ids.size
  }

  private def touch(path: String): Unit = Files.writeString(Paths.get(path), "")

  private def awaitFile(path: String, timeoutMs: Long): Boolean = {
    val until = System.currentTimeMillis() + timeoutMs
    while (!Files.exists(Paths.get(path)) && System.currentTimeMillis() < until)
      Thread.sleep(20)
    Files.exists(Paths.get(path))
  }
}
