package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit, regexp_extract, window}
import graft.influxql.InfluxQL
import graft.ingest.CsvIngest
import graft.store.MeasurementStore
import graft.streaming.CqRegistry
import Result._

/** `meter_ingest`: closed loop, one datalogger drop per round, as the
  * reference's cron loader. A round parses the drop, upserts RawData
  * (bad rows to the quarantine), drains the downsample CQ from the landing
  * directory into the store, and reads the drop's last minute back
  * through a panel; every `CompactEvery`-th round also compacts and
  * enforces retention. Freshness runs from the landing stamp to the panel
  * showing the drop's last minute. */
object MeterIngest {
  val CompactEvery = 4
  /** Untimed rounds in set-up: round times still fall by about a third
    * over the first four rounds of a fresh JVM while the JIT settles. */
  val WarmRounds = 4
  /** `--seconds` fixes the number of timed rounds (one per `NominalRoundS`
    * seconds), so every run measures the same drops on a store of the same
    * size, however fast the rounds go. */
  val NominalRoundS = 2.5
  /** Rounds not done within this many times `--seconds` fail the run. */
  val DeadlineFactor = 4.0
  /** Row budget for retention: above anything a run holds, so retention
    * does its full scan and drops nothing (RawData is checked exactly). */
  val RowBudget = 50000000L
  val Cq = "CREATE CONTINUOUS QUERY cq_peak ON ciws BEGIN SELECT max(pulses) " +
    "AS peak INTO flow_1m FROM RawData GROUP BY time(1m), siteID END"
  val Keys = Seq("siteID", "time")

  final class Env(val root: String, val store: MeasurementStore,
    val reg: CqRegistry, val stream: DataFrame) {
    def landing = s"$root/landing"
    def quarantine = s"$root/store/.quarantine"
  }

  final case class RoundStats(offered: Long, quarantined: Long,
    freshS: Double, wallS: Double, ok: Boolean, traced: Boolean,
    panelRows: Long, panelScan: PlanStats)

  private def fmt(us: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(us / 1000000L))

  def build(c: Ctx, root: String): Env = {
    val spark = c.spark
    Files.createDirectories(Paths.get(s"$root/landing"))
    val store = new MeasurementStore(spark, s"$root/store")
    store.append("RawData", spark.read.parquet(s"${c.inputs}/history.parquet"))
    val reg = new CqRegistry(spark, s"$root/cq")
    reg.create(Cq)
    val files = spark.readStream.option("wholetext", "true")
      .text(s"$root/landing")
      .select(col("value"), col("_metadata.file_path").as("src_file"))
    val stream = CsvIngest.parsePulseText(files)
      .filter(!col("is_bad")).select("time", "siteID", "pulses")
    new Env(root, store, reg, stream)
  }

  final class Drops(inputs: String) {
    private val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$inputs/ingest.json"))
    val firstUs: Long = java.time.LocalDateTime.parse(
      meta.get("first").asText.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val dropSeconds: Int = meta.get("drop_seconds").asInt
    val count: Int = meta.get("drops").asInt
    val sites: Int = meta.get("sites").size
    def dir(d: Int) = f"$inputs/drops/d$d%04d"
    def csvs(d: Int): Seq[java.nio.file.Path] = {
      val s = Files.list(Paths.get(dir(d)))
      try s.iterator().asScala.filter(_.toString.endsWith(".csv")).toSeq.sortBy(_.toString)
      finally s.close()
    }
    /** Start of the drop's last minute and the drop's end. */
    def lastMinute(d: Int): (Long, Long) = {
      val end = firstUs + (d + 1L) * dropSeconds * 1000000L
      (end - 60000000L, end)
    }
  }

  /** Land the drop atomically (copy beside, rename in); returns the stamp. */
  private def land(env: Env, drops: Drops, d: Int): (Seq[String], Long) = {
    val paths = drops.csvs(d).map { src =>
      val tmp = Paths.get(env.landing, s".${src.getFileName}.tmp")
      val dst = Paths.get(env.landing, src.getFileName.toString)
      Files.copy(src, tmp)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      dst.toString
    }
    (paths, System.nanoTime())
  }

  /** One round. With a trace, each layer call is a span. */
  def round(c: Ctx, env: Env, drops: Drops, d: Int, tr: Option[Trace]): RoundStats = {
    val spark = c.spark
    def sp[A](name: String)(a: => A): A = tr.fold(a)(_.span(name)(a))
    val t0 = System.nanoTime()
    val (paths, landed) = land(env, drops, d)
    val parsed = sp("ingest.parse") {
      val files = spark.read.option("wholetext", "true").text(paths: _*)
        .select(col("value"), col("_metadata.file_path").as("src_file"))
      CsvIngest.parsePulseText(files).cache()
    }
    try {
      // materializes the cached parse: rows offered and quarantined
      val counts = sp("ingest.parse")(parsed.groupBy("is_bad").count().collect())
        .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      // good rows upserted on (siteID, time), last write wins by drop number
      sp("store.upsert") {
        env.store.upsert("RawData",
          parsed.filter(!col("is_bad"))
            .select(col("siteID"), col("dataloggerID"), col("meterID"),
              col("time"), col("pulses"), lit(d.toLong).as("__v")),
          Keys, "__v", dropVersion = true)
      }
      sp("store.quarantine") {
        parsed.filter(col("is_bad"))
          .select(col("src_file"), col("row").as("raw_line"))
          .write.mode(SaveMode.Append).parquet(env.quarantine)
      }
      sp("streaming.drain")(env.reg.runIntoStore("cq_peak", env.stream, env.store))
      val (lastUs, endUs) = drops.lastMinute(d)
      val q = s"SELECT max(peak) AS peak FROM flow_1m WHERE time >= " +
        s"'${fmt(endUs - 600000000L)}' AND time < '${fmt(endUs)}' GROUP BY time(1m), siteID"
      val (panel, panelScan) = sp("store.read") {
        if (tr.nonEmpty) sp("influxql.parse")(InfluxQL.parse(q))
        val df = sp("influxql.translate")(env.store.influxql("flow_1m", q))
        sp("spark.plan")(df.queryExecution.executedPlan)
        (sp("spark.exec")(df.collect()), PlanStats.ofFrame(df))
      }
      val shown = System.nanoTime()
      val lastTs = new java.sql.Timestamp(lastUs / 1000L)
      val sitesShown = panel.count(r =>
        r.getAs[java.sql.Timestamp]("time") == lastTs && !r.isNullAt(r.fieldIndex("peak")))
      if ((d + 1) % CompactEvery == 0) {
        sp("store.compact")(env.store.compact("RawData"))
        sp("store.retention")(env.store.enforceRetention("RawData", RowBudget))
      }
      val ok = sitesShown == drops.sites
      if (!ok) System.err.println(
        s"[perfbench] drop $d: panel shows $sitesShown of ${drops.sites} sites")
      RoundStats(counts.values.sum, counts.getOrElse(true, 0L),
        (shown - landed) / 1e9, (System.nanoTime() - t0) / 1e9, ok, tr.nonEmpty,
        panel.length, panelScan)
    } finally parsed.unpersist()
  }

  def rounds(c: Ctx, drops: Drops): Int =
    math.min(drops.count - WarmRounds, math.max(2, math.round(c.seconds / NominalRoundS).toInt))

  def run(c: Ctx, res: Result): Unit = {
    val spark = c.spark
    val drops = new Drops(c.inputs)
    val ((env, warm), setupS) = timed {
      val e = build(c, s"${c.work}/ingest")
      (e, (0 until WarmRounds).map(d => round(c, e, drops, d, None)))
    }
    res.prebuildS = setupS
    res.check(warm.forall(_.ok), "meter_ingest: a warm-up round's panel missed sites")
    val n = rounds(c, drops)
    val trace = if (c.trace) Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val cg0 = Trace.codegenMs
    val stats = scala.collection.mutable.ArrayBuffer.empty[RoundStats]
    val plans = scala.collection.mutable.ArrayBuffer.empty[PlanStats]
    val progress = scala.collection.mutable.ArrayBuffer.empty[
      Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]
    val start = System.nanoTime()
    val end = start + (DeadlineFactor * c.seconds * 1e9).toLong
    var k = 0
    var failed = 0
    while (k < n && System.nanoTime() < end) {
      val d = WarmRounds + k
      // odd drops traced: the compaction rounds (every 4th) fall among them
      val tr = trace.filter(_ => d % 2 == 1)
      try tr match {
        case None => stats += round(c, env, drops, d, None)
        case Some(t) =>
          val (s, ps) = t.seqOp(s"r$d", "round")(round(c, env, drops, d, tr))
          stats += s
          plans ++= ps
          progress += t.progress.asScala.toSeq
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] round $d failed: $e")
          e.printStackTrace()
          failed += 1
      }
      k += 1
    }
    val wall = (System.nanoTime() - start) / 1e9
    val cg1 = Trace.codegenMs
    // set-up and the rounds; the output checks below are not the workload's
    res.metric("peak_rss_mb", "MB", vmHwmMb())
    // rounds the deadline cut off count as failed: they missed every limit
    val missed = n - k
    if (missed > 0) System.err.println(
      s"[perfbench] deadline: $missed of $n rounds not run within ${DeadlineFactor * c.seconds} s")
    res.attempted = n
    res.failed = failed + missed + stats.count(!_.ok)
    val fresh = stats.map(s => if (s.ok) s.freshS else Double.PositiveInfinity).toSeq ++
      Seq.fill(failed + missed)(Double.PositiveInfinity)
    val tp = tailPct(fresh.size)
    val accepted = stats.map(s => s.offered - s.quarantined).sum
    // a round's latency is its drop's freshness: landed -> queryable
    res.metric("latency_p50_s", "s", median(fresh))
    res.metric("latency_tail_s", "s", pct(fresh, tp))
    // the timed rounds' wall time, compaction and retention included
    res.metric("makespan_s", "s",
      if (failed + missed > 0) Double.PositiveInfinity else stats.map(_.wallS).sum)
    res.info("points_per_s") = accepted / stats.map(_.wallS).sum
    val stored = env.store.read("RawData").count()
    // good rows offered (history included) minus distinct points stored:
    // the re-sent points the upsert collapsed
    val offeredGood = spark.read.parquet(s"${c.inputs}/history.parquet").count() +
      (warm ++ stats).map(s => s.offered - s.quarantined).sum
    val collapsed = (offeredGood - stored).toDouble / (warm.size + stats.size)
    res.info("resent_collapsed_per_round") = collapsed
    res.metric("store.bytes_per_point", "bytes",
      duBytes(s"${env.root}/store").toDouble / stored)
    res.info("rounds") = k
    res.info("tail_percentile") = tp
    res.info("round_s") = stats.map(_.wallS).toSeq
    res.info("fresh_s") = stats.map(_.freshS).toSeq
    res.info("wall_s") = wall
    trace.foreach { t =>
      t.stop()
      layerMetrics(c, res, t, env, stats.toSeq, plans.toSeq, progress.toSeq,
        cg1 - cg0, collapsed)
      t.write(s"${c.work}/spans_meter_ingest.jsonl")
    }
    checkOutputs(c, res, env, drops, WarmRounds + k - 1)
  }

  private def layerMetrics(c: Ctx, res: Result, t: Trace, env: Env,
    stats: Seq[RoundStats], all: Seq[PlanStats],
    progress: Seq[Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]],
    codegenMs: Double, collapsed: Double): Unit = {
    val traced = stats.filter(_.traced)
    val ops = math.max(1, traced.size)
    val spans = t.spansWhere(_ => true)
    def perOp(name: String): Double = spans.filter(_.name == name).map(_.ms).sum / ops
    def perCall(name: String): Double = mean(spans.filter(_.name == name).map(_.ms))
    res.metric("influxql.parse_ms", "ms", perCall("influxql.parse"))
    res.metric("influxql.translate_ms", "ms", perCall("influxql.translate"))
    res.metric("spark.codegen_compile_ms", "ms", codegenMs / math.max(1, stats.size))
    Layers.sparkCounts(res, t.allCounts, ops)
    res.metric("store.upsert_ms", "ms", perOp("store.upsert"))
    res.metric("store.compact_ms", "ms", perCall("store.compact"))
    res.metric("store.retention_ms", "ms", perCall("store.retention"))
    res.metric("store.read_ms", "ms", perOp("store.read"))
    val rawFiles = Layers.countFiles(s"${env.root}/store/RawData")
    val rawDays = Files.list(Paths.get(s"${env.root}/store/RawData")).iterator().asScala
      .count(_.getFileName.toString.startsWith("day="))
    res.metric("store.files_per_day", "count", rawFiles.toDouble / math.max(1, rawDays))
    // `all`: every query of the traced rounds; their writes are the
    // upserts, the quarantine appends and the CQ merges
    res.metric("spark.scan_files", "count", all.map(_.scanFiles).sum.toDouble / ops)
    res.metric("spark.scan_rows", "count", all.map(_.scanRows).sum.toDouble / ops)
    res.metric("spark.plan_ms", "ms", all.map(_.planMs).sum / ops)
    res.metric("spark.exec_ms", "ms", all.map(_.execMs).sum / ops)
    val offered = traced.map(_.offered).sum
    val good = traced.map(s => s.offered - s.quarantined).sum
    val writes = all.filter(_.writtenRows > 0)
    res.metric("store.bytes_written_per_point", "bytes",
      writes.map(_.writtenBytes).sum.toDouble / math.max(1L, good))
    res.metric("store.rows_rewritten_per_row_upserted", "ratio",
      writes.map(_.writtenRows).sum.toDouble / math.max(1L, good))
    // the panel read: files it scanned of the files the CQ target holds
    val flowFiles = math.max(1L, Layers.countFiles(s"${env.root}/store/flow_1m"))
    res.metric("store.files_scanned_ratio", "ratio",
      mean(traced.map(_.panelScan.scanFiles.toDouble / flowFiles)))
    res.metric("spark.rows_scanned_per_row_returned", "ratio",
      traced.map(_.panelScan.scanRows).sum.toDouble / math.max(1L, traced.map(_.panelRows).sum))
    res.metric("ingest.parse_ms", "ms", perOp("ingest.parse"))
    res.metric("ingest.rows_offered", "count", offered.toDouble / ops)
    res.metric("ingest.rows_quarantined", "count", traced.map(_.quarantined).sum.toDouble / ops)
    res.metric("ingest.rows_resent_collapsed", "count", collapsed)
    res.metric("streaming.drain_ms", "ms", perOp("streaming.drain"))
    val ps = progress.flatten
    def dur(k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / ops
    res.metric("streaming.batches_per_drain", "count", ps.size.toDouble / ops)
    res.metric("streaming.add_batch_ms", "ms", dur("addBatch"))
    res.metric("streaming.query_planning_ms", "ms", dur("queryPlanning"))
    res.metric("streaming.wal_commit_ms", "ms", dur("walCommit"))
    res.metric("streaming.commit_offsets_ms", "ms", dur("commitOffsets"))
    res.metric("streaming.latest_offset_ms", "ms", dur("latestOffset"))
    res.metric("streaming.get_batch_ms", "ms", dur("getBatch"))
    val lastState = progress.flatMap(_.lastOption)
    res.metric("streaming.state_rows", "count",
      mean(lastState.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble)))
    res.metric("streaming.state_bytes", "bytes",
      mean(lastState.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble)))
    // freshness excludes the compaction that only some rounds run
    val base = stats.filter(s => !s.traced && s.ok).map(_.freshS)
    res.metric("trace.overhead_ratio", "ratio",
      median(traced.filter(_.ok).map(_.freshS)) / median(base))
    Layers.selfTimes(res, t, ops, traced.map(_.wallS).sum * 1000)
  }

  /** `last`: the last drop landed; drops 0..last are in the store. */
  private def checkOutputs(c: Ctx, res: Result, env: Env, drops: Drops, last: Int): Unit = {
    val spark = c.spark
    val landed = 0 to last
    val expectedGood = (spark.read.parquet(s"${c.inputs}/history.parquet")
      .select("siteID", "dataloggerID", "time", "pulses") +:
      landed.map(d => spark.read.parquet(s"${drops.dir(d)}/expected_good.parquet")))
      .reduce(_ unionByName _).distinct()
    val raw = env.store.read("RawData").select("siteID", "dataloggerID", "time", "pulses")
    val nRaw = raw.count()
    val nKeys = raw.select(Keys.map(col): _*).distinct().count()
    res.check(nRaw == nKeys, s"meter_ingest: RawData holds $nRaw rows for $nKeys keys")
    val missing = expectedGood.exceptAll(raw).count()
    val extra = raw.exceptAll(expectedGood).count()
    res.check(missing == 0 && extra == 0,
      s"meter_ingest: RawData differs from the distinct good points " +
        s"($missing missing, $extra extra)")
    val expectedBad = landed.map(d =>
      spark.read.parquet(s"${drops.dir(d)}/expected_bad.parquet"))
      .reduce(_ unionByName _)
    val bad = spark.read.parquet(env.quarantine)
      .select(regexp_extract(col("src_file"), "([^/]+)$", 1).as("file"), col("raw_line"))
    val qMissing = expectedBad.exceptAll(bad).count()
    val qExtra = bad.exceptAll(expectedBad).count()
    res.check(qMissing == 0 && qExtra == 0,
      s"meter_ingest: quarantine differs from the injected bad rows " +
        s"($qMissing missing, $qExtra extra)")
    val firstTs = new java.sql.Timestamp(drops.firstUs / 1000L)
    val batch = raw.filter(col("time") >= lit(firstTs))
      .groupBy(window(col("time"), "1 minute").getField("start").as("time"), col("siteID"))
      .agg(org.apache.spark.sql.functions.max("pulses").as("peak"))
    val cq = env.store.read("flow_1m").select("time", "siteID", "peak")
    val cMissing = batch.exceptAll(cq).count()
    val cExtra = cq.exceptAll(batch).count()
    res.check(cMissing == 0 && cExtra == 0,
      s"meter_ingest: CQ target differs from the batch recomputation " +
        s"($cMissing missing, $cExtra extra)")
    res.info("rawdata_rows") = nRaw
  }
}
