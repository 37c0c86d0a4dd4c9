package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` groups the spans of one round or
  * job (null for a span between ops, such as the cache release after a
  * job); `parent` is the span that was open on the calling thread (0 for
  * the op's root). */
final case class Span(id: Long, parent: Long, name: String, op: String,
  start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder plus the listeners the traced run registers.
  *
  * Spans are kept in memory and written out when the run ends. A span sets
  * the Spark local property `perfbench.span` for its duration, so every
  * job it causes carries the span id (threads Spark starts inherit local
  * properties, which includes a streaming query's micro-batch thread);
  * the [[SparkListener]] keys its counts by that id. Untraced operations
  * record nothing and leave no property, so their events count nowhere. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val cur = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val curOp = new ThreadLocal[String]
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Counts keyed by span id, filled from listener events. */
  final class Counts {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill
    }
  }
  private val counts = mutable.HashMap.empty[Long, Counts]
  /** Jobs that started inside a sequential traced op without a span id:
    * work the spans failed to attribute. */
  private var unattributedJobs = 0L
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private def countsOf(span: Long): Counts =
    counts.getOrElseUpdate(span, new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = Option(e.properties).flatMap(ps =>
        Option(ps.getProperty(Trace.Prop)))
      p match {
        case Some(s) =>
          val span = s.toLong
          countsOf(span).jobs += 1
          e.stageIds.foreach(stageSpan(_) = span)
        case None => if (collecting) unattributedJobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(countsOf(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val c = countsOf(span)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Streaming progress reported while a sequential traced op was open. */
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (collecting) progress.add(e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Scan and write metrics of every query that finished while a
    * sequential traced op was open (ingest rounds, offline jobs). */
  @volatile private var collecting = false
  val plans = new ConcurrentLinkedQueue[PlanStats]()
  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      if (collecting) plans.add(PlanStats.of(qe.executedPlan).copy(
        planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble,
        execMs = ns / 1e6))
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** One op (round, job) under a root span on this thread, with its
    * query-plan metrics and streaming progress collected too; events of
    * earlier ops are drained first. */
  def seqOp[A](opId: String, name: String)(body: => A): (A, Seq[PlanStats]) = {
    drain(); plans.clear(); progress.clear(); collecting = true
    curOp.set(opId)
    val a = try span(name)(body) finally { curOp.remove(); drain(); collecting = false }
    val ps = plans.asScala.toSeq
    plans.clear()
    (a, ps)
  }

  def span[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent: Long = cur.get()
    val prevProp = sc.getLocalProperty(Trace.Prop)
    cur.set(id)
    sc.setLocalProperty(Trace.Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, name, curOp.get, t0, System.nanoTime()))
      cur.set(parent)
      sc.setLocalProperty(Trace.Prop, prevProp)
    }
  }

  /** Self time per span name over the spans that pass `f`: duration minus
    * the part its children cover (children nest on one thread, so they
    * never overlap each other). */
  def selfMs(f: Span => Boolean): Map[String, Double] = {
    val all = spans.asScala.toSeq.filter(f)
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Listener counts summed over the spans whose name passes `f`. */
  def countsWhere(f: Span => Boolean): Counts = synchronized {
    val out = new Counts
    spans.asScala.filter(f).foreach(s => counts.get(s.id).foreach(out.add))
    out
  }

  def allCounts: Counts = countsWhere(_ => true)

  /** Count reconciliation: share of the jobs started inside sequential
    * traced ops that the listener attributed to a span. */
  def jobsAttributed: Double = synchronized {
    val n = allCounts.jobs
    if (n + unattributedJobs == 0) 1.0 else n.toDouble / (n + unattributedJobs)
  }

  def spansWhere(f: Span => Boolean): Seq[Span] = spans.asScala.filter(f).toSeq

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      val op = Option(s.op).fold("null")(o => s""""$o"""")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""op":$op,"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Trace {
  val Prop = "perfbench.span"

  /** Total codegen compile time so far, in ms. The histogram's reservoir
    * keeps every sample up to its size, so the sum of its values is exact
    * until then and a mean-times-count estimate after. */
  def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    if (h.getCount <= snap.size) snap.getValues.sum.toDouble else snap.getMean * h.getCount
  }
}

/** File-scan and write metrics of one executed plan; for plans reported
  * by the query-execution listener also its planning-phase time
  * (analysis + optimization + physical planning) and execution time. */
final case class PlanStats(scanFiles: Long, scanRows: Long,
  writtenBytes: Long, writtenRows: Long, planMs: Double = 0, execMs: Double = 0)

object PlanStats extends AdaptiveSparkPlanHelper {
  private def m(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  def of(plan: SparkPlan): PlanStats = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    val writes = collect(plan) { case w: DataWritingCommandExec => w }
    PlanStats(scans.map(m(_, "numFiles")).sum,
      scans.map(m(_, "numOutputRows")).sum,
      writes.map(w => w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)).sum,
      writes.map(w => w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }

  def ofFrame(df: DataFrame): PlanStats = of(df.queryExecution.executedPlan)
}
