package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The JVM half of the benchmark: one workload, one process.
  *
  * {{{
  * perfbench.Main --workload <meter_ingest|offline_batch>
  *   --inputs DIR --work DIR --seconds N --trace 0|1 --result FILE
  * }}}
  * `inputs` holds the generated files (the only thing the engine sees);
  * `work` is scratch space for stores, checkpoints and outputs. The result
  * file carries the metrics, the correctness verdict and the set-up time;
  * `perfbench/run.py` turns it into the benchmark's output line. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("work")}/spark-local")
    graft.Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val readyMs = System.currentTimeMillis()
    val ctx = Ctx(spark, a("inputs"), a("work"), a("seconds").toDouble,
      a("trace") == "1")
    val res = new Result
    res.info("session_s") = sessionS
    res.info("session_ready_ms") = readyMs
    try a("workload") match {
      case "meter_ingest" => MeterIngest.run(ctx, res)
      case "offline_batch" => OfflineBatch.run(ctx, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.check(false, s"workload aborted: $e")
    }
    res.write(a("result"))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, inputs: String, work: String,
  seconds: Double, trace: Boolean)

/** Metrics, counters and the correctness verdict of one run. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val problems = mutable.Buffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var prebuildS = Double.NaN

  def metric(name: String, unit: String, v: Double): Unit =
    metrics(name) = (v, unit)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { problems += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jval(v: Any): String = v match {
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case s: String => jstr(s)
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(jval).mkString("[", ",", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${jstr(k.toString)}:${jval(x)}" }.mkString("{", ",", "}")
    case other => jstr(other.toString)
  }

  def write(path: String): Unit = {
    val ms = metrics.map { case (k, (v, u)) => s"${jstr(k)}:{\"value\":${num(v)},\"unit\":${jstr(u)}}" }
    val body = s"""{"correct":${problems.isEmpty},"attempted":$attempted,""" +
      s""""failed":$failed,"problems":${jval(problems.toSeq)},""" +
      s""""prebuild_s":${jval(prebuildS)},"info":${jval(info)},""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body + "\n")
  }
}

object Result {
  /** Peak resident set of this process (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Nearest-rank percentile of `xs` (p in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** Median; the mean of the two middle values for an even count (a
    * nearest-rank p50 would report the lower one, biasing short series). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it, but
    * never below p75: below 40 samples that rule would give p75 or less
    * (the median at 20), and below 11 no percentile meets it. p75 of a
    * short series is its nearest rank, so one stray sample cannot set it
    * as it would set the maximum. */
  def tailPct(n: Int): Double =
    math.max(75.0, math.floor(100.0 * (n - 10) / n))

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of every regular file under `dir`. */
  def duBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
