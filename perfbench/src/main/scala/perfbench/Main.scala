package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   perfbench.Main --workload daily_etl --input DIR --work DIR \
  *     --seconds 10 --trace 0 --out result.json
  *
  * Reads only the generated inputs under --input, writes only under
  * --work, and leaves one JSON result file at --out. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(
      workload = args("workload"), input = args("input"), work = args("work"),
      seconds = args("seconds").toDouble, trace = args("trace") == "1",
      cpus = Runtime.getRuntime.availableProcessors)
    val report = new Report
    val workload: Workload = cfg.workload match {
      case "daily_etl" => DailyEtl
      case "serve_reads" => ServeReads
      case w => sys.error(s"unknown workload $w")
    }
    val mainAt = Session.sinceStart
    val spark = Session.build(cfg)
    report.show("jvm_to_main_s", mainAt, "s")
    report.show("session_s", Session.sinceStart - mainAt, "s")
    val tracer = new Tracer(spark, cfg.trace)
    val ops = new Ops(spark)
    try workload.run(spark, cfg, tracer, ops, report)
    finally {
      tracer.close()
      ops.close()
    }
    report.e2e("peak_rss_mb", Session.peakRssMb, "MB")
    report.layer("ops.failed_frac", ops.failed.get.toDouble / math.max(1L, ops.attempted.get), "ratio")
    if (cfg.trace) Layers.complete(report)
    Files.write(Paths.get(args("out")), report.json(ops).getBytes(UTF_8))
    if (cfg.trace)
      Files.write(Paths.get(args("out") + ".spans.json"),
        Layers.spansJson(tracer).getBytes(UTF_8))
    spark.stop()
  }
}

case class Config(workload: String, input: String, work: String,
                  seconds: Double, trace: Boolean, cpus: Int)

trait Workload {
  def run(spark: SparkSession, cfg: Config, tracer: Tracer, ops: Ops,
          report: Report): Unit
}

object Session {
  def build(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.sql.warehouse.dir", Paths.get(cfg.work, "warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", Paths.get(cfg.work, "spark-local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Seconds since this JVM started. */
  def sinceStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

/** Runs timed operations: counts attempts and failures, cancels an
  * operation's Spark jobs when it overruns its timeout, and never records
  * an exception, a timeout or a wrong answer as a time. */
final class Ops(spark: SparkSession) {
  private val timeoutS = 60.0
  val attempted = new AtomicLong
  val failed = new AtomicLong
  @volatile var correct = true
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val ids = new AtomicLong
  private val watchdog: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    }

  /** Time `body`; `check` (untimed) returns an error message for a wrong
    * result. Some(result, seconds) only when the op succeeded. */
  def run[T](name: String)(body: => T)(check: T => Option[String]): Option[(T, Double)] = {
    attempted.incrementAndGet()
    val sc = spark.sparkContext
    val group = s"perfbench-op-${ids.incrementAndGet()}"
    val overran = new AtomicBoolean(false)
    sc.setJobGroup(group, name, interruptOnCancel = true)
    val guard = watchdog.schedule(new Runnable {
      def run(): Unit = { overran.set(true); sc.cancelJobGroup(group) }
    }, (timeoutS * 1000).toLong, TimeUnit.MILLISECONDS)
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    guard.cancel(false)
    sc.clearJobGroup()
    out match {
      case Left(e) =>
        fail(s"$name: ${if (overran.get) "timed out" else e.toString}"); None
      case Right(_) if overran.get || dt > timeoutS =>
        fail(s"$name: timed out after ${dt}s"); None
      case Right(v) =>
        val problem = try check(v) catch { case NonFatal(e) => Some(s"check threw $e") }
        problem match {
          case Some(msg) => correct = false; fail(s"$name: incorrect: $msg"); None
          case None => Some((v, dt))
        }
    }
  }

  /** An untimed check outside any operation failed (set-up or end-of-run
    * verification): it counts as one failed, incorrect operation. */
  def failCheck(msg: String): Unit = {
    attempted.incrementAndGet()
    correct = false
    fail(msg)
  }

  private def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(msg)
    System.err.println(s"[perfbench] $msg")
  }

  def close(): Unit = watchdog.shutdownNow()
}

/** Collected metrics: end-to-end (reported with tracing off), per-layer
  * (reported by the traced run) and the workload-specific figures printed
  * for people. */
final class Report {
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)
  def show(name: String, v: Double, unit: String): Unit = detail(name) = (v, unit)

  /** The shared operation metrics every workload reports, from (kind,
    * seconds) samples. The typical latency is each kind's median,
    * geometric-meaned over the kinds: in a mix whose fastest kind is most
    * of the requests, the pooled median falls in that kind's upper tail
    * and swings with every change in contention, so it is shown but not
    * reported. */
  def operations(samples: Seq[(String, Double)], measuredS: Double, completed: Long): Unit = {
    val medians = samples.groupBy(_._1).values.map(s => Stats.median(s.map(_._2)))
    e2e("op_p50_gmean_ms", math.exp(medians.map(math.log).sum / medians.size) * 1e3, "ms")
    e2e("op_p90_ms", Stats.quantile(samples.map(_._2), 0.90) * 1e3, "ms")
    e2e("ops_per_s", completed / measuredS, "1/s")
    show("op_p50_pooled_ms", Stats.median(samples.map(_._2)) * 1e3, "ms")
    show("op_count", samples.size.toDouble, "count")
  }

  def json(ops: Ops): String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
        .mkString("{", ", ", "}")
    import scala.jdk.CollectionConverters._
    val f = ops.failures.asScala.map(Json.str).mkString("[", ", ", "]")
    s"""{"correct": ${ops.correct && ops.failed.get == 0}, "attempted": ${ops.attempted.get}, """ +
      s""""failed": ${ops.failed.get}, "e2e": ${obj(e2eMetrics)}, "layer": ${obj(layerMetrics)}, """ +
      s""""detail": ${obj(detail)}, "failures": $f}"""
  }
}

object Stats {
  /** Quantile by linear interpolation between the closest ranks, as
    * numpy's default (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      if (lo + 1 >= s.size) s(lo) else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
