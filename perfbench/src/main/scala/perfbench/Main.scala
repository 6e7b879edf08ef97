package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One metric value as printed: a number and its unit. */
final case class M(value: Double, unit: String)

/** What a workload hands back to [[Main]]. `endToEnd` is filled on every
 * run; `perLayer` only on traced runs. */
final case class Outcome(attempted: Long, failed: Long, checks: Map[String, String],
                         endToEnd: Map[String, M], perLayer: Map[String, M])

/** Run settings shared by every workload. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     tracer: Option[Tracer], work: Path, smoke: Boolean) {
  def sc = spark.sparkContext

  /** Path under the run's work dir, emptied of anything a previous use left. */
  def dir(name: String): String = {
    val p = work.resolve(name)
    Proc.deleteTree(p)
    p.toString
  }

  /** Progress note on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")

  /** Runs `body` under harness span `name` (job attribution fallback). */
  def span[A](name: String)(body: => A): A = Tracer.span(sc, name)(body)

  /** Jobs and stage shapes seen by the tracer since the previous call,
   * after the listener bus has delivered every event posted so far. */
  def drainTrace(): (Seq[JobRec], Seq[StageShape]) = tracer match {
    case Some(t) =>
      org.apache.spark.perfbench.BusShim.flush(sc)
      t.drain()
    case None => (Nil, Nil)
  }
}

/** Process-level measurements of this JVM. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** High-water resident set size of this process, MB (Linux procfs). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** (files, bytes) of the regular files under `p`. */
  def du(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
    finally s.close()
  }

  def timedS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/**
 * Entry point of the benchmark's JVM (started by `perfbench/run.py`).
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --work <dir> [--smoke]
 *
 * Prints one JSON object as the last line of stdout:
 * `{"workload", "seed", "correct", "attempted", "failed", "checks", "metrics"}`.
 * `metrics` holds the end-to-end metrics, plus the per-layer ones on a
 * traced run. Spark logs go to stderr.
 */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "crawl_steady" -> CrawlSteady.run,
    "sched_bulk" -> SchedBulk.run)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val smoke = args.contains("--smoke")
    val workload = opts.getOrElse("--workload", sys.error("--workload is required"))
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = opts.getOrElse("--seed", "1").toLong
    val seconds = opts.getOrElse("--seconds", "10").toDouble
    val trace = opts.getOrElse("--trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("--work", sys.error("--work is required"))).toAbsolutePath
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

    val out = try body(Ctx(spark, seed, seconds, tracer, work, smoke))
    finally spark.stop()

    val metrics = (out.endToEnd + ("peak_rss_mb" -> M(Proc.peakRssMb(), "MB"))) ++
      (if (trace) out.perLayer else Map.empty)
    println(json(Map(
      "workload" -> workload, "seed" -> seed, "correct" -> (out.failed == 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "checks" -> out.checks,
      "metrics" -> metrics.map { case (k, m) =>
        k -> Map("value" -> m.value, "unit" -> m.unit) })))
  }

  def json(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
        .map { case (k, x) => s"${json(k)}: ${json(x)}" }.mkString("{", ", ", "}")
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case other => json(other.toString)
  }
}
