package graft

import graft.operators.Crawler
import graft.sources.{ConfigSource, Seeds}
import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry point — the reference's CLI/endpoint lifecycle
 * (cli.py start/status; templates/app.py:753-805 stop/resume) as one
 * submitable job over the library:
 *
 * {{{
 * spark-submit --class graft.CrawlMain graft.jar \
 *   --docs  <parquet dir of Doc rows>       (required)
 *   --root  <crawl state dir>               (required; resumes if populated)
 *   [--config crawl_config.json]            (S1 chain: JSON -> env -> defaults)
 *   [--seeds seeds.txt]                     (S2; merged after config seed_urls)
 *   [--policies <parquet of HostPolicy>]    (robots/delay table; default none)
 *   [--rounds N]                            (default: run to frontier drain)
 *   [--status-only]                         (print status, run nothing)
 * }}}
 *
 * Graceful stop == the reference's POST /stop_crawl: `touch <root>/STOP`.
 * The flag is polled at each round boundary; the job exits after the last
 * committed round with the frontier intact, `statusSummary` keeps
 * reporting is_running=true, and re-submitting resumes to the exact
 * uninterrupted schedule (resume-equivalence spec, CrawlEngineSpec).
 *
 * Cluster sizing is the caller's: nothing here assumes local mode, and the
 * engine's shuffles are keyed (url / host / seq-range) with no
 * driver-side row loops, so the same submit scales by executor count.
 */
object CrawlMain {

  case class Args(docs: String, root: String, config: Option[String],
                  seeds: Option[String], policies: Option[String],
                  rounds: Int, statusOnly: Boolean)

  private[graft] def parse(argv: Array[String]): Args = {
    var a = Args(null, null, None, None, None, Int.MaxValue, statusOnly = false)
    var i = 0
    // the value of the flag at argv(i); a value flag in last place is a
    // usage error, not an index error
    def value(): String = {
      require(i + 1 < argv.length, s"${argv(i)} needs a value")
      argv(i + 1)
    }
    while (i < argv.length) {
      argv(i) match {
        case "--docs" => a = a.copy(docs = value()); i += 2
        case "--root" => a = a.copy(root = value()); i += 2
        case "--config" => a = a.copy(config = Some(value())); i += 2
        case "--seeds" => a = a.copy(seeds = Some(value())); i += 2
        case "--policies" => a = a.copy(policies = Some(value())); i += 2
        case "--rounds" => a = a.copy(rounds = value().toInt); i += 2
        case "--status-only" => a = a.copy(statusOnly = true); i += 1
        case other => throw new IllegalArgumentException(s"unknown arg: $other")
      }
    }
    require(a.root != null, "--root is required")
    require(a.statusOnly || a.docs != null, "--docs is required")
    a
  }

  /** The testable body: everything main() does, on a caller-owned session. */
  def run(spark: SparkSession, a: Args): Unit = {
    import spark.implicits._
    if (!a.statusOnly) {
      val (cfg, cfgSeeds) = ConfigSource.resolve(a.config)
      val seeds = cfgSeeds ++ a.seeds.map(Seeds.fromFile).getOrElse(Nil)
      val docs = spark.read.parquet(a.docs).as[Doc]
      val policies = a.policies
        .map(p => spark.read.parquet(p).as[HostPolicy])
        .getOrElse(spark.emptyDataset[HostPolicy])
      val stopFlag = java.nio.file.Paths.get(a.root, "STOP")
      val summary = Crawler.run(spark, docs, seeds, policies, cfg, a.root,
        maxRounds = a.rounds,
        stopRequested = () => java.nio.file.Files.exists(stopFlag))
      System.err.println(s"[crawl] ${summary.rounds} round(s) committed")
    }
    // one-line status JSON (the /status projection) for scripts to consume
    val row = Crawler.statusSummary(spark, a.root).head()
    val json = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
      val v = row.get(i)
      val enc = v match {
        case null => "null"
        case b: Boolean => b.toString
        case n: Number => n.toString
        case s => "\"" + s.toString.replace("\"", "\\\"") + "\""
      }
      s""""$f":$enc"""
    }.mkString("{", ",", "}")
    println(json)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .appName("graft-crawl")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try run(spark, a) finally spark.stop()
  }
}
