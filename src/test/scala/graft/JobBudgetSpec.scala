package graft

import graft.operators.Crawler
import graft.sources.CorpusGen
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable

/** Spark jobs per committed crawl round, pinned. At crawl-round scale the
 * per-job fixed cost, not the data, sets the wall time, so a job-count
 * regression fails here the way a plan-shape regression fails
 * PlanAuditSpec. The bounds are the engine's counts on this scenario;
 * lower them when a change removes jobs. */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Max jobs of any one round, and jobs of all eight rounds together
   * (the counts repeat exactly from run to run). */
  val MaxJobsPerRound = 50
  val TotalJobs = 298

  test("jobs per committed crawl round stay within the pinned budget") {
    import spark.implicits._
    val nDocs = 400L
    val cfg = CrawlConfig(
      maxDepth = 3, maxPagesPerDomain = 25, respectRobots = true,
      defaultCrawlDelayS = 1.0, maxRetries = 3, roundSeconds = 5.0)
    val counter = new JobCounter(spark.sparkContext)
    // stopRequested is polled once before round 0 and once after every
    // round, so each poll after the first closes one committed round
    val polls = mutable.ArrayBuffer.empty[Int]
    val summary = try {
      counter.fence()
      Crawler.run(spark, CorpusGen.docs(spark, nDocs), CorpusGen.seeds(nDocs, 3),
        CorpusGen.policies(nDocs, cfg.defaultCrawlDelayS, cfg.maxPagesPerDomain).toDS(),
        cfg, Files.createTempDirectory("graft-job-budget").toString, maxRounds = 8,
        stopRequested = () => { polls += counter.fence(); false })
    } finally counter.close()
    val perRound = polls.drop(1).toSeq
    assert(perRound.size == summary.rounds)
    val report = s"jobs per round: ${perRound.mkString(", ")} (total ${perRound.sum})"
    info(report)
    assert(perRound.max <= MaxJobsPerRound, report)
    assert(perRound.sum <= TotalJobs, report)
  }
}
