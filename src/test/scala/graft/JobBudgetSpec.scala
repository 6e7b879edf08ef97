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
  val MaxJobsPerRound = 39
  val TotalJobs = 209

  /** Jobs of a fresh crawl's seed injection: everything `run()` launches
   * before the first `stopRequested` poll. */
  val SeedJobs = 19

  /** Jobs a resume launches before its first round: the fold of the
   * reloaded seen set (the policies are counted by the first round's
   * dispatch, not before it). */
  val ResumeJobs = 1

  /** Jobs of `resetFailures` on the eight-round crawl's state, in requeue
   * mode and in forget mode. */
  val ResetRequeueJobs = 18
  val ResetForgetJobs = 11

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
    val (seedJobs, perRound) = (polls.head, polls.drop(1).toSeq)
    assert(perRound.size == summary.rounds)
    val report = s"seed injection: $seedJobs jobs; " +
      s"jobs per round: ${perRound.mkString(", ")} (total ${perRound.sum})"
    info(report)
    assert(seedJobs <= SeedJobs, report)
    assert(perRound.max <= MaxJobsPerRound, report)
    assert(perRound.sum <= TotalJobs, report)
  }

  test("a resume loads its state from the snapshot without counting tables") {
    import spark.implicits._
    val nDocs = 400L
    val cfg = CrawlConfig(
      maxDepth = 3, maxPagesPerDomain = 25, respectRobots = true,
      defaultCrawlDelayS = 1.0, maxRetries = 3, roundSeconds = 5.0)
    val root = Files.createTempDirectory("graft-job-budget-resume").toString
    def crawl(): Crawler.CrawlSummary =
      Crawler.run(spark, CorpusGen.docs(spark, nDocs), CorpusGen.seeds(nDocs, 3),
        CorpusGen.policies(nDocs, cfg.defaultCrawlDelayS, cfg.maxPagesPerDomain).toDS(),
        cfg, root, maxRounds = 2)
    crawl()
    // every value a round reads is a manifest stamp or a lazily read
    // table, so a run() with no round left to run launches only the
    // seen fold
    val (summary, jobs) = JobCounter.count(spark.sparkContext)(crawl())
    assert(summary.rounds == 2 && summary.stats.isEmpty)
    info(s"jobs before the first round of a resume: $jobs")
    assert(jobs <= ResumeJobs, s"a resume launched $jobs jobs before its first round")
  }

  test("a reset launches a pinned number of jobs in either mode") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val nDocs = 400L
    val cfg = CrawlConfig(
      maxDepth = 3, maxPagesPerDomain = 25, respectRobots = true,
      defaultCrawlDelayS = 1.0, maxRetries = 3, roundSeconds = 5.0)
    val crawled = Files.createTempDirectory("graft-job-budget-reset").resolve("root")
    Crawler.run(spark, CorpusGen.docs(spark, nDocs), CorpusGen.seeds(nDocs, 3),
      CorpusGen.policies(nDocs, cfg.defaultCrawlDelayS, cfg.maxPagesPerDomain).toDS(),
      cfg, crawled.toString, maxRounds = 8)
    // each mode resets its own copy of the same committed state
    def copy(tag: String): String = {
      val root = Files.createTempDirectory(s"graft-job-budget-$tag").resolve("root")
      scala.util.Using.resource(Files.walk(crawled)) { paths =>
        paths.iterator().asScala.foreach(p =>
          Files.copy(p, root.resolve(crawled.relativize(p).toString)))
      }
      root.toString
    }
    val (requeued, requeueJobs) = JobCounter.count(spark.sparkContext)(
      Crawler.resetFailures(spark, copy("requeue"), cfg))
    val (forgotten, forgetJobs) = JobCounter.count(spark.sparkContext)(
      Crawler.resetFailures(spark, copy("forget"), cfg, forget = true))
    assert(requeued > 0 && forgotten >= requeued, s"reopened $requeued and $forgotten urls")
    val report = s"reset jobs: requeue $requeueJobs, forget $forgetJobs"
    info(report)
    assert(requeueJobs <= ResetRequeueJobs, report)
    assert(forgetJobs <= ResetForgetJobs, report)
  }
}
