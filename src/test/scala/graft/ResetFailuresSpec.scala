package graft

import graft.operators.Crawler
import graft.plans.SnapshotTable
import graft.sources.CorpusGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * D4 reset-failures (cli.py:194-231) + the deletable-seen (cuckoo) flow,
 * and the incremental checkpointed seen sketch.
 */
class ResetFailuresSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val nDocs = 400L
  val cfg = CrawlConfig(
    maxDepth = 3, maxPagesPerDomain = 25, respectRobots = true,
    defaultCrawlDelayS = 1.0, maxRetries = 1, roundSeconds = 5.0)

  def runEngine(root: String, c: CrawlConfig = cfg, maxRounds: Int = 10000,
                sketchThreshold: Long = 0L): Crawler.CrawlSummary = {
    import spark.implicits._
    Crawler.run(spark, CorpusGen.docs(spark, nDocs), CorpusGen.seeds(nDocs, 3),
      CorpusGen.policies(nDocs, c.defaultCrawlDelayS, c.maxPagesPerDomain).toDS(),
      c, root, maxRounds, sketchThreshold)
  }

  /** The open failures: fetch_log's terminal errors after the latest
   * reset commit (the latest manifest without round counters). */
  def failedUrls(root: String): Set[String] = {
    val snap = new SnapshotTable(root)
    val last = snap.latestRound.get
    val lastReset = (last to 0 by -1).find(r => !snap.meta(r).contains("dispatched"))
      .getOrElse(-1)
    snap.loadAppended(spark, "fetch_log", last)
      .where(col("round") > lastReset && col("error").isin(
        "http_404", "robots_disallowed", "quarantined_host", "retries_exhausted"))
      .select("url").collect().map(_.getString(0)).toSet
  }

  /** The latest commit's stamps agree with its tables: `frontierSize` is
   * the live frontier's row count, `seenSize` the seen set's, `hostRows`
   * the `hosts` table's, and `nextSeq` (the last seq assigned) is at least
   * every seq in the raw frontier. */
  def assertStampsMatchTables(root: String): Unit = {
    val snap = new SnapshotTable(root)
    val r = snap.latestRound.get
    val m = snap.meta(r)
    def stamp(k: String): Long = m(k).toLong
    val hosts = snap.loadReplaced(spark, "hosts", r)
    val frontier = snap.loadHybrid(spark, "frontier", r)
    val counts = Seq(
      "frontierSize" -> Crawler.liveRows(frontier, hosts).count(),
      "seenSize" -> snap.loadHybrid(spark, "seen", r).count(),
      "hostRows" -> hosts.count())
    counts.foreach { case (k, rows) =>
      assert(stamp(k) == rows, s"round $r: stamp $k is ${stamp(k)}, the table holds $rows rows")
    }
    val maxSeq = frontier.agg(max("seq")).collect()(0)
    assert(maxSeq.isNullAt(0) || maxSeq.getLong(0) <= stamp("nextSeq"),
      s"round $r: nextSeq ${stamp("nextSeq")} is below the frontier's max seq ${maxSeq.get(0)}")
  }

  def statusRows(root: String): Seq[Crawler.RoundStats] =
    Crawler.status(spark, root).collect().map(r => Crawler.RoundStats(r.getInt(0),
      r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
      r.getLong(7))).toSeq

  test("sketch prefilter active from round 0 reproduces the unfiltered schedule") {
    val rootA = Files.createTempDirectory("graft-rf-a").toString
    val rootB = Files.createTempDirectory("graft-rf-b").toString
    runEngine(rootA, sketchThreshold = Long.MaxValue) // plain anti-join
    runEngine(rootB, sketchThreshold = 0L)            // bloom prefilter always on
    val a = new SnapshotTable(rootA); val b = new SnapshotTable(rootB)
    val sa = a.loadAppended(spark, "fetch_log", a.latestRound.get)
      .orderBy("round", "seq").select("round", "url", "status").collect().toSeq
    val sb = b.loadAppended(spark, "fetch_log", b.latestRound.get)
      .orderBy("round", "seq").select("round", "url", "status").collect().toSeq
    assert(sa == sb)
  }

  test("cuckoo sketch reproduces the bloom schedule") {
    val rootA = Files.createTempDirectory("graft-rf-c").toString
    val rootB = Files.createTempDirectory("graft-rf-d").toString
    runEngine(rootA, sketchThreshold = 0L)
    runEngine(rootB, cfg.copy(seenSketch = "cuckoo"), sketchThreshold = 0L)
    val a = new SnapshotTable(rootA); val b = new SnapshotTable(rootB)
    val sa = a.loadAppended(spark, "fetch_log", a.latestRound.get)
      .orderBy("round", "seq").select("round", "url").collect().toSeq
    val sb = b.loadAppended(spark, "fetch_log", b.latestRound.get)
      .orderBy("round", "seq").select("round", "url").collect().toSeq
    assert(sa == sb)
  }

  test("requeue mode: failed URLs re-enter the queue, are re-dispatched, and re-fail") {
    val root = Files.createTempDirectory("graft-rf-rq").toString
    val crawled = runEngine(root)
    assertStampsMatchTables(root)
    val failed0 = failedUrls(root)
    assert(failed0.nonEmpty, "corpus must produce terminal failures")

    val reopened = Crawler.resetFailures(spark, root, cfg)
    assert(reopened == failed0.size)
    assertStampsMatchTables(root)
    // failed table is cleared by the reset commit
    assert(failedUrls(root).isEmpty)

    // the reset commit stamps frontierSize like crawl rounds do, so the
    // /status projection reads ONE consistent source: a drained crawl
    // that was just reset reports running with the reopened URLs queued
    val st = Crawler.statusSummary(spark, root).collect()(0)
    assert(st.getAs[Boolean]("is_running"))
    assert(st.getAs[Long]("frontier_size") == reopened)
    // requeue mode leaves seen untouched — the reset stamp must agree with
    // the actual table
    val snapRq = new SnapshotTable(root)
    assert(st.getAs[Long]("seen_size") ==
      snapRq.loadHybrid(spark, "seen", snapRq.latestRound.get).count())

    val resetRound = new SnapshotTable(root).latestRound.get
    val resumed = runEngine(root) // resume
    // one status row per crawl round, none for the reset commit
    assert(statusRows(root) == crawled.stats ++ resumed.stats)
    val snap = new SnapshotTable(root)
    val last = snap.latestRound.get
    val after = snap.loadAppended(spark, "fetch_log", last)
      .where(col("round") > resetRound)
    // every reopened URL was re-dispatched
    val redispatched = after.select("url").collect().map(_.getString(0)).toSet
    assert(failed0.subsetOf(redispatched))
    // dangling links still dangle; robots-blocked hosts are still blocked:
    // the terminal failures come back
    assert(failedUrls(root) == failed0)
    // idempotent when nothing failed after reset+refail+reset+...
    assert(Crawler.resetFailures(spark, root, cfg) == failed0.size)
    assertStampsMatchTables(root)
  }

  test("forget mode with cuckoo: failed URLs leave seen and are re-admitted organically") {
    // generous caps (re-proposals must not be starved by domain budgets)
    // and a deep depth gate: after the round-3 reset the frontier must
    // still hold depth < maxDepth pages, else nothing expands links and
    // nothing can organically re-propose the forgotten URLs.
    // maxRetries=3 (≥ max flaky_fails) so no host gets QUARANTINED (F9) —
    // a quarantined hot host would stop link expansion and starve the
    // organic re-proposal this test is about.
    val c = cfg.copy(seenSketch = "cuckoo", maxPagesPerDomain = 100,
      maxDepth = 8, maxRetries = 3)
    val root = Files.createTempDirectory("graft-rf-fg").toString
    // stop early so the frontier still has entries when we forget
    runEngine(root, c, maxRounds = 3, sketchThreshold = 0L)
    assertStampsMatchTables(root)
    val snap = new SnapshotTable(root)
    val failed0 = failedUrls(root)
    assert(failed0.nonEmpty, "need terminal failures in the first 3 rounds")
    val seenBefore = snap.loadHybrid(spark, "seen", snap.latestRound.get)
      .collect().map(_.getString(0)).toSet
    assert(failed0.subsetOf(seenBefore))

    val reopened = Crawler.resetFailures(spark, root, c, forget = true)
    assert(reopened == failed0.size)
    assertStampsMatchTables(root)
    val rAfter = snap.latestRound.get
    val seenAfter = snap.loadHybrid(spark, "seen", rAfter)
      .collect().map(_.getString(0)).toSet
    assert(seenAfter == seenBefore -- failed0)
    // the reset commit stamps seenSize like crawl rounds do, so the /status
    // projection reflects the shrunken set immediately (not the stale count
    // from the last crawl round's counters row)
    assert(Crawler.statusSummary(spark, root).collect()(0)
      .getAs[Long]("seen_size") == seenAfter.size)
    // the checkpointed cuckoo sketch no longer claims the forgotten URLs
    // (allowing for rare genuine fingerprint collisions with live keys,
    // which are harmless false positives — the exact seen table re-checks)
    val sk = graft.functions.SeenSketch.deserialize(
      snap.loadBlob("seen_sketch", rAfter).get)
    val stillClaimed = failed0.count(sk.mightContain)
    assert(stillClaimed <= math.max(2, failed0.size / 10),
      s"$stillClaimed of ${failed0.size} forgotten urls still in sketch")

    // deterministic admission-gate check: a synthetic re-proposal of every
    // forgotten URL passes the full gate (sketch prefilter + exact seen
    // anti-join + domain + cap) — the deletable-seen semantics in one step
    val hostCounts = snap.loadReplaced(spark, "hosts", rAfter).select("host", "cnt")
    val seenDf = snap.loadHybrid(spark, "seen", rAfter)
    import spark.implicits._
    val reproposed = failed0.toSeq.sorted.zipWithIndex.toDF("url", "idx")
      .select(col("url"), graft.functions.gf.url_policy_host(col("url")).as("host"),
        lit(2).as("depth"), lit(0).as("retry"),
        lit(0L).as("ord1"), col("idx").as("ord2"))
    val admittedAgain = Crawler.admit(spark, reproposed, seenDf, hostCounts, c,
      Some(sk)).select("url").collect().map(_.getString(0)).toSet
    assert(admittedAgain == failed0,
      s"all forgotten URLs must be re-admittable; missing ${failed0 -- admittedAgain}")

    // organic path: resume the crawl; forgotten URLs get re-proposed by
    // later pages' links and re-crawled
    runEngine(root, c, sketchThreshold = 0L)
    val last = snap.latestRound.get
    val readmitted = snap.loadAppended(spark, "fetch_log", last)
      .where(col("round") > rAfter).select("url")
      .collect().map(_.getString(0)).toSet
    assert(failed0.intersect(readmitted).nonEmpty,
      "at least one forgotten URL should be re-proposed and re-crawled")
  }

  test("sketch saturation triggers a 4x rebuild without losing URLs") {
    // capacity 64 forces saturation almost immediately at 400 docs
    val c = cfg.copy(sketchCapacity = 64L)
    val rootA = Files.createTempDirectory("graft-rf-sat").toString
    val rootB = Files.createTempDirectory("graft-rf-ref").toString
    runEngine(rootA, c, sketchThreshold = 0L)
    runEngine(rootB, sketchThreshold = Long.MaxValue)
    val a = new SnapshotTable(rootA); val b = new SnapshotTable(rootB)
    val sa = a.loadAppended(spark, "fetch_log", a.latestRound.get)
      .orderBy("round", "seq").select("round", "url").collect().toSeq
    val sb = b.loadAppended(spark, "fetch_log", b.latestRound.get)
      .orderBy("round", "seq").select("round", "url").collect().toSeq
    assert(sa == sb)
  }
}
