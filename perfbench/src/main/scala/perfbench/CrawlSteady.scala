package perfbench

import graft.{CrawlConfig, Doc, HostPolicy}
import graft.functions.gf
import graft.operators.Crawler
import graft.oracle.CrawlOracle
import graft.sources.CorpusGen
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Paths
import scala.collection.mutable

/** A crawl over a stored [[CorpusGen]] corpus and the oracle's account of it. */
final case class CrawlInput(nDocs: Long, cfg: CrawlConfig, seeds: Seq[String],
                            policies: Seq[HostPolicy], docsMap: Map[String, Doc]) {
  /** The oracle's crawl stopped after `maxRounds` rounds. */
  def oracleAt(maxRounds: Int): CrawlOracle#Result =
    new CrawlOracle(docsMap, policies.map(p => p.host -> p).toMap, cfg).run(seeds, maxRounds)

  /** (round, dispatched, completed, failed) of an oracle crawl, with the
   * engine's definition of failed: terminal statuses plus timeouts past
   * maxRetries. */
  def perRound(or: CrawlOracle#Result): Seq[(Int, Long, Long, Long)] = {
    val timeouts = mutable.Map.empty[String, Int].withDefaultValue(0)
    or.schedule.groupBy(_.round).toSeq.sortBy(_._1).map { case (r, rows) =>
      var completed, failed = 0L
      rows.sortBy(_.slot).foreach { l =>
        l.status match {
          case "ok" | "ok_non_html" => completed += 1
          case "failed" | "skipped_robots" | "quarantined" => failed += 1
          case "timeout" =>
            if (timeouts(l.url) + 1 > cfg.maxRetries) failed += 1
            timeouts(l.url) += 1
          case _ =>
        }
      }
      (r, rows.size.toLong, completed, failed)
    }
  }
}

object CrawlInput {
  /** Per-host politeness budgets (600 pages a round; 10 on the slow hosts)
   * shape every round, robots-disallowed hosts fail their pages, and flaky
   * docs exercise the retry ladder. */
  val Cfg = CrawlConfig(maxDepth = 12, maxPagesPerDomain = 10000000,
    respectRobots = true, defaultCrawlDelayS = 0.5, roundSeconds = 300.0)

  /** The seed picks `nSeeds` seed pages among HTML docs with at least three
   * outlinks on ordinary hosts, so every seed gives a crawl of the same shape. */
  def apply(nDocs: Long, seed: Long, nSeeds: Int): CrawlInput = {
    val policies = CorpusGen.policies(nDocs, Cfg.defaultCrawlDelayS, Cfg.maxPagesPerDomain)
    val ordinary = policies.filter(p => p.allow && p.crawl_delay_s == Cfg.defaultCrawlDelayS)
      .map(_.host).toSet
    val picked = mutable.LinkedHashSet.empty[Long]
    var k = 0L
    while (picked.size < nSeeds) {
      val i = (CorpusGen.mix(seed, 0x5EED0000L + k) & Long.MaxValue) % nDocs
      val d = CorpusGen.docOf(i, nDocs)
      if (d.spans.count(_.kind == "link") >= 3 &&
          ordinary(CorpusGen.hostName(CorpusGen.hostOf(i, nDocs)))) picked += i
      k += 1
    }
    val docsMap = (0L until nDocs).map(i => CorpusGen.docOf(i, nDocs)).map(d => d.doc_id -> d).toMap
    CrawlInput(nDocs, Cfg, picked.toSeq.map(CorpusGen.urlOf(_, nDocs)), policies, docsMap)
  }

  /** Writes the corpus as parquet (the engine's fetch join reads a stored
   * table, not a generator) and returns it read back. */
  def store(spark: SparkSession, nDocs: Long, dir: String): Dataset[Doc] = {
    import spark.implicits._
    CorpusGen.docs(spark, nDocs).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).as[Doc]
  }
}

/**
 * crawl_steady: warm multi-round `Crawler.run` over a stored corpus. An epoch
 * crawls `Rounds - 1` rounds from a fresh root, then resumes the committed
 * root for one more round. Round 0 of the first epoch is set-up (warm-up);
 * each epoch's window is its rounds 1.. and the resume round, and epochs
 * repeat until the windows fill the run's seconds. One operation is one
 * warm round; one item is one page dispatched in a window. A traced run
 * then exercises the status and search API on the last epoch's root (see
 * [[Reads]]).
 *
 * Checks: per round, dispatched/completed/failed equal the oracle's; the
 * seen size after the resume round equals the oracle's; on a traced run,
 * every read answer matches the oracle.
 */
object CrawlSteady {
  /** Rounds per epoch. Each round costs seconds of fixed per-round work, so an
   * epoch stops short of draining the frontier; the resume round is its last. */
  val Rounds = 5
  private val Methods = Seq("run", "admit", "assign_seq", "dispatch", "fold_seen", "sketch", "commit")

  def run(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val nDocs = if (ctx.smoke) 600L else 4000L
    val in = CrawlInput(nDocs, ctx.seed, nSeeds = (nDocs / 20).toInt)
    val or = in.oracleAt(Rounds)
    val want = in.perRound(or)
    val wantSeen = or.seen.size
    val policies = in.policies.toDS()
    ctx.log("oracle done")

    // set-up: store the corpus (median of three passes is taken), then the
    // first epoch's seeding and round 0, which carry the JIT and codegen
    // warm-up; setup_s is their sum
    var docs: Dataset[Doc] = null
    val stores = (1 to 3).map(_ => Proc.timedS {
      docs = CrawlInput.store(spark, nDocs, ctx.dir("corpus"))
      docs.count()
    }._2)
    var round0S = 0.0

    // the timed window of an epoch runs from the end of its round 0 to the
    // end of its resume round; epochs repeat until the windows fill the
    // run's seconds
    final case class Poll(nanos: Long, millis: Long, cpuNs: Long, gcMs: Long)
    def poll() = Poll(System.nanoTime(), System.currentTimeMillis(), Proc.cpuNs(), Proc.gcMs())
    val roundMs = mutable.ArrayBuffer.empty[Double]
    val resumeS = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.ArrayBuffer.empty[(Poll, Poll)]
    var attempted, failed, pages, completed, files, bytes, epochs = 0L
    var root = ""
    val checks = mutable.LinkedHashMap.empty[String, String]
    def windowS = windows.map { case (a, b) => (b.nanos - a.nanos) / 1e9 }.sum
    while (epochs == 0 || (windows.nonEmpty && windowS < ctx.seconds)) {
      if (root.nonEmpty) Proc.deleteTree(Paths.get(root))
      root = ctx.dir(s"crawl-$epochs")
      val polls = mutable.ArrayBuffer.empty[Poll]
      val start = System.nanoTime()
      // an epoch that throws fails all its checks and yields no timing
      scala.util.Try {
        val s1 = Crawler.run(spark, docs, in.seeds, policies, in.cfg, root,
          maxRounds = Rounds - 1, stopRequested = () => { polls += poll(); false })
        val (s2, rs) = Proc.timedS(Crawler.run(spark, docs, in.seeds, policies, in.cfg, root,
          maxRounds = Rounds))
        (s1.stats ++ s2.stats, rs)
      } match {
        case scala.util.Failure(e) =>
          attempted += want.size + 1
          failed += want.size + 1
          checks(s"error_epoch$epochs") = e.toString
        case scala.util.Success((stats, rs)) =>
          val got = stats.map(s => (s.round, s.dispatched, s.completed, s.failed))
          val bad = want.zipAll(got, null, null).count { case (w, g) => w != g }
          val seenOk = stats.lastOption.exists(_.seenSize == wantSeen)
          attempted += want.size + 1
          failed += bad + (if (seenOk) 0 else 1)
          if (bad > 0 || !seenOk) checks(s"mismatch_epoch$epochs") =
            s"engine=${got.mkString(";")} seen=${stats.lastOption.map(_.seenSize)}"
          else {
            windows += polls(1) -> poll()
            resumeS += rs
            if (round0S == 0) round0S = (polls(1).nanos - start) / 1e9
            // round k runs between the loop-guard polls k and k+1
            for (k <- 1 until polls.length - 1)
              roundMs += (polls(k + 1).nanos - polls(k).nanos) / 1e6
            pages += got.drop(1).map(_._2).sum
            completed += got.drop(1).map(_._3).sum
          }
      }
      val (f, b) = Proc.du(Paths.get(root))
      files += f; bytes += b
      epochs += 1
    }
    ctx.log(s"round ms: ${roundMs.map(_.round).mkString(" ")} resume s: ${resumeS.mkString(" ")}")
    checks("oracle_rounds") = want.mkString(" ")
    checks("oracle_seen") = wantSeen.toString
    checks("seeds") = in.seeds.take(8).mkString(" ") + s" ... (${in.seeds.size})"

    val endToEnd = Map(
      "setup_s" -> M(Stats.median(stores) + round0S, "s"),
      "op_p50_ms" -> M(Stats.median(roundMs.toSeq), "ms"),
      "items_per_s" -> M(pages / windowS, "1/s"))

    val perLayer = if (ctx.tracer.isEmpty) Map.empty[String, M] else {
      def inWindow(startMs: Long) =
        windows.exists { case (a, b) => startMs >= a.millis && startMs < b.millis }
      val (allJobs, allShapes) = ctx.drainTrace()
      val jobs = allJobs.filter(j => inWindow(j.start))
      val shapes = allShapes.filter(s => inWindow(s.jobStart))
      val cpuS = windows.map { case (a, b) => (b.cpuNs - a.cpuNs) / 1e9 }.sum
      val gcS = windows.map { case (a, b) => (b.gcMs - a.gcMs) / 1e3 }.sum
      val r = (epochs * (Rounds - 1)).toDouble
      val allRounds = (epochs * Rounds).toDouble
      // the status and search API on the last epoch's committed root
      val reads = new Reads(ctx, in, or, root, Rounds)
      val readMs = mutable.ArrayBuffer.empty[(String, Double)]
      val readT0 = System.nanoTime()
      reads.requests(ctx.seed).foreach { case (op, arg) =>
        attempted += 1
        scala.util.Try(Proc.timedS(reads.answer(op, arg))) match {
          case scala.util.Success((rows, s)) if reads.correct(op, arg, rows) => readMs += op -> s * 1000
          case other =>
            failed += 1
            checks(s"mismatch_${op}_$attempted") = s"$arg -> ${other.map(_._1.mkString(";"))}"
        }
      }
      val readWallS = (System.nanoTime() - readT0) / 1e9
      val (readJobs, _) = ctx.drainTrace()
      val nReads = readMs.size.toDouble
      Layers.byMethod("crawl", jobs, Methods, r) ++ Map(
        "crawl.jobs_per_round" -> M(jobs.size / r, "count"),
        "crawl.tasks_per_round" -> M(jobs.map(_.tasks).sum / r, "count"),
        "crawl.files_per_round" -> M(files / allRounds, "count"),
        "crawl.bytes_written_per_round" -> M(bytes / allRounds, "B"),
        "crawl.driver_gap_s" -> M(Layers.driverGapS(jobs, windowS) / r, "s"),
        "crawl.task_cpu_s" -> M(jobs.map(_.cpuNs).sum / 1e9 / r, "s"),
        "crawl.gc_s" -> M(gcS / r, "s"),
        "crawl.straggler_ratio" -> M(Layers.stragglerRatio(shapes), "ratio"),
        "crawl.attributed_frac" -> M(Layers.attributedFrac(jobs), "ratio"),
        "crawl.fetch_ok_ratio" -> M(completed.toDouble / pages, "ratio"),
        "crawl.resume_round_s" -> M(Stats.median(resumeS.toSeq), "s"),
        "crawl.state_bytes_per_page" -> M(bytes.toDouble / (pages + want.head._2 * epochs), "B"),
        "crawl.round0_s" -> M(round0S, "s"),
        "crawl.cpu_ms_per_page" -> M(cpuS * 1e3 / pages, "ms"),
        "traced.op_p50_ms" -> M(Stats.median(roundMs.toSeq), "ms"),
        "traced.items_per_s" -> M(pages / windowS, "1/s"),
        "read.jobs_per_req" -> M(readJobs.size / nReads, "count"),
        "read.bytes_read_per_req" -> M(readJobs.map(_.inputBytes).sum / nReads, "B"),
        "read.driver_gap_ms_per_req" -> M(Layers.driverGapS(readJobs, readWallS) * 1000 / nReads, "ms"),
        "functions.extract_docs_per_s" -> M(extractDocsPerS(spark, docs), "1/s")) ++
        reads.Ops.map(o => s"read.${o}_ms" ->
          M(Stats.median(readMs.filter(_._1 == o).map(_._2).toSeq), "ms"))
    }
    Outcome(attempted, failed, checks.toMap, endToEnd, perLayer)
  }

  /** Span-extraction kernel rate: every stored doc parsed and its links
   * exploded, median of three passes. */
  private def extractDocsPerS(spark: SparkSession, docs: Dataset[Doc]): Double = {
    val n = docs.count()
    val secs = (1 to 3).map(_ => Proc.timedS {
      docs.select(explode(gf.extract_spans(col("raw"))).as("s"))
        .where(col("s.kind") === "link").count()
    }._2)
    n / Stats.median(secs)
  }
}
