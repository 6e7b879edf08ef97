package graft

import graft.operators.Crawler
import graft.plans.SnapshotTable
import graft.sources.CorpusGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * The spark-submit lifecycle (CrawlMain): CLI args → S1 config chain →
 * crawl → status JSON, plus the reference's stop/resume flow via the
 * STOP flag file (templates/app.py:753-805).
 */
class CrawlMainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val nDocs = 400L

  test("args → config chain → crawl → status JSON matches a direct library run") {
    import spark.implicits._
    val dir = Files.createTempDirectory("crawlmain")
    val docsPq = dir.resolve("docs").toString
    CorpusGen.docs(spark, nDocs).write.parquet(docsPq)
    val polPq = dir.resolve("policies").toString
    val policies = CorpusGen.policies(nDocs, 1.0, 25)
    policies.toDS().write.parquet(polPq)
    val seeds = CorpusGen.seeds(nDocs, 3)
    val seedsFile = dir.resolve("seeds.txt")
    Files.write(seedsFile, (seeds :+ "not a url").mkString("\n").getBytes)
    val cfgJson = dir.resolve("cfg.json")
    Files.write(cfgJson,
      """{"max_depth":3,"max_pages_per_domain":25,"crawl_delay":1.0,
         |"max_retries":3,"unknown_key":"ignored"}""".stripMargin.getBytes)
    val rootA = dir.resolve("rootA").toString

    val a = CrawlMain.parse(Array(
      "--docs", docsPq, "--root", rootA, "--config", cfgJson.toString,
      "--seeds", seedsFile.toString, "--policies", polPq))
    assert(a.rounds == Int.MaxValue && !a.statusOnly)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      CrawlMain.run(spark, a)
    }
    val json = out.toString("UTF-8").trim
    assert(json.startsWith("{") && json.endsWith("}"), json)
    assert(json.contains("\"is_running\":false"), json)

    // the CLI path must land EXACTLY where the direct library call does
    val cfg = CrawlConfig(maxDepth = 3, maxPagesPerDomain = 25,
      respectRobots = true, defaultCrawlDelayS = 1.0, maxRetries = 3,
      roundSeconds = 60.0)
    val rootB = dir.resolve("rootB").toString
    val direct = Crawler.run(spark, CorpusGen.docs(spark, nDocs), seeds,
      policies.toDS(), cfg, rootB)
    def sched(root: String) = {
      val snap = new SnapshotTable(root)
      snap.load(spark, "fetches", snap.latestRound.get)
        .orderBy(col("round"), col("seq")).select("round", "url", "status")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    }
    assert(sched(rootA) == sched(rootB))
    assert(direct.rounds > 0)

    // --status-only re-reads the same state without running anything
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2, true, "UTF-8")) {
      CrawlMain.run(spark, CrawlMain.parse(
        Array("--root", rootA, "--status-only")))
    }
    assert(out2.toString("UTF-8").trim == json)
  }

  test("STOP flag file: polled at the round boundary, removed → resume completes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("crawlmain-stop")
    val docsPq = dir.resolve("docs").toString
    CorpusGen.docs(spark, nDocs).write.parquet(docsPq)
    val seedsFile = dir.resolve("seeds.txt")
    Files.write(seedsFile, CorpusGen.seeds(nDocs, 3).mkString("\n").getBytes)
    val root = dir.resolve("root").toString
    val argv = Array("--docs", docsPq, "--root", root,
      "--seeds", seedsFile.toString)
    // first submit: two rounds, then a stop request arrives
    CrawlMain.run(spark, CrawlMain.parse(argv :+ "--rounds" :+ "2"))
    Files.write(java.nio.file.Paths.get(root, "STOP"), Array.empty[Byte])
    CrawlMain.run(spark, CrawlMain.parse(argv)) // STOP present: no new round
    val snap = new SnapshotTable(root)
    assert(snap.latestRound.contains(1), "STOP must prevent any new round")
    assert(Crawler.statusSummary(spark, root).head()
      .getAs[Boolean]("is_running"), "stopped-but-unfinished still running")
    // operator deletes the flag and re-submits: crawl runs to completion
    Files.delete(java.nio.file.Paths.get(root, "STOP"))
    CrawlMain.run(spark, CrawlMain.parse(argv))
    assert(!Crawler.statusSummary(spark, root).head().getAs[Boolean]("is_running"))
  }

  test("parse rejects unknown flags and missing --root") {
    intercept[IllegalArgumentException](CrawlMain.parse(Array("--bogus", "x")))
    intercept[IllegalArgumentException](CrawlMain.parse(Array("--docs", "d")))
    intercept[IllegalArgumentException](
      CrawlMain.parse(Array("--root", "r"))) // --docs required unless status-only
    // a value flag in last place names the flag instead of indexing past argv
    Seq(Array("--root"), Array("--docs", "d", "--root")).foreach { argv =>
      val e = intercept[IllegalArgumentException](CrawlMain.parse(argv))
      assert(e.getMessage.contains("--root"), e.getMessage)
    }
  }
}
