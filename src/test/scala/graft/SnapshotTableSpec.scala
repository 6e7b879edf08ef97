package graft

import graft.plans.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Commit-log mechanics in isolation (T6/T8 storage layer): carried
 * tables resolve through the manifest to the round that last wrote them,
 * hybrid tables fold replace+append chains, empty appends are absent,
 * and late meta lands in the same atomic manifest. */
class SnapshotTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("carried replaced tables resolve across multi-round chains") {
    import spark.implicits._
    val snap = new SnapshotTable(Files.createTempDirectory("snap-carried").toString)
    val t0 = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    snap.commit(spark, 0, replaced = Map("t" -> t0), appended = Map.empty,
      meta = Map("m" -> "0"))
    // rounds 1..3 carry t unchanged; each manifest must flatten the chain
    (1 to 3).foreach { r =>
      snap.commit(spark, r, replaced = Map.empty, appended = Map.empty,
        meta = Map("m" -> r.toString), carried = Map("t" -> (r - 1)))
      assert(snap.tables(r)("t") == "data/t/r00000", s"round $r chain not flat")
    }
    val got = snap.loadReplaced(spark, "t", 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("a", 1L), ("b", 2L)))
    // round 4 rewrites; round 5 carries the NEW version
    snap.commit(spark, 4, replaced = Map("t" -> Seq(("c", 3L)).toDF("k", "v")),
      appended = Map.empty, meta = Map.empty)
    snap.commit(spark, 5, replaced = Map.empty, appended = Map.empty,
      meta = Map.empty, carried = Map("t" -> 4))
    assert(snap.loadReplaced(spark, "t", 5).collect()
      .map(_.getString(0)).toSeq == Seq("c"))
  }

  test("hybrid chain: replace base + deltas, skipped rounds contribute nothing") {
    import spark.implicits._
    val snap = new SnapshotTable(Files.createTempDirectory("snap-hybrid").toString)
    snap.commit(spark, 0, replaced = Map("h" -> Seq("r0").toDF("x")),
      appended = Map.empty, meta = Map.empty)
    snap.commit(spark, 1, replaced = Map.empty,
      appended = Map("h" -> Seq("r1").toDF("x")), meta = Map.empty)
    snap.commit(spark, 2, replaced = Map.empty, appended = Map.empty,
      meta = Map.empty) // round that never mentions h
    snap.commit(spark, 3, replaced = Map.empty,
      appended = Map("h" -> Seq("r3").toDF("x")), meta = Map.empty)
    assert(snap.loadHybrid(spark, "h", 3).collect().map(_.getString(0)).toSet ==
      Set("r0", "r1", "r3"))
    // a later replace compacts the chain
    snap.commit(spark, 4, replaced = Map("h" -> Seq("compacted").toDF("x")),
      appended = Map.empty, meta = Map.empty)
    assert(snap.loadHybrid(spark, "h", 4).collect().map(_.getString(0)).toSeq ==
      Seq("compacted"))
    // append table with no data anywhere fails with the explicit message
    val e = intercept[IllegalArgumentException](
      snap.loadAppended(spark, "nope", 4))
    assert(e.getMessage.contains("no data"))
  }

  test("crash between table writes and manifest rename: orphan dirs are invisible and overwritten") {
    import spark.implicits._
    val snap = new SnapshotTable(Files.createTempDirectory("snap-crash").toString)
    snap.commit(spark, 0, replaced = Map("rep" -> Seq(("a", 0L)).toDF("k", "v")),
      appended = Map("app" -> Seq("a0").toDF("x")), meta = Map("k" -> "r0"))
    snap.commit(spark, 1, replaced = Map("rep" -> Seq(("b", 1L)).toDF("k", "v")),
      appended = Map("app" -> Seq("a1").toDF("x")), meta = Map("k" -> "r1"))
    // simulate a crash INSIDE round 2's commit: the table data directories
    // were fully written, the process died before the manifest rename —
    // the commit point was never reached
    Seq(("ORPHAN", 99L)).toDF("k", "v")
      .write.parquet(s"${snap.root}/data/rep/r00002")
    Seq("ORPHAN").toDF("x").write.parquet(s"${snap.root}/data/app/r00002")
    // resume sees round 1 EXACTLY: the orphan round does not exist
    assert(snap.latestRound.contains(1))
    assert(snap.loadReplaced(spark, "rep", 1).collect()
      .map(_.getString(0)).toSeq == Seq("b"))
    assert(snap.loadAppended(spark, "app", 1).collect()
      .map(_.getString(0)).toSet == Set("a0", "a1"))
    assert(snap.meta(1)("k") == "r1")
    // the re-run of round 2 overwrites the orphan directories cleanly and
    // its commit becomes visible atomically
    snap.commit(spark, 2, replaced = Map("rep" -> Seq(("c", 2L)).toDF("k", "v")),
      appended = Map("app" -> Seq("a2").toDF("x")), meta = Map("k" -> "r2"))
    assert(snap.latestRound.contains(2))
    assert(snap.loadReplaced(spark, "rep", 2).collect()
      .map(_.getString(0)).toSeq == Seq("c"))
    assert(snap.loadAppended(spark, "app", 2).collect()
      .map(_.getString(0)).toSet == Set("a0", "a1", "a2"))
  }

  test("legitimately-empty append tables: hasAppends false, loadAppendedOr yields schema-correct empty") {
    import spark.implicits._
    val snap = new SnapshotTable(Files.createTempDirectory("snap-empty").toString)
    snap.commit(spark, 0, replaced = Map("t" -> Seq(1L).toDF("v")),
      appended = Map.empty, meta = Map.empty)
    // a table no round ever appended (e.g. postings of a crawl whose every
    // seed 404'd) is a legitimate empty state for read projections
    assert(!snap.hasAppends("postings", 0))
    val empty = snap.loadAppendedOr(spark, "postings", 0,
      "term string, url string, weight double, title string, round int")
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("term", "url", "weight", "title", "round"))
    // once data exists, loadAppendedOr delegates to the real read
    snap.commit(spark, 1, replaced = Map.empty,
      appended = Map("postings" -> Seq(("t", "u", 1.0, "ti", 1))
        .toDF("term", "url", "weight", "title", "round")), meta = Map.empty)
    assert(snap.hasAppends("postings", 1))
    assert(snap.loadAppendedOr(spark, "postings", 1, "x string").count() == 1)
  }

  test("metaLate lands in the committed manifest") {
    import spark.implicits._
    val snap = new SnapshotTable(Files.createTempDirectory("snap-meta").toString)
    var sideEffect = "not-run"
    snap.commit(spark, 0, replaced = Map("t" -> Seq(1L).toDF("v")),
      appended = Map.empty, meta = Map("early" -> "1"),
      metaLate = () => { sideEffect = "ran"; Map("late" -> "2") })
    assert(sideEffect == "ran")
    assert(snap.meta(0) == Map("early" -> "1", "late" -> "2"))
  }

  test("manifest meta with a quote or backslash is rejected at commit, naming the key") {
    import spark.implicits._
    val snap = new SnapshotTable(Files.createTempDirectory("snap-escape").toString)
    snap.commit(spark, 0, replaced = Map("t" -> Seq(1L).toDF("v")),
      appended = Map.empty, meta = Map("ok" -> "plain"))
    Seq("quoted" -> "a\"b", "slashed" -> "c:\\d").foreach { case (k, v) =>
      val e = intercept[IllegalArgumentException](
        snap.commit(spark, 1, replaced = Map.empty, appended = Map.empty,
          meta = Map(k -> v)))
      assert(e.getMessage.contains(s"'$k'"), e.getMessage)
    }
    // a bad key, and bad late meta (checked after the writes, before the
    // manifest rename): the round never becomes visible
    val e = intercept[IllegalArgumentException](
      snap.commit(spark, 1, replaced = Map("t" -> Seq(2L).toDF("v")),
        appended = Map.empty, meta = Map.empty,
        metaLate = () => Map("late\"key" -> "1")))
    assert(e.getMessage.contains("late\"key"), e.getMessage)
    intercept[IllegalArgumentException](
      snap.commit(spark, 1, replaced = Map.empty, appended = Map.empty,
        meta = Map("tables" -> "x")))
    assert(snap.latestRound.contains(0))
    assert(snap.meta(0) == Map("ok" -> "plain"))
    assert(snap.loadReplaced(spark, "t", 0).as[Long].collect().toSeq == Seq(1L))
  }

  test("schema-carrying reads: a fresh instance loads what the writer loads, with no Spark job") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory("snap-schema").toString
    val writer = new SnapshotTable(root)
    val bucket = pmod(xxhash64(col("host")), lit(SnapshotTable.Buckets))
    // types a schema round trip could lose: nested struct, array, nulls
    val plain = Seq(("a", 1L, 1.5, true, Seq("x", "y"), ("s", 7)),
      ("b", 2L, -0.5, false, Seq.empty[String], null))
      .toDF("k", "v", "d", "flag", "tags", "nested")
    val rows = (0 until 200).map(i => (s"https://h$i.test/p", s"h${i % 37}.test", i.toLong))
      .toDF("url", "host", "seq")
    val tier = rows.where(col("seq") >= 150)
    writer.commit(spark, 0, replaced = Map("plain" -> plain, "h" -> rows.where(col("seq") < 100)),
      appended = Map.empty, meta = Map.empty, bucketed = Map("h" -> bucket))
    // round 1: a zero-row bucketed tier (no parquet file at all)
    writer.commit(spark, 1, replaced = Map.empty, appended = Map("h" -> rows.limit(0)),
      meta = Map.empty, bucketed = Map("h" -> bucket), carried = Map("plain" -> 0))
    writer.commit(spark, 2, replaced = Map.empty, appended = Map("h" -> tier),
      meta = Map.empty, bucketed = Map("h" -> bucket), carried = Map("plain" -> 1))
    val empty = java.nio.file.Paths.get(root, "data", "h", "r00001")
    // bucket layout: each p_bucket=N dir holds exactly the rows whose
    // host hashes to N, in one file
    val raw = spark.read.parquet(s"$root/data/h/r00000")
    assert(raw.where(col("p_bucket") =!= bucket).count() == 0)
    def listed(d: java.nio.file.Path) =
      scala.util.Using.resource(Files.list(d))(_.iterator().asScala.toList)
    listed(java.nio.file.Paths.get(root, "data", "h", "r00000"))
      .filter(_.getFileName.toString.startsWith("p_bucket=")).foreach { d =>
        val parquet = listed(d).count(_.getFileName.toString.endsWith(".parquet"))
        assert(parquet == 1, s"$d holds $parquet files")
      }
    val emptyFiles = listed(empty).map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet
    assert(emptyFiles == Set("_SUCCESS", SnapshotTable.SchemaFile), emptyFiles)

    def loads(s: SnapshotTable): Seq[(String, DataFrame)] = Seq(
      "replaced" -> s.loadReplaced(spark, "plain", 0),
      "carried" -> s.loadReplaced(spark, "plain", 2),
      "hybrid" -> s.loadHybrid(spark, "h", 2),
      "hybrid with a zero-row tier" -> s.loadHybrid(spark, "h", 1))
    def same(what: String, a: DataFrame, b: DataFrame): Unit = {
      assert(a.schema == b.schema, s"$what: schema ${a.schema} vs ${b.schema}")
      assert(a.collect().map(_.toString).sorted.toSeq == b.collect().map(_.toString).sorted.toSeq,
        s"$what: rows differ")
    }
    val (fresh, jobs) = JobCounter.count(spark.sparkContext)(loads(new SnapshotTable(root)))
    assert(jobs == 0, s"sidecar-carrying loads launched $jobs jobs")
    loads(writer).zip(fresh).foreach { case ((what, w), (_, f)) => same(what, w, f) }
    val hybrid = fresh.toMap
    assert(hybrid("hybrid").count() == 150)
    assert(hybrid("hybrid with a zero-row tier").count() == 100)
    // the recorded schema is exactly the one inference finds
    same("inferred", spark.read.parquet(s"$root/data/plain/r00000"), hybrid("replaced"))

    // the counter sees a Spark action, so the zero above is not blindness
    val (_, actionJobs) = JobCounter.count(spark.sparkContext)(hybrid("carried").count())
    assert(actionJobs > 0, "a count launched no job: the counter is blind")

    // a directory without the sidecar was not written by commit: reading
    // it fails, naming the directory
    val plainDir = java.nio.file.Paths.get(root, "data", "plain", "r00000")
    Files.delete(plainDir.resolve(SnapshotTable.SchemaFile))
    val e = intercept[IllegalStateException](
      new SnapshotTable(root).loadReplaced(spark, "plain", 2))
    assert(e.getMessage.contains(plainDir.toString), e.getMessage)
  }
}
