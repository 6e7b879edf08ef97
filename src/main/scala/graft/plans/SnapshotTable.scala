package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * Minimal Iceberg-style snapshot store (SURVEY.md §7 storage note): each
 * crawl round commits a set of named tables as immutable parquet
 * directories plus ONE atomically-renamed JSON manifest. The manifest is
 * the commit point — a round either exists completely or not at all, so
 * the crawl resumes exactly from any round boundary
 * (restore path semantics: gcloud_master.py:274-318).
 *
 * Layout:
 *   root/data/<table>/r00042/          parquet files for that round's version
 *   root/data/<table>/r00042/_schema.json   the directory's schema (see below)
 *   root/_manifests/r00042.json        { round, meta{...}, tables{name→path} }
 *
 * Three table kinds, by how a round's commit names them:
 *  - replaced (hosts, the per-host crawl state): the manifest points at
 *    one r<round> directory, possibly an earlier round's when the table
 *    is carried unchanged;
 *  - hybrid (frontier, seen): a replace base plus the append deltas
 *    committed after it ([[loadHybrid]]);
 *  - append (fetch_log, pages, doc_store, postings): one directory per
 *    round that wrote rows, read as the union of all rounds ≤ the loaded
 *    one.
 *
 * Every directory a commit writes carries its schema in `_schema.json`
 * (Spark's file listing skips `_`-prefixed names), written before the
 * manifest rename and so covered by the same atomic commit. Loads read
 * with that schema instead of inferring it — no per-directory footer job —
 * and a zero-row bucketed write, which leaves no parquet file at all,
 * still reads as an empty table. A directory without its sidecar was not
 * written by [[SnapshotTable.commit]]; reading it fails, naming it.
 *
 * Manifest meta values are plain strings; `"` and `\` are rejected at
 * commit (the manifest is written and parsed without escaping).
 *
 * No Iceberg runtime jar exists in this sandbox (offline resolution); the
 * interface is deliberately narrow so a real catalog could replace it.
 */
class SnapshotTable(val root: String) {

  private def manifestDir: Path = Paths.get(root, "_manifests")
  private def rid(round: Int): String = f"r$round%05d"

  /**
   * Commit one round. `carried` names replaced tables whose content is
   * UNCHANGED since the given earlier round: no data is written — the
   * manifest records a replace-kind entry pointing at the earlier round's
   * directory (chains are flattened at commit time, so a table carried for
   * 100 rounds still resolves in one hop). This is the Iceberg
   * "re-manifest unchanged data files" move: per-round cost tracks what
   * CHANGED, not the accumulated table sizes. `metaLate` is evaluated
   * after the table writes but before the manifest rename — for metadata
   * only observable once the writes ran (e.g. `Observation` metrics
   * collected during a write), still inside the atomic commit. Meta keys
   * and values containing `"` or `\` are rejected (see the class doc).
   */
  def commit(spark: SparkSession, round: Int,
             replaced: Map[String, DataFrame],
             appended: Map[String, DataFrame],
             meta: Map[String, String],
             blobs: Map[String, Array[Byte]] = Map.empty,
             bucketed: Map[String, org.apache.spark.sql.Column] = Map.empty,
             carried: Map[String, Int] = Map.empty,
             metaLate: () => Map[String, String] = () => Map.empty): Unit = {
    SnapshotTable.checkMeta(meta)
    Files.createDirectories(manifestDir)
    val all = replaced ++ appended
    // the tables are independent directories — submit their write jobs
    // CONCURRENTLY so one table's IO tail overlaps the next one's compute
    // (sequential writes left most of the cluster idle between jobs; on a
    // real cluster this is ordinary multi-job scheduling). The manifest
    // rename below still happens only after every write returned.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = SnapshotTable.writeEc
    val writes = all.toSeq.map { case (name, df) =>
      Future {
        val path = s"$root/data/$name/${rid(round)}"
        val written = bucketed.get(name) match {
          // physically bucket the table (Iceberg `bucket(N, …)` analog):
          // one file per non-empty bucket dir, prunable and co-locatable.
          // Hash-partitioning on the bucket column keeps each bucket in one
          // task while AQE sizes the task count to the data. A zero-row
          // write leaves no parquet file; the schema sidecar makes it read
          // back as an empty table.
          case Some(bucketExpr) =>
            val b = df.withColumn("p_bucket", bucketExpr)
            b.repartition(org.apache.spark.sql.functions.col("p_bucket"))
              .write.mode("overwrite").partitionBy("p_bucket").parquet(path)
            b
          case None =>
            df.write.mode("overwrite").parquet(path)
            df
        }
        Files.writeString(Paths.get(path, SnapshotTable.SchemaFile), written.schema.json)
      }
    }
    Await.result(Future.sequence(writes), Duration.Inf)
    // binary sidecars (e.g. the serialized seen-filter shards) are written
    // BEFORE the manifest rename, so a committed round always has them
    blobs.foreach { case (name, bytes) =>
      val dir = Paths.get(root, "blobs", name)
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"${rid(round)}.bin"), bytes)
    }
    val carriedPaths = carried.map { case (name, from) =>
      name -> tables(from).getOrElse(name, s"data/$name/${rid(from)}")
    }
    val tablesJson = (all.keys.map(n => n -> s"data/$n/${rid(round)}") ++ carriedPaths)
      .map { case (n, p) => s""""$n": "$p"""" }.mkString(",")
    val kindJson = ((replaced.keys ++ carriedPaths.keys).map(n => s""""$n": "replace"""") ++
      appended.keys.map(n => s""""$n": "append"""")).mkString(",")
    val metaLateVals = metaLate()
    SnapshotTable.checkMeta(metaLateVals)
    val metaJson = (meta ++ metaLateVals)
      .map { case (k, v) => s""""$k": "$v"""" }.mkString(",")
    val json =
      s"""{"round": $round, "meta": {$metaJson}, "kind": {$kindJson}, "tables": {$tablesJson}}"""
    val tmp = manifestDir.resolve(s".${rid(round)}.json.tmp")
    Files.writeString(tmp, json)
    // rename is the atomic commit point
    Files.move(tmp, manifestDir.resolve(s"${rid(round)}.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  def latestRound: Option[Int] = {
    if (!Files.isDirectory(manifestDir)) return None
    val rounds = scala.util.Using.resource(Files.list(manifestDir)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("r") && n.endsWith(".json"))
        .map(n => n.stripPrefix("r").stripSuffix(".json").toInt)
        .toSeq
    }
    if (rounds.isEmpty) None else Some(rounds.max)
  }

  def meta(round: Int): Map[String, String] = {
    val json = Files.readString(manifestDir.resolve(s"${rid(round)}.json"))
    // manifest JSON is machine-written with string-only meta values
    "\"([^\"]+)\": \"([^\"]*)\"".r.findAllMatchIn(
      json.substring(json.indexOf("\"meta\""), json.indexOf("\"kind\""))
    ).map(m => m.group(1) -> m.group(2)).toMap
  }

  /** table → commit kind ("replace" | "append") recorded at that round. */
  def kinds(round: Int): Map[String, String] = {
    val json = Files.readString(manifestDir.resolve(s"${rid(round)}.json"))
    val seg = json.substring(json.indexOf("\"kind\""), json.indexOf("\"tables\""))
    "\"([^\"]+)\": \"([^\"]*)\"".r.findAllMatchIn(seg)
      .map(m => m.group(1) -> m.group(2)).toMap.removed("kind")
  }

  /** table → root-relative data path recorded in that round's manifest
   * (carried tables point at an EARLIER round's directory). */
  def tables(round: Int): Map[String, String] = {
    val p = manifestDir.resolve(s"${rid(round)}.json")
    if (!Files.exists(p)) return Map.empty
    val json = Files.readString(p)
    val seg = json.substring(json.indexOf("\"tables\""))
    "\"([^\"]+)\": \"([^\"]*)\"".r.findAllMatchIn(seg)
      .map(m => m.group(1) -> m.group(2)).toMap.removed("tables")
  }

  /**
   * Hybrid table load (Iceberg-like): the table's state at `round` is the
   * most recent REPLACE commit at or before it, plus every APPEND commit
   * after that replace. Lets a monotonically-growing table (the URL-seen
   * set) commit O(new rows) per round instead of rewriting O(table), while
   * still supporting occasional compaction/shrink commits (reset-failures
   * "forget" writes a replace). Rounds that do not mention the table
   * contribute nothing.
   */
  def loadHybrid(spark: SparkSession, name: String, round: Int): DataFrame = {
    val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
    var r = round
    var done = false
    while (r >= 0 && !done) {
      val k = kinds(r).get(name)
      if (k.isDefined) {
        dirs += s"$root/${tables(r).getOrElse(name, s"data/$name/${rid(r)}")}"
        if (k.contains("replace")) done = true
      }
      r -= 1
    }
    require(dirs.nonEmpty, s"table $name has no commits at or before round $round")
    readUnion(spark, dirs.distinct.toSeq)
  }

  /** Latest version of a replaced table at the given round — resolved
   * through the manifest, so carried tables read the round that actually
   * holds their data. */
  def loadReplaced(spark: SparkSession, name: String, round: Int): DataFrame = {
    val path = tables(round).getOrElse(name, s"data/$name/${rid(round)}")
    readDir(spark, s"$root/$path")
  }

  /** Binary sidecar committed with the round, if any. */
  def loadBlob(name: String, round: Int): Option[Array[Byte]] = {
    val p = Paths.get(root, "blobs", name, s"${rid(round)}.bin")
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  /** Whether any round ≤ `round` appended data for the table. False is a
   * legitimate state, not an error: empty appends are skipped at commit
   * time, so a crawl that (say) never fetched a page has no postings/
   * pages/doc_store directories at all. Read paths use this to return an
   * empty schema-correct frame instead of failing. */
  def hasAppends(name: String, round: Int): Boolean =
    (0 to round).exists(r => Files.isDirectory(Paths.get(s"$root/data/$name/${rid(r)}")))

  /** All appended versions of a table up to and including the round.
   * Rounds that appended nothing write no directory (empty appends are
   * skipped at commit time) and contribute nothing here. Check
   * [[hasAppends]] first when "no round ever wrote this table" is a
   * legitimate state for the caller (the require here guards against
   * typo'd table names, not against empty tables). */
  def loadAppended(spark: SparkSession, name: String, round: Int): DataFrame = {
    val dirs = (0 to round).map(r => s"$root/data/$name/${rid(r)}")
      .filter(d => Files.isDirectory(Paths.get(d)))
    require(dirs.nonEmpty,
      s"append table $name has no data at or before round $round " +
        "(no round produced any rows for it)")
    readUnion(spark, dirs)
  }

  /** [[loadAppended]] with a schema-carrying empty-frame fallback for
   * tables no round has written yet (`ddl` is the table's schema). */
  def loadAppendedOr(spark: SparkSession, name: String, round: Int,
                     ddl: String): DataFrame =
    if (hasAppends(name, round)) loadAppended(spark, name, round)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** One committed directory, read with its recorded schema (no inference
   * job); bucket partition columns are dropped. */
  private def readDir(spark: SparkSession, dir: String): DataFrame = {
    val sidecar = Paths.get(dir, SnapshotTable.SchemaFile)
    if (!Files.exists(sidecar)) throw new IllegalStateException(
      s"snapshot directory $dir has no ${SnapshotTable.SchemaFile}")
    val schema = DataType.fromJson(Files.readString(sidecar)).asInstanceOf[StructType]
    val df = spark.read.schema(schema).parquet(dir)
    if (df.columns.contains("p_bucket")) df.drop("p_bucket") else df
  }

  /** Union of per-directory reads. Tier directories of one hybrid table can
   * differ in PHYSICAL layout — a bucketed tier has `p_bucket=N/`
   * partition dirs, while a zero-row bucketed write has none — and a
   * single multi-path `read.parquet(dirs…)` may reject that mix at
   * partition inference. Reading each directory on its own and unioning
   * keeps the scan shape identical (a union of file scans) while making
   * the layouts independent. */
  private def readUnion(spark: SparkSession, dirs: Seq[String]): DataFrame =
    dirs.map(readDir(spark, _)).reduce(_.unionByName(_))
}

object SnapshotTable {
  /** Physical bucket fan-out for bucketed tables. */
  val Buckets = 32

  /** Per-directory schema sidecar (`StructType.json`). */
  val SchemaFile = "_schema.json"

  /** Manifest meta must round-trip through the unescaped JSON writer and
   * the regex reader: no `"` or `\` in keys or values, and no key named
   * like a manifest section. */
  private def checkMeta(meta: Map[String, String]): Unit =
    meta.foreach { case (k, v) =>
      require(!Seq(k, v).exists(s => s.contains('"') || s.contains('\\')),
        s"manifest meta key '$k': keys and values may not contain a double quote or a backslash")
      require(k != "kind" && k != "tables",
        s"manifest meta key '$k' collides with a manifest section name")
    }

  /** Bounded pool for concurrent commit writes (daemon threads: the pool
   * must never keep a JVM alive). A crawl round commits up to 7 tables,
   * most of them a few hundred rows; 6 concurrent writes keep the cores
   * busy without queueing every write's job at once. The cluster-side
   * parallelism comes from Spark itself. */
  private[plans] lazy val writeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(6, r => {
        val t = new Thread(r, "snapshot-commit-write")
        t.setDaemon(true)
        t
      }))
}
