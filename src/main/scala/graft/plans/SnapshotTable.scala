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
 *   root/blobs/<name>/r00042.bin       binary sidecars (the seen sketch)
 *   root/_manifests/r00042.json        { round, meta{...}, kind{name→replace|append},
 *                                        tables{name→path} }
 *
 * One load rule ([[load]]): a table at round r is the set of directories
 * that the manifests of rounds ≤ r name for it, walking back from r to the
 * latest commit that REPLACED it. A commit names only the tables it
 * writes — a replace (a new base) or an append (one more directory on
 * top) — and leaves every other table as it was. So a table written once
 * and never again (`hosts` while no host changes), a replace base plus
 * its append tiers (`frontier`, `seen`) and a table that only ever
 * appends (`fetches`, `postings`) all read through the same walk. No
 * directory is chosen by probing the disk: an orphan directory of a
 * commit that never reached its manifest rename is invisible, even after
 * a later commit of the same round number that does not rewrite it. The
 * manifests of rounds [0, latestRound] must all exist; a missing one
 * fails the load, naming it.
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
   * Commit one round: `replaced` tables get a new base, `appended` tables
   * one more directory, and every table the commit does not name keeps
   * its state (see the class doc). `metaLate` is evaluated after the table
   * writes but before the manifest rename — for metadata only observable
   * once the writes ran (e.g. `Observation` metrics collected during a
   * write), still inside the atomic commit. Meta keys and values
   * containing `"` or `\` are rejected (see the class doc).
   */
  def commit(spark: SparkSession, round: Int,
             replaced: Map[String, DataFrame],
             appended: Map[String, DataFrame],
             meta: Map[String, String],
             blobs: Map[String, Array[Byte]] = Map.empty,
             bucketed: Map[String, org.apache.spark.sql.Column] = Map.empty,
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
      val p = blobPath(name, round)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    val tablesJson = all.keys.map(n => s""""$n": "data/$n/${rid(round)}"""").mkString(",")
    val kindJson = (replaced.keys.map(n => s""""$n": "replace"""") ++
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

  /** Round `round`'s manifest, parsed once: its meta, and for each table
   * it names the commit kind ("replace" | "append") and the root-relative
   * directory. A missing manifest fails, naming it. */
  private def manifest(round: Int): SnapshotTable.Manifest = {
    val p = manifestDir.resolve(s"${rid(round)}.json")
    if (!Files.exists(p)) throw new IllegalStateException(
      s"snapshot $root has no manifest for round $round: $p is missing")
    val json = Files.readString(p)
    val Seq(m, k, t) = Seq("meta", "kind", "tables").map(s => json.indexOf(s""""$s""""))
    // manifest JSON is machine-written with string-only values
    def pairs(seg: String): Map[String, String] =
      "\"([^\"]+)\": \"([^\"]*)\"".r.findAllMatchIn(seg)
        .map(x => x.group(1) -> x.group(2)).toMap
    SnapshotTable.Manifest(pairs(json.substring(m, k)), pairs(json.substring(k, t)),
      pairs(json.substring(t)))
  }

  def meta(round: Int): Map[String, String] = manifest(round).meta

  /** table → commit kind ("replace" | "append") recorded at that round. */
  def kinds(round: Int): Map[String, String] = manifest(round).kinds

  /** Table `name` at `round`: the directories the manifests ≤ `round`
   * name for it, back to its latest replace (see the class doc). A table
   * no manifest names fails (see [[loadOr]]). */
  def load(spark: SparkSession, name: String, round: Int): DataFrame = {
    val d = dirs(name, round)
    require(d.nonEmpty, s"no manifest at or before round $round names table $name")
    readUnion(spark, d)
  }

  /** [[load]], or an empty table with schema `ddl` when no manifest
   * ≤ `round` names `name` — a legitimate state: a commit skips an empty
   * append, so a crawl that never fetched a page names no `postings`. */
  def loadOr(spark: SparkSession, name: String, round: Int, ddl: String): DataFrame = {
    val d = dirs(name, round)
    if (d.nonEmpty) readUnion(spark, d)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(ddl))
  }

  /** The directories of [[load]]'s rule, oldest first: walking back from
   * `round`, every one a manifest names for `name`, up to and including
   * the first replace. */
  @scala.annotation.tailrec
  private def dirs(name: String, round: Int, acc: List[String] = Nil): List[String] =
    if (round < 0) acc
    else {
      val m = manifest(round)
      val here = m.tables.get(name).map(p => s"$root/$p").toList ++ acc
      if (m.kinds.get(name).contains("replace")) here else dirs(name, round - 1, here)
    }

  /** Where [[commit]] writes the binary sidecar `name` of `round`. */
  def blobPath(name: String, round: Int): Path =
    Paths.get(root, "blobs", name, s"${rid(round)}.bin")

  /** Binary sidecar committed with the round, if any. */
  def loadBlob(name: String, round: Int): Option[Array[Byte]] = {
    val p = blobPath(name, round)
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

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

  /** Union of per-directory reads. Tier directories of one table can
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
  /** One parsed manifest (see [[SnapshotTable.manifest]]). */
  private case class Manifest(meta: Map[String, String], kinds: Map[String, String],
                              tables: Map[String, String])

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
   * must never keep a JVM alive). A crawl round commits up to 5 tables,
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
