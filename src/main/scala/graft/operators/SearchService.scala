package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Async search request/response tables (SURVEY §2.1 S11 full form;
 * gcloud_indexer.py:588-632): callers append rows to a `search_requests`
 * spool; a processing pass picks up every request that has no response
 * yet, runs it against the PERSISTED postings table of the crawl at
 * `crawlRoot` (Crawler.searchStore — index is never recomputed), and
 * appends the ranked results to `search_responses`. Pure tables in/out —
 * the reference's poll loop becomes an idempotent micro-batch: re-running
 * processPending answers only still-unanswered requests.
 *
 * Layout (outside the crawl's round snapshots — requests arrive between
 * rounds and must not perturb resume):
 *   root/search_requests/b<k>/   (req_id, query, field, k)
 *   root/search_responses/b<k>/  (req_id, rank, url, score, title, snippet)
 */
class SearchService(val root: String) {

  private def reqDir = s"$root/search_requests"
  private def respDir = s"$root/search_responses"

  /** Next spool batch directory. The count prefix keeps the sorted-read
   * order (later batches sort after earlier ones); the random suffix makes
   * the name collision-free under CONCURRENT submitters — two writers that
   * race to the same count still land in distinct directories, and the
   * req_id-keyed read semantics are order-independent anyway. */
  private def nextBatch(dir: String): String = {
    val p = Paths.get(dir)
    val n = if (Files.isDirectory(p))
      scala.util.Using.resource(Files.list(p))(_.count()) else 0L
    f"$dir/b$n%05d-${java.util.UUID.randomUUID.toString.take(8)}"
  }

  private def loadAll(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) return None
    val dirs = scala.util.Using.resource(Files.list(p))(
      _.iterator().asScala.map(_.toString).toSeq).sorted
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** Append one search request. */
  def submit(spark: SparkSession, reqId: String, query: String,
             field: String = "content", k: Int = 10): Unit = {
    import spark.implicits._
    Seq((reqId, query, field, k)).toDF("req_id", "query", "field", "k")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(nextBatch(reqDir))
  }

  /** Requests with no response yet (req_id anti-join). */
  def pending(spark: SparkSession): DataFrame = {
    val reqs = loadAll(spark, reqDir).getOrElse(
      return spark.emptyDataFrame)
    loadAll(spark, respDir) match {
      case Some(resp) => reqs.join(resp.select("req_id").distinct(),
        Seq("req_id"), "left_anti")
      case None => reqs
    }
  }

  /** Answer every pending request against the crawl's persisted postings,
   * as ONE join-driven plan per search field (≤ 3 plans total, however
   * large the backlog): query terms explode per request, join postings
   * once, scores aggregate per (req_id, url), and a per-request rank
   * window keeps each request's top k. Scoring/ordering semantics are
   * identical to [[SearchIndex.search]] / [[Crawler.searchStore]]
   * (duplicate query terms score twice; ties break url-ascending; snippet
   * joined from the page texts for the k result rows only). Returns the number
   * of requests processed; a request whose query matches nothing produces
   * no response rows and remains pending, exactly as before. */
  def processPending(spark: SparkSession, crawlRoot: String): Long = {
    import spark.implicits._
    import graft.functions.gf
    val todo = pending(spark).localCheckpoint(true) // human-sized; reused below
    val nTodo = todo.count()
    if (nTodo == 0) return 0L
    val (snap, r, _) = Crawler.committed(crawlRoot)
    val postings = Crawler.postings(spark, snap, r)

    def scoredFor(field: String): DataFrame = {
      val qterms = todo.where(col("field") === field)
        .select(col("req_id"), explode(gf.tokenize(col("query"))).as("term"))
      field match {
        case "url" => // reference semantics: every indexed url, substring hits
          postings.groupBy("url").agg(first("title").as("title"))
            .join(broadcast(qterms), col("url").contains(col("term")))
            .groupBy("req_id", "url")
            .agg(sum(lit(1.0)).as("score"), first("title").as("title"))
        case "title" =>
          postings.join(broadcast(qterms), Seq("term"))
            .where(array_contains(gf.tokenize(col("title")), col("term")))
            .groupBy("req_id", "url")
            .agg(sum("weight").as("score"), first("title").as("title"))
        case _ =>
          postings.join(broadcast(qterms), Seq("term"))
            .groupBy("req_id", "url")
            .agg(sum("weight").as("score"), first("title").as("title"))
      }
    }
    val fields = todo.select("field").distinct().as[String].collect()
    val scored = fields.map(scoredFor).reduce(_ unionByName _)
    val perReq = org.apache.spark.sql.expressions.Window
      .partitionBy("req_id").orderBy(desc("score"), asc("url"))
    val ranked = scored.withColumn("rank", row_number().over(perReq).cast("long"))
      .join(broadcast(todo.select("req_id", "k")), Seq("req_id"))
      .where(col("rank") <= col("k"))
    ranked.join(Crawler.pageTexts(spark, snap, r), Seq("url"), "left_outer")
      .withColumn("snippet",
        concat(substring(coalesce(col("text"), lit("")), 1, 200), lit("...")))
      .select("req_id", "rank", "url", "score", "title", "snippet")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(nextBatch(respDir))
    nTodo
  }

  /** All responses so far. */
  def responses(spark: SparkSession): DataFrame =
    loadAll(spark, respDir).getOrElse(spark.emptyDataFrame)
}
