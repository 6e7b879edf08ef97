package perfbench

import graft.operators.Crawler
import graft.oracle.CrawlOracle
import graft.sources.CorpusGen
import org.apache.spark.sql.Row

import scala.collection.mutable

/**
 * The status and search API over a committed crawl root: `statusSummary`,
 * `checkUrl` (a completed, an unseen and a failed URL), `getPage`,
 * `searchStore` (one query, twice), `workerStats` and `recentActivity`, in a
 * seeded order, sent one after another (one client, closed loop).
 *
 * Every answer is checked against `or`, the oracle of the `rounds`-round
 * crawl that wrote the root; a search answer must list only crawled HTML pages, ordered by
 * score, and equal the answer the same query gave before.
 */
final class Reads(ctx: Ctx, in: CrawlInput, or: CrawlOracle#Result, root: String, rounds: Int) {
  private val done = or.schedule.filter(l => l.status == "ok" || l.status == "ok_non_html")
  private val completedRound = done.map(l => l.url -> l.round).toMap
  private val completed = or.completed.toIndexedSeq
  private val recent = done.sortBy(l => (-l.round, -l.slot)).take(5)
    .map(l => (l.round, l.url, l.status))
  private val searchSeen = mutable.Map.empty[String, Seq[Row]]

  val Ops = Seq("status", "check_url", "get_page", "search", "worker_stats", "recent_activity")

  def requests(seed: Long): Seq[(String, String)] = {
    val rng = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.length))
    val seenSet = or.seen.toSet
    val unseen = (0L until in.nDocs).map(CorpusGen.urlOf(_, in.nDocs)).filterNot(seenSet)
    val word = () => pick(CorpusGen.Words.toSeq)
    val query = s"${word()} ${word()}"
    val reqs = Seq(("status", ""),
      ("check_url", pick(completed)), ("check_url", pick(unseen)),
      ("check_url", pick(if (or.failed.isEmpty) unseen else or.failed)),
      ("get_page", pick(completed)), ("search", query), ("search", query),
      ("worker_stats", ""), ("recent_activity", ""))
    rng.shuffle(reqs)
  }

  def answer(op: String, arg: String): Seq[Row] = ctx.span(s"read.$op") {
    val spark = ctx.spark
    (op match {
      case "status" => Crawler.statusSummary(spark, root)
      case "check_url" => Crawler.checkUrl(spark, root, arg)
      case "get_page" => Crawler.getPage(spark, root, arg)
      case "search" => Crawler.searchStore(spark, root, arg)
      case "worker_stats" => Crawler.workerStats(spark, root)
      case "recent_activity" => Crawler.recentActivity(spark, root)
    }).collect().toSeq
  }

  def correct(op: String, arg: String, rows: Seq[Row]): Boolean = op match {
    case "status" =>
      rows.size == 1 && rows.head.getInt(1) == rounds - 1 &&
        rows.head.getLong(3) == or.seen.size &&
        rows.head.getBoolean(0) == (rows.head.getLong(2) > 0)
    case "check_url" =>
      val (exact, fuzzy) = rows.partition(_.getString(3) == "exact")
      val needle = arg.replaceFirst("^https?://", "").stripSuffix("/")
      fuzzy.map(_.getString(1)).toSet ==
        completed.filter(u => u != arg && u.contains(needle)).toSet &&
        (completedRound.get(arg) match {
          case Some(r) => exact.map(x => (x.getInt(0), x.getString(1))) == Seq((r, arg))
          case None => exact.isEmpty
        })
    case "get_page" =>
      val d = in.docsMap(arg)
      rows.map(r => (r.getString(1), r.getString(2), r.getString(3))) ==
        Seq((arg, d.content_type, d.raw))
    case "search" =>
      val scores = rows.map(_.getDouble(1))
      val ok = rows.nonEmpty && rows.forall(r => completedRound.contains(r.getString(0))) &&
        scores == scores.sorted(Ordering[Double].reverse) &&
        searchSeen.get(arg).forall(_ == rows)
      searchSeen(arg) = rows
      ok
    case "worker_stats" =>
      rows.map(_.getLong(1)).sum == or.schedule.size && rows.map(_.getLong(2)).sum == completed.size
    case "recent_activity" =>
      rows.map(r => (r.getInt(0), r.getString(1), r.getString(2))) == recent
  }
}
