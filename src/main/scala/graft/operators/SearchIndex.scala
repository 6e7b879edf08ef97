package graft.operators

import graft.functions.gf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Inverted-index build + weighted-sum search (SURVEY.md §3.2;
 * gcloud_indexer.py:37-101): postings carry weight 2.0 for title terms and
 * 1.0 for body terms, title-first-wins per (term, url); search tokenizes
 * the query, joins postings per term (J1 — broadcast-hash, the query side
 * is tiny), optionally field-filters (J2 title / J3 url-substring), sums
 * weights per url (A3) and returns top-k by score (O1 —
 * TakeOrderedAndProject, never a full sort).
 *
 * Normalization vs reference (documented, deliberate): score ties are
 * broken by url ascending; the reference's tie order is Python dict
 * insertion order, which is not a semantic.
 */
object SearchIndex {

  /** docs(url, title, text) → postings(term, url, weight, title).
   * Weight 2.0 for title tokens, 1.0 for body; title wins on overlap
   * (the reference indexes title first and appends body tokens only when
   * the url is not already posted for that term). */
  def postings(docs: DataFrame): DataFrame = {
    // r6: one scan + one explode of the per-doc DISTINCT term union instead
    // of two explode branches unioned into a (term, url) groupBy SHUFFLE —
    // this runs once per crawl round (incremental index build), so the
    // removed exchange is per-round cost. Equivalence: the union's
    // max(weight) per (term, url) is 2.0 iff the term tokenizes out of the
    // title and 1.0 otherwise, over exactly the distinct title ∪ body term
    // set — which is array_union(title-tokens, body-tokens) exploded with
    // an array_contains(title-tokens) weight; `first(title)` only ever saw
    // one url's (constant) title.
    docs.select(col("url"), col("title"),
        gf.tokenize(col("title")).as("tt_"),
        gf.tokenize(col("text")).as("bt_"))
      // coalesce: a null text column must only drop the BODY terms (the
      // old union branch semantics), not null out the whole union
      .select(col("url"), col("title"), col("tt_"),
        explode(array_union(col("tt_"),
          coalesce(col("bt_"), array().cast("array<string>")))).as("term"))
      .select(col("term"), col("url"),
        when(array_contains(col("tt_"), col("term")), lit(2.0))
          .otherwise(lit(1.0)).as("weight"),
        col("title"))
  }

  /** Weighted-sum search. field ∈ {content, title, url}
   * (gcloud_indexer.py:64-101). Duplicate query terms score twice, as in
   * the reference's per-token loop. field=url follows the reference
   * exactly: it scans ALL indexed urls (not just content hits) and scores
   * 1.0 per query term that is a substring of the url; field=title keeps
   * only postings whose term appears in the title's token set. */
  def search(postings: DataFrame, query: String, field: String = "content",
             k: Int = 10): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val termSeq = "[a-z0-9_]+".r.findAllIn(query.toLowerCase).toSeq
    val terms = termSeq.toDF("term")

    // `term isin <query terms>` is a plain predicate on the postings
    // aggregate's GROUPING KEY, so Catalyst pushes it below the groupBy —
    // all the way under the token explode when postings() is composed
    // inline — and the index-build shuffle carries only the handful of
    // matching-term rows instead of every token of every document. The
    // broadcast join alone cannot be pushed through the aggregate; the
    // semantics are identical (scores only ever involve matched terms,
    // and the join still multiplies duplicated query terms).
    def matched = (if (termSeq.isEmpty) postings
      else postings.where(col("term").isin(termSeq.distinct: _*)))
      .join(broadcast(terms), Seq("term"))

    val scored = field match {
      case "url" =>
        postings.groupBy("url").agg(first("title").as("title"))
          .crossJoin(broadcast(terms))
          .where(col("url").contains(col("term")))
          .groupBy("url")
          .agg(sum(lit(1.0)).as("score"), first("title").as("title"))
      case "title" =>
        matched
          .where(array_contains(gf.tokenize(col("title")), col("term")))
          .groupBy("url")
          .agg(sum("weight").as("score"), first("title").as("title"))
      case _ =>
        matched
          .groupBy("url")
          .agg(sum("weight").as("score"), first("title").as("title"))
    }
    scored.orderBy(desc("score"), asc("url")).limit(k)
  }
}
