package graft

/**
 * Input row types and configuration of the engine (SURVEY.md §1.1): the
 * corpus (`Doc`, `Span`), per-host policy and the crawl config. The
 * crawl's own records — frontier entries, fetch results, postings,
 * per-round counters (the reference's CrawlRequest/CrawlResult/CrawlState
 * dicts, `gcloud_master.py:29-48,343-348`, `gcloud_crawler.py:323-344`,
 * `gcloud_indexer.py:57-62`) — are DataFrame schemas built in
 * `operators/Crawler.scala`.
 *
 * Determinism note: no crawl record carries wall-clock time. The
 * reference stamps ISO-8601 wall-clock timestamps on every record; the
 * engine stamps the round id (and a stable per-row sequence) instead so
 * crawl ordering and resume-from-round are exactly reproducible.
 */

/** One ordered span of an interleaved text+media document
 * (driver-mandated input shape, BASELINE.json:input_hint).
 * kind ∈ {title, text, link, media}; text is '' for pure media;
 * media_ref is the raw link/media target ('' for text); offset is the
 * 0-based position in document order — the per-row invariant is
 * span-sequence equality on (kind, text, media_ref, offset). */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** A crawlable document: doc_id is the canonical URL; raw is the
 * interleaved serialized form the extractor must parse; spans is the
 * golden parse (kept for invariant checks, never read by the engine);
 * content_type gates parsing (reference: only text/html is parsed,
 * gcloud_crawler.py:285-344). */
case class Doc(doc_id: String, raw: String, content_type: String,
               flaky_fails: Int, spans: Seq[Span])

/** Per-host crawl policy (robots + politeness + caps), the broadcastable
 * equivalent of RobotsCache + config (gcloud_crawler.py:37-47,
 * config/crawl_config.json:5-11). */
case class HostPolicy(host: String, allow: Boolean, crawl_delay_s: Double, max_pages: Int)

/** Crawl configuration (config/crawl_config.json + defaults
 * gcloud_master.py:174-192). roundSeconds is the politeness budget window:
 * a host with crawl_delay d may be dispatched at most
 * floor(roundSeconds/d) URLs per round (SURVEY.md §2.8 T4). */
case class CrawlConfig(
    maxDepth: Int = 2,
    maxPagesPerDomain: Int = 10,
    respectRobots: Boolean = true,
    defaultCrawlDelayS: Double = 1.0,
    allowedDomains: Seq[String] = Nil,
    maxRetries: Int = 3,
    roundSeconds: Double = 60.0,
    /** seen-set prefilter kind: "bloom" (default) or "cuckoo" (deletable —
     * required for the reset-failures "forget" flow, SURVEY §2.3 D4/U4). */
    seenSketch: String = "bloom",
    /** initial sketch capacity; the crawler rebuilds at 4x on saturation. */
    sketchCapacity: Long = 1L << 20,
    /** dispatched-set size up to which the fetch join broadcasts; past it
     * the round switches to bloom-pruned scan + shuffle-hash join (the
     * per-host politeness budget grows with round number, so the
     * dispatched slice is NOT bounded — an unconditional broadcast would
     * eventually exceed driver/executor memory). */
    broadcastRowLimit: Long = 1000000L) {
  /** allowed_domains semantics of gcloud_master.py:50-59: blank entries are
   * ignored; empty effective list ⇒ allow all; else case-insensitive exact
   * or dot-suffix match. */
  def effectiveAllowed: Seq[String] =
    allowedDomains.map(_.trim.toLowerCase).filter(_.nonEmpty)
}
