package graft.operators

import graft._
import graft.functions.{SeenSketch, gf}
import graft.plans.SnapshotTable
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * The BSP crawl engine (SURVEY.md §3.1 collapsed into one per-round DAG):
 *
 *   frontier →(politeness window T4)→ dispatched
 *            →(robots gate J5, "fetch" = broadcast join vs docs S3/S4)→ results
 *            →(span extraction U1, link explode F3/U2)→ candidates
 *            →(depth gate F6, allowed-domains F5, seen anti-join D1/D2,
 *              per-host cap window F7)→ admitted
 *            → new frontier (+ timeout requeues T2/T3), committed as one
 *              snapshot per round (T6) with fetch_log lineage; the round's
 *              counters are stamps in its manifest.
 *
 * Replaces the reference's master/crawler/indexer processes + Pub/Sub +
 * Firestore (gcloud_master.py / gcloud_crawler.py / gcloud_indexer.py)
 * with a deterministic Dataset pipeline: every ordering is an explicit
 * sort over unique keys, never partition-iteration order, so the crawl
 * schedule and seen set are reproducible at any parallelism — that is the
 * correctness gate (BASELINE.md §B).
 *
 * Scale design (10^10-URL frontier design point):
 *  - frontier/seen live ONLY in tables; nothing crawl-sized is collected
 *    to the driver (per-round counts are the only driver-side values).
 *  - the per-round "fetch" broadcasts the (politeness-bounded, thus small)
 *    dispatched set against the docs table — the 100 TB side is streamed,
 *    never shuffled; on a bucketed docs table the probe prunes to buckets.
 *  - seen-dedup is a left-anti join keyed by url, pre-filtered by a
 *    broadcast Bloom sketch once `seen` is large (D1): bloom-negative
 *    candidates skip the join entirely; positives are exactly re-checked,
 *    so false positives never drop URLs.
 *  - politeness dispatch is rank arithmetic, not a window: every frontier
 *    row carries its host's absolute enqueue rank, so "the host's next
 *    `budget` rows" is one predicate over a broadcast budget join
 *    ([[dispatchSelectAbs]]).
 *  - the per-host admission cap is the one per-host window. Hot-host skew
 *    (the reference's own field data: one host held 421/738 pages) is
 *    defused by a SALTED TWO-PHASE window: phase 1 ranks within
 *    (host, salt = xxhash64(url) % S) buckets — S-way parallel even for a
 *    host holding half the batch — and keeps only ranks ≤ the cap, so
 *    phase 2's true per-host window sees ≤ S·cap rows per host.
 *  - intra-batch URL dedup is a min(struct(order…)) hash aggregation, not
 *    a per-URL window: partial aggregation combines duplicates map-side,
 *    so a URL every page links to (a homepage) never concentrates rows
 *    into one task.
 *
 * Fault model: the eager local checkpoints inside a round are TRANSIENT
 * per-round state (they cap recompute of multiply-consumed intermediates,
 * not durability). Durability is the round snapshot: every round commits
 * atomically, so on any executor/driver loss the crawl resumes EXACTLY
 * from the last committed round (resume-equivalence is spec-enforced) —
 * recompute is bounded by one round, which is the intended unit of retry
 * on a real cluster.
 */
object Crawler {

  /** Salt fan-out for the two-phase per-host cap window. */
  val SaltBuckets = 16

  // Append-table schemas, for schema-correct empty reads of tables no
  // round has written yet (a crawl whose every seed 404'd creates no
  // pages/postings/doc_store directories at all — a legitimate state the
  // read projections must serve, not an error).
  private[operators] val PostingsDdl =
    "term string, url string, weight double, title string, round int"
  private[operators] val DocStoreDdl = "round int, url string, title string, text string"
  private val PagesDdl =
    "round int, url string, host string, raw string, content_type string"
  private val FetchLogDdl = "round int, url string, host string, depth int, " +
    "seq bigint, status string, part_id int, error string, links_found int"

  /** The `fetch_log` errors that end a URL's crawl (CrawlState.failed,
   * gcloud_master.py:197-207): the rows [[resetFailures]] re-opens. */
  private val TerminalErrors =
    Seq("http_404", "robots_disallowed", "quarantined_host", "retries_exhausted")

  case class RoundStats(
      round: Int, dispatched: Long, completed: Long, failed: Long,
      requeued: Long, admitted: Long, frontierSize: Long, seenSize: Long)

  case class CrawlSummary(rounds: Int, stats: Seq[RoundStats])

  // ---- column helpers -----------------------------------------------------

  /** allowed_domains predicate (F5, gcloud_master.py:50-59): blank list ⇒
   * allow all; else exact or dot-suffix match on the lowercased host. */
  def domainAllowed(host: Column, cfg: CrawlConfig): Column = {
    val allowed = cfg.effectiveAllowed
    if (allowed.isEmpty) lit(true)
    else allowed.map(d => host === lit(d) || host.endsWith(lit("." + d)))
      .reduce(_ || _)
  }

  /** Deterministic dense sequence assignment (seq = base + global rank in
   * the given total order), SAMPLING-FREE. Decomposes the global rank as
   * offset(group) + rank-within-group over an ORDER-ALIGNED group key
   * derived arithmetically from the order columns' min/max (one light
   * aggregation — the call's only driver-synchronous job): group
   * g = scaled bucket of the leading order column, nesting into later
   * columns when the leading span is narrow. g is a weakly-monotone pure
   * function of the order tuple, so groups are contiguous slices of the
   * total order; per-group counts → cumulative offsets (a P-row
   * single-partition window, built lazily as the broadcast side) and a
   * per-group rank window finish the job. The result depends only on
   * VALUES (bounds, counts, order), never on partition boundaries, so the
   * seq is reproducible at any parallelism without pinning anything.
   *
   * Preconditions (all engine call sites satisfy them): order columns are
   * non-null and integral-castable, and together form a total order.
   * Group-size balance tracks the value distribution inside [min, max] —
   * uniform-ish for every engine caller (seed indices, parent seqs of a
   * dispatched window, candidate ids); a pathological distribution costs
   * one oversized sort group, never correctness. */
  def assignSeq(spark: SparkSession, df: DataFrame, order: Seq[Column],
                base: Long): DataFrame = {
    val n = order.length
    val bounds = df.agg(count(lit(1)).as("_n"),
      order.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(c).cast(LongType).as(s"_lo$i"), max(c).cast(LongType).as(s"_hi$i"))
      }: _*).collect()(0)
    if (bounds.getLong(0) == 0L) return df.withColumn("seq", lit(0L)).limit(0)
    val los = (0 until n).map(i => bounds.getLong(1 + 2 * i))
    val his = (0 until n).map(i => bounds.getLong(2 + 2 * i))
    val targetGroups = math.max(
      scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .getOrElse(spark.sparkContext.defaultParallelism), 2).toLong

    // order-aligned group key: bucket the leading column's [lo, hi] span;
    // when the span is narrower than the group budget (constant bucket
    // column, seed ord1 = -1, tiny crawls) give each leading value its own
    // sub-range and recurse into the next column. Weak monotonicity in the
    // order tuple is the invariant (floor of a monotone map stays
    // monotone; nested terms are bounded by their sub-budget up to the
    // boundary-rounding row, which only ever merges ADJACENT slices) —
    // exact bucket-boundary placement is free to wobble, alignment is not.
    def groupKey(i: Int, budget: Long): Column = {
      if (i >= n || budget <= 1) lit(0L)
      else {
        val span = his(i) - los(i) + 1 // >= 1; engine key spans fit long
        val c = order(i).cast(LongType) - lit(los(i))
        if (span >= budget) {
          val width = math.max(1L, (span + budget - 1) / budget)
          floor(c.cast("double") / lit(width.toDouble)).cast(LongType)
        } else {
          val inner = math.max(1L, budget / span)
          c * lit(inner) + groupKey(i + 1, inner)
        }
      }
    }

    val withG = df.withColumn("_g", groupKey(0, targetGroups))
    // per-group offsets: counts → exclusive running sum over the (≤ P-row)
    // group table. Built LAZILY as the broadcast build side — it executes
    // as a sub-job of the consumer's action, not a driver round trip.
    val offW = Window.orderBy(col("_g"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withG.groupBy(col("_g")).agg(count(lit(1)).as("_cnt"))
      .coalesce(1) // P rows; single partition makes the running sum exact + quiet
      .withColumn("_off", coalesce(sum(col("_cnt")).over(offW), lit(0L)))
      .drop("_cnt")
    val rankW = Window.partitionBy(col("_g")).orderBy(order: _*)
    withG.withColumn("_r", row_number().over(rankW))
      .join(broadcast(offsets), Seq("_g"))
      .withColumn("seq", lit(base) + col("_off") + col("_r"))
      .drop("_g", "_off", "_r")
  }

  /** Fold a seen-set increment (or the whole set) into its JOIN-OPTIMAL
   * physical form: hash-partitioned by url at the session's shuffle
   * partitioning, sorted within partitions, checkpointed. Spark 4's
   * `localCheckpoint` captures the physical plan's partitioning and
   * ordering into the resulting `LogicalRDD`, so [[admit]]'s anti-join
   * right side then satisfies its distribution AND ordering requirements
   * for free — the 10^10-row seen set of a 100 TB crawl is never
   * re-shuffled or re-sorted per round. run() maintains seen this way as
   * an LSM ([[SeenLsm]]): per-round admitted urls fold into
   * O(admitted)-cost delta tiers, and the base refolds only when the
   * deltas grow to a fraction of it (amortized O(1) shuffled rows per
   * admitted url). */
  def foldSeen(df: DataFrame): DataFrame = {
    // EXPLICIT partition count: a bare repartition(col) is
    // REPARTITION_BY_COL, which AQE may coalesce — the checkpoint would
    // then capture a partition count that no longer matches the
    // admission side's shuffle and the join re-exchanges the tier,
    // silently un-doing this whole optimization. The pinned count matches
    // the session's shuffle partitioning, which is what the candidate
    // side's ENSURE_REQUIREMENTS exchange produces.
    val n = scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    // AQE off around the eager checkpoint: when the fold executes through
    // AdaptiveSparkPlanExec, Spark 4's checkpoint records
    // UnknownPartitioning instead of the final hashpartitioning(url, n)
    // (measured — the join then re-exchanges every tier). The fold is one
    // fixed-width shuffle; AQE has nothing to re-plan in it anyway.
    val sess = df.sparkSession
    val prevAqe = sess.conf.get("spark.sql.adaptive.enabled")
    try {
      sess.conf.set("spark.sql.adaptive.enabled", "false")
      df.repartition(n, col("url")).sortWithinPartitions("url").localCheckpoint(true)
    } finally sess.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  // ---- admission gate (shared by seeds and extracted links) ---------------

  /**
   * The reference's add_urls_to_queue loop (gcloud_master.py:320-338),
   * re-expressed set-at-a-time. Candidates carry a unique canonical order
   * (ord1, ord2) = (parent_seq, link_pos); semantics per candidate IN ORDER:
   * skip if seen (D1) or duplicated earlier in batch (D2); skip if domain
   * not allowed (F5); skip if the host's enqueue-count reached the cap —
   * cap-rejected URLs are NOT marked seen and may be re-proposed later
   * (F7 quirk, counted at enqueue time).
   *
   * Set-at-a-time equivalence holds because the per-host count is
   * monotonic: a candidate is admitted iff prior_count(host) + its rank
   * among admitted-eligible batch candidates of that host ≤ cap.
   */
  def admit(spark: SparkSession, candidates: DataFrame, seen: DataFrame,
            hostCounts: DataFrame, cfg: CrawlConfig,
            seenSketch: Option[SeenSketch],
            seenDeltas: Seq[DataFrame] = Nil): DataFrame = {
    // intra-batch first-occurrence wins (D2) — deterministic via min over
    // the (ord1, ord2) total order. A hash aggregation (NOT a per-URL
    // window): duplicates of a hot URL combine map-side before the shuffle.
    val firstOnly = candidates
      .groupBy(col("url"))
      .agg(min(struct(col("ord1"), col("ord2"), col("host"),
        col("depth"), col("retry"))).as("m"))
      .select(col("url"), col("m.host").as("host"), col("m.depth").as("depth"),
        col("m.retry").as("retry"), col("m.ord1").as("ord1"), col("m.ord2").as("ord2"))

    // seen anti-join (D1), sketch-prefiltered when available: sketch-negative
    // candidates skip the join entirely; positives are exactly re-checked,
    // so filter false positives never drop URLs. The probe is a native
    // codegen expression (SketchContains), and the plan is deliberately
    // left BARRIER-FREE: Catalyst pushes the (deterministic) probe filter
    // below the dedup aggregation, so each union branch builds its own
    // exchange over a DISJOINT slice of the candidates — combined shuffle
    // volume equals one full exchange, and the codegen'd source pipeline
    // is re-run once per branch. Both materialization alternatives were
    // MEASURED SLOWER at every level: r2's eager localCheckpoint of the
    // probed batch (block-store write on the hot path; the r2 sched
    // regression, 437k→378k) and a MEMORY_AND_DISK_SER persist (serialized
    // cache pressure collapses 32-core throughput 467k→385k). PlanAuditSpec
    // locks this shape (two url exchanges, no RDD-scan barrier).
    // The seen set arrives in TIERS: `seen` is the base (when maintained
    // via [[foldSeen]] it is url-partitioned+sorted+checkpointed, so this
    // anti-join needs NO exchange and NO sort on the seen side — the scan
    // streams checkpoint blocks straight into the merge), and `seenDeltas`
    // are the per-round folded increments since the last base fold. A ∪ of
    // the tiers would destroy the co-partitioning; a CHAIN of anti-joins
    // is set-equivalent (cand ∖ (A ∪ B) = (cand ∖ A) ∖ B) and every link
    // is exchange-free: anti-join preserves the left side's partitioning
    // AND its url sort order, so only the first link sorts the candidates.
    def antiSeen(d: DataFrame): DataFrame =
      (seen +: seenDeltas).foldLeft(d)((acc, s) =>
        acc.join(s, Seq("url"), "left_anti"))
    val fresh = seenSketch match {
      case Some(sk) =>
        val bc = spark.sparkContext.broadcast(sk)
        val probed = firstOnly
          .withColumn("maybe_seen_",
            graft.functions.sketch.sketch_contains(col("url"), bc))
        antiSeen(probed.where(col("maybe_seen_")).drop("maybe_seen_"))
          .unionByName(probed.where(!col("maybe_seen_")).drop("maybe_seen_"))
      case None =>
        antiSeen(firstOnly)
    }

    val eligible = fresh.where(domainAllowed(col("host"), cfg))

    // per-host cap (F7): prior enqueue count + rank within batch ≤ cap.
    // Two-phase to defuse hot-host skew: phase 1 ranks inside
    // (host, salt) — parallel across S buckets — and drops everything past
    // the cap (any row whose true host rank ≤ cap has bucket rank ≤ cap),
    // so phase 2's per-host window sees ≤ S·cap rows per host.
    // (An uncontended-host bypass — skip ranking for hosts whose whole
    // batch fits the cap — was measured and REJECTED: the extra per-host
    // totals aggregation and join exchange re-evaluate the admission tail
    // and cost more than the window sorts they save, at every parallelism
    // level.)
    val bucketW = Window.partitionBy(col("host"), col("salt_"))
      .orderBy(col("ord1"), col("ord2"))
    val pruned = eligible
      .withColumn("salt_", pmod(xxhash64(col("url")), lit(SaltBuckets)))
      .withColumn("r1", row_number().over(bucketW))
      .where(col("r1") <= lit(cfg.maxPagesPerDomain))
      .drop("r1", "salt_")
    val hostW = Window.partitionBy(col("host")).orderBy(col("ord1"), col("ord2"))
    // host_rank is KEPT on the output: admitted rows of one batch have
    // consecutive per-host ranks 1..k in (ord1, ord2) = seq order (the cap
    // predicate keeps a per-host PREFIX of the rank sequence), which is
    // exactly the increment the frontier's host_rank invariant needs — the
    // politeness dispatch is rank-arithmetic over it, never a re-sort
    // (see dispatchSelectAbs).
    pruned
      .withColumn("host_rank", row_number().over(hostW).cast(LongType))
      .join(broadcast(hostCounts), Seq("host"), "left_outer")
      .withColumn("prior", coalesce(col("cnt"), lit(0L)))
      .where(col("prior") + col("host_rank") <= lit(cfg.maxPagesPerDomain))
      .drop("cnt", "prior")
  }

  /** Bounded wait for an Observation's metrics on a DEDICATED DAEMON
   * thread (Await does not cancel an abandoned future — on the global pool
   * it would pin a pool thread forever). The observed write has always
   * finished before callers wait, so this resolves promptly; any failure
   * (listener never fired) degrades to None so metrics can never hang or
   * abort a commit whose table writes succeeded. */
  private def awaitObs(o: Observation, seconds: Int): Option[Map[String, Any]] =
    try {
      val p = scala.concurrent.Promise[Map[String, Any]]()
      val t = new Thread(() => p.tryComplete(scala.util.Try(o.get)), "graft-obs-wait")
      t.setDaemon(true)
      t.start()
      Some(scala.concurrent.Await.result(p.future,
        scala.concurrent.duration.Duration(seconds, "s")))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A round count observed on a checkpoint that already ran. These
   * counts drive nextSeq and frontierSize, so unlike [[awaitObs]]'s
   * callers a missing observation never falls back: it fails the round,
   * naming it and the count. */
  private def observedCounts(o: Observation, round: Int,
                             what: String): Map[String, Long] =
    awaitObs(o, 60).map(_.map { case (k, v) => k -> v.asInstanceOf[Long] })
      .getOrElse(throw new IllegalStateException(
        s"round $round: observed count '$what' is missing"))

  /** `df` observed for its row count (see [[checkpointed]], [[rowsOr]]). */
  private def countObs(df: DataFrame): (DataFrame, Observation) = {
    val o = new Observation()
    (df.observe(o, count(lit(1)).as("n")), o)
  }

  /** `df` checkpointed, with its row count observed on the checkpoint (no
   * job of its own; a missing count fails round `round`, see
   * [[observedCounts]]). */
  private def checkpointed(df: DataFrame, round: Int, what: String): (DataFrame, Long) = {
    val (observed, o) = countObs(df)
    val cp = observed.localCheckpoint(true)
    (cp, observedCounts(o, round, what)("n"))
  }

  /** Row count observed with [[countObs]] on a write that already ran, or
   * `fallback` should the observation not arrive (see [[awaitObs]]). */
  private def rowsOr(o: Observation, fallback: Long): Long =
    awaitObs(o, 10).flatMap(_.get("n").map(_.asInstanceOf[Long])).getOrElse(fallback)

  /** One per-host delta row for each row of `rows`: `v` in column `c` of
   * the `hosts` table, nothing in the others (see [[plusHosts]]). */
  private def hostDelta(rows: DataFrame, c: String, v: Column = lit(1L)): DataFrame =
    rows.select(col("host"), v.as(c))

  /** The per-host state `hosts(host, cnt, dispatched, enq, quarantined)` —
   * admissions counted against the cap, rows dispatched (the politeness
   * history and the frontier's liveness prefix), rows ever enqueued (the
   * absolute-rank offset) and the quarantine flag — with [[hostDelta]]
   * rows folded in: the counts sum, the flag ORs. One union and one
   * group-by, so hosts new to the table appear. */
  private def plusHosts(hosts: DataFrame, deltas: DataFrame*): DataFrame =
    deltas.map { d =>
      def pick(c: String, zero: Column) = if (d.columns.contains(c)) col(c) else zero.as(c)
      d.select(col("host"), pick("cnt", lit(0L)), pick("dispatched", lit(0L)),
        pick("enq", lit(0L)), pick("quarantined", lit(false)))
    }.foldLeft(hosts)(_ unionByName _)
      .groupBy("host")
      .agg(sum("cnt").as("cnt"), sum("dispatched").as("dispatched"), sum("enq").as("enq"),
        max("quarantined").as("quarantined"))

  /** The meta stamps every commit writes besides `snapshotFormat`: the
   * [[RoundState]] fields of the same names, which [[load]] reads back
   * (see [[commitState]], [[roundMeta]]). The last is the row count of
   * `hosts`, stamped after the table writes. */
  private val StampKeys = Seq("nextSeq", "frontierSize", "seenSize",
    "frontierDeadRows", "frontierTiers", "hostRows")

  /** The one snapshot format the engine reads: an absolute-rank LSM
   * frontier, round counters as stamps, failures read from `fetch_log`. */
  private val SnapshotFormat = "2"

  /** A crawl round's counters as stamps, by field name; a reset commit
   * stamps none (see [[roundStats]]). */
  private def counterStamps(rs: RoundStats): Map[String, String] =
    rs.productElementNames.zip(rs.productIterator.map(_.toString)).toMap - "round"

  /** The counters of committed round `r` whose meta is `m`, or None for a
   * reset commit. */
  private def roundStats(r: Int, m: Map[String, String]): Option[RoundStats] =
    m.get("dispatched").map { _ =>
      val Seq(d, c, f, q, a, fs, ss) = Seq("dispatched", "completed", "failed",
        "requeued", "admitted", "frontierSize", "seenSize").map(m(_).toLong)
      RoundStats(r, d, c, f, q, a, fs, ss)
    }

  /** Manifest meta of committed round `r`, checked against the one
   * snapshot format the engine reads ([[SnapshotFormat]]) and every
   * [[StampKeys]] stamp. Resume must be exact from any round boundary, so
   * any other snapshot fails here rather than being converted or
   * re-counted. */
  private def roundMeta(snap: SnapshotTable, r: Int): Map[String, String] = {
    val m = snap.meta(r)
    val format = m.getOrElse("snapshotFormat", "absent")
    val problems =
      (if (format == SnapshotFormat) Nil
       else Seq(s"snapshotFormat is $format, expected $SnapshotFormat")) ++
        StampKeys.filterNot(m.contains).map(k => s"meta stamp $k is missing")
    if (problems.nonEmpty) throw new IllegalStateException(
      s"unsupported crawl snapshot at ${snap.root}, round $r: ${problems.mkString("; ")}")
    m
  }

  /** The seen sketch committed with round `r`. A missing or unreadable
   * blob is rebuilt from `seen`: the sketch is reconstructible state, so
   * it never forfeits a resume or a reset. */
  private def loadSketch(snap: SnapshotTable, r: Int, seen: DataFrame,
                         cfg: CrawlConfig): SeenSketch =
    snap.loadBlob("seen_sketch", r)
      .flatMap(b => scala.util.Try(SeenSketch.deserialize(b)).toOption)
      .getOrElse(SeenSketch.build(seen, "url", cfg.seenSketch, cfg.sketchCapacity))

  /** Live rows of a RAW (absolute-rank) frontier view: a row is live iff
   * its absolute enqueue rank lies past the host's dispatch total —
   * dispatch always consumes a per-host PREFIX of the rank sequence, so
   * `host_rank > dispatched(host)` is exact, with no tombstones and no
   * per-row state. */
  private[graft] def liveRows(frontierRaw: DataFrame, hosts: DataFrame): DataFrame =
    frontierRaw
      .join(hosts.select("host", "dispatched"), Seq("host"), "left_outer")
      .where(col("host_rank") > coalesce(col("dispatched"), lit(0L)))
      .drop("dispatched")

  /**
   * LSM-frontier dispatch (T4 at the 10^10-row design point). Input is the
   * RAW frontier view — live rows ∪ rows dispatched in earlier rounds —
   * whose `host_rank` is the per-host ABSOLUTE enqueue rank (consecutive
   * 1..k in seq order over every row ever enqueued for the host, dead or
   * alive). With disp = rows of the host dispatched so far (the same
   * dispatch history the politeness budget is computed from), liveness and
   * politeness collapse into ONE predicate:
   *
   *   dispatched this round  ⇔  disp < host_rank ≤ disp + remaining
   *
   * The deferred remainder is NEVER touched: not re-ranked (the shift is
   * absorbed into next round's larger disp), not materialized, and above
   * all not rewritten — the round's whole frontier cost is one read pass
   * over the raw view plus an O(dispatched) checkpoint, so per-round I/O
   * tracks the politeness budget, not the frontier size.
   *
   * `budget` carries (host, remaining, allow, disp_total); hosts absent
   * from it default to (defaultRemaining, allow, 0).
   *
   * JOIN STRATEGY, size-gated like the fetch join: the budget side is
   * per-HOST (one row per policy/dispatch-history host), so when the
   * caller can bound its row count under `broadcastRowLimit` the budget
   * is broadcast and the dispatch touches the frontier with NO exchange
   * at all. run() maintains that bound for free (policy rows counted once
   * per run + the `hosts` row count observed during each commit's own
   * write and stamped in its manifest). Past the limit — 10^8+ distinct
   * hosts — it degrades to a shuffle-hash join (hinted: a sort-merge join
   * would re-sort the frontier); AQE may still upgrade it to broadcast at
   * runtime.
   */
  def dispatchSelectAbs(frontierRaw: DataFrame, budget: DataFrame,
                        defaultRemaining: Long,
                        budgetRowBound: Option[Long] = None,
                        broadcastRowLimit: Long = 1000000L): DataFrame = {
    val budgetSide =
      if (budgetRowBound.exists(_ <= broadcastRowLimit)) broadcast(budget)
      else budget.hint("shuffle_hash")
    frontierRaw
      .join(budgetSide, Seq("host"), "left_outer")
      .withColumn("disp_", coalesce(col("disp_total"), lit(0L)))
      .withColumn("rem_",
        greatest(coalesce(col("remaining"), lit(defaultRemaining)), lit(0L)))
      .where(col("host_rank") > col("disp_") &&
        col("host_rank") <= col("disp_") + col("rem_"))
      .select(col("url"), col("host"), col("depth"), col("retry"), col("seq"),
        coalesce(col("allow"), lit(true)).as("robots_allow"))
      // one materialization, O(dispatched): the slice is consumed by the
      // fetch join, the missing anti-join, and the dispatch-count agg
      .localCheckpoint(true)
  }

  // ---- one round -----------------------------------------------------------

  /** The seen set in its join layout (see [[foldSeen]]): a folded base plus
   * the folded delta tiers appended since the base's last refold, all
   * checkpointed. The parquet hybrid table stays the only durable form —
   * this is purely the hot-path join layout. */
  private case class SeenLsm(base: DataFrame, deltas: List[DataFrame] = Nil,
                             deltaRows: Long = 0L) {
    def all: DataFrame = deltas.foldLeft(base)(_ unionByName _)

    /** `n` new urls, `total` seen rows once they are in: one more folded
     * delta tier, or — when the deltas would reach a quarter of the total
     * or the anti-join chain 8 links — ONE refold of everything into the
     * base. */
    def append(urls: DataFrame, n: Long, total: Long): SeenLsm =
      if (deltas.length + 1 >= 8 || (deltaRows + n) * 4 >= total)
        SeenLsm(foldSeen(all.unionByName(urls)))
      else SeenLsm(base, deltas :+ foldSeen(urls), deltaRows + n)
  }

  /** Everything a round reads, and everything a commit writes
   * ([[commitState]]). [[load]] builds it from a committed round, the same
   * way for a resume, for the next round of a running crawl and for a
   * reset.
   *
   *  - `frontier` is the RAW hybrid (LSM) view — live rows ∪ rows
   *    dispatched in earlier rounds — with ABSOLUTE per-host enqueue
   *    ranks; a row is live iff host_rank > dispatched(host), so dispatch
   *    never rewrites the deferred remainder (see [[dispatchSelectAbs]]).
   *  - `hosts` is the per-host state (see [[plusHosts]]); its `enq`
   *    column supplies the rank offsets new entries queue behind.
   *    `hostRows` bounds its row count for the broadcast gates.
   *  - `frontierDeadRows` and `frontierTiers` count the dead rows and
   *    delta tiers the stored frontier accumulated since its last base
   *    rewrite: the compaction triggers (see [[commitState]]).
   *  - `seen` and `sketch` are the only state kept in memory between
   *    rounds (see [[round]]).
   *  - `pending` holds the entries queued since the last commit
   *    (`pendingRows` of them, also in `frontier`); the next commit
   *    appends them to the stored frontier as one tier, unless it rewrites
   *    the base.
   */
  private case class RoundState(
      round: Int, nextSeq: Long, frontierSize: Long, seenSize: Long,
      frontier: DataFrame, hosts: DataFrame, hostRows: Long,
      frontierDeadRows: Long, frontierTiers: Int,
      seen: SeenLsm, sketch: SeenSketch,
      pending: DataFrame, pendingRows: Long)

  /** What every round of one [[run]] reads unchanged. `policies` is the
   * tiny per-host policy table (host, allow, crawl_delay_s, max_pages),
   * `policyRows` its row count, taken at most once per run: by the first
   * round's dispatch gate, so a run with no round left to run skips it. */
  private case class RunCtx(spark: SparkSession, snap: SnapshotTable,
                            docs: DataFrame, policies: DataFrame,
                            cfg: CrawlConfig, sketchThreshold: Long) {
    lazy val policyRows: Long = policies.count()
  }

  /** The state of a fresh crawl before its seeds: nothing enqueued, seen
   * or dispatched. */
  private def emptyState(spark: SparkSession, cfg: CrawlConfig): RoundState = {
    import spark.implicits._
    val frontier = Seq.empty[(String, String, Int, Int, Long, Long)]
      .toDF("url", "host", "depth", "retry", "seq", "host_rank")
    val hosts = Seq.empty[(String, Long, Long, Long, Boolean)]
      .toDF("host", "cnt", "dispatched", "enq", "quarantined")
    RoundState(0, 0L, 0L, 0L, frontier, hosts, 0L, 0L, 0,
      SeenLsm(Seq.empty[String].toDF("url")),
      SeenSketch.empty(cfg.seenSketch, cfg.sketchCapacity), frontier, 0L)
  }

  /** The state committed at round `r`, for round r + 1: the meta stamps
   * (format-checked, see [[roundMeta]]), the frontier and the per-host
   * table, read back from the snapshot. Reading them back truncates
   * lineage. A resume, the next round of a running crawl and a reset all
   * read the state here, and only here; `seen` and `sketch` are passed in
   * (see [[round]]). */
  private def load(spark: SparkSession, snap: SnapshotTable, r: Int, seen: SeenLsm,
                   sketch: SeenSketch): RoundState = {
    val m = roundMeta(snap, r)
    def stamp(k: String): Long = m(k).toLong
    val frontier = snap.loadHybrid(spark, "frontier", r)
    RoundState(r + 1, stamp("nextSeq"), stamp("frontierSize"), stamp("seenSize"),
      frontier, snap.loadReplaced(spark, "hosts", r), stamp("hostRows"),
      stamp("frontierDeadRows"), stamp("frontierTiers").toInt, seen, sketch,
      frontier.limit(0), 0L)
  }

  /** Sketch-prefiltered [[admit]] against the state's seen LSM and host
   * counts (the prefilter engages at `sketchThreshold`, see [[run]]). */
  private def admitTo(ctx: RunCtx, st: RoundState, candidates: DataFrame): DataFrame = {
    val prefilter =
      if (st.seenSize >= ctx.sketchThreshold && !st.sketch.saturated) Some(st.sketch)
      else None
    admit(ctx.spark, candidates, st.seen.base, st.hosts.select("host", "cnt"), ctx.cfg,
      prefilter, st.seen.deltas)
      .select("url", "host", "depth", "retry", "ord1", "ord2", "host_rank")
  }

  /** Rank-offset side for new entries: gated broadcast of the per-host
   * enqueue totals (same size class and gate as the dispatch budget). */
  private def enqSide(cfg: CrawlConfig, st: RoundState): DataFrame = {
    val enq = st.hosts.select("host", "enq")
    if (st.hostRows <= cfg.broadcastRowLimit) broadcast(enq) else enq.hint("shuffle_hash")
  }

  /** New frontier entries from `batch`, whose `host_rank` is a batch-local
   * per-host rank in the total order `order`: seq numbers from
   * `st.nextSeq` in that order, and ABSOLUTE ranks behind everything the
   * host ever enqueued (batch rank + the host's `enq` total).
   * Checkpointed, with their count. */
  private def queue(spark: SparkSession, cfg: CrawlConfig, st: RoundState, batch: DataFrame,
                    order: Seq[Column], what: String): (DataFrame, Long) =
    checkpointed(assignSeq(spark, batch, order, st.nextSeq)
      .join(enqSide(cfg, st), Seq("host"), "left_outer")
      .withColumn("host_rank", col("host_rank") + coalesce(col("enq"), lit(0L)))
      .select("url", "host", "depth", "retry", "seq", "host_rank"), st.round, what)

  /** `sketch` if healthy, else rebuilt from `seen` (`seenSize` rows) at
   * growing capacity: a saturated sketch never serves as the admission
   * prefilter. */
  private def healthy(sketch: SeenSketch, seen: SeenLsm, seenSize: Long,
                      cfg: CrawlConfig): SeenSketch =
    if (!sketch.saturated) sketch
    else rebuildSketch(seen.all, cfg.seenSketch,
      math.max(4L * seenSize, sketch.capacity * 4))

  /** A `kind` sketch of `seen`, built at `capacity` and rebuilt at 4x until
   * it is not saturated (amortized O(seen) per crawl, like a growable
   * array). */
  @annotation.tailrec
  private def rebuildSketch(seen: DataFrame, kind: String, capacity: Long): SeenSketch = {
    val s = SeenSketch.build(seen, "url", kind, capacity)
    if (s.saturated) rebuildSketch(seen, kind, capacity * 4) else s
  }

  /** Seeds (a fresh crawl's, and config hot-reload's, T5 gcloud_master.py:
   * 542-617): `urls` are admitted at depth 0 through the SAME gate as
   * extracted links (seen-dedup D1/D3, allowed-domains, per-host cap) and
   * appended at the back of the queue before the round's dispatch. */
  private def inject(ctx: RunCtx, st: RoundState, urls: Seq[String]): RoundState = {
    if (urls.isEmpty) return st
    import ctx.spark.implicits._
    val cand = urls.zipWithIndex.toDF("url", "idx")
      .select(col("url"), gf.url_policy_host(col("url")).as("host"),
        lit(0).as("depth"), lit(0).as("retry"),
        lit(-1L).as("ord1"), col("idx").as("ord2"))
    // injected entries queue BEHIND everything the host ever enqueued
    // (admit's host_rank is the batch-local rank)
    val (entries, n) = queue(ctx.spark, ctx.cfg, st, admitTo(ctx, st, cand),
      Seq(col("ord1"), col("ord2")), "injected entries")
    if (n == 0) return st
    val seen = st.seen.append(entries.select("url"), n, st.seenSize + n)
    SeenSketch.addAll(st.sketch, entries.select("url"), "url", n)
    st.copy(nextSeq = st.nextSeq + n, frontierSize = st.frontierSize + n,
      seenSize = st.seenSize + n, frontier = st.frontier.unionByName(entries),
      // checkpointed: every stage of the round reads it, and one fold beats
      // one per reader
      hosts = plusHosts(st.hosts, hostDelta(entries, "cnt"), hostDelta(entries, "enq"))
        .localCheckpoint(true),
      hostRows = st.hostRows + n, // safe over-bound until the commit observes it
      seen = seen, pending = st.pending.unionByName(entries),
      pendingRows = st.pendingRows + n)
  }

  /** The round's dispatched slice of the frontier under the politeness
   * budget (T4), checkpointed (see [[dispatchSelectAbs]]). */
  private def dispatch(ctx: RunCtx, st: RoundState): DataFrame = {
    val cfg = ctx.cfg
    // ---- politeness window (T4): per-host budget from accumulated time.
    // total_allowed(host, r) = floor((r+1)*roundSeconds / delay); the
    // remaining budget subtracts everything already dispatched — this
    // reproduces the reference's min-interval schedule (1 fetch per
    // crawl_delay seconds per host) without sleeping. Full-outer with the
    // dispatch history so hosts without a policy row still accumulate
    // against the default delay (oracle: delayOf falls back to default).
    // The policy table is the LEFT of the outer join, so no explicit
    // broadcast hint (build-left is illegal for left_outer) — AQE
    // broadcasts the legal side on its own.
    val budget = ctx.policies
      .join(st.hosts.select("host", "dispatched"), Seq("host"), "full_outer")
      .withColumn("total_allowed",
        floor(lit((st.round + 1) * cfg.roundSeconds) /
          coalesce(when(col("crawl_delay_s") > 0, col("crawl_delay_s")),
            lit(cfg.defaultCrawlDelayS))))
      .withColumn("remaining",
        col("total_allowed") - coalesce(col("dispatched"), lit(0L)))
      .select(col("host"), col("remaining"), col("allow"),
        coalesce(col("dispatched"), lit(0L)).as("disp_total"))
    val defaultTotal =
      math.floor((st.round + 1) * cfg.roundSeconds / cfg.defaultCrawlDelayS).toLong

    // dispatch selection over the RAW LSM frontier (see dispatchSelectAbs
    // — one hash join + one O(dispatched) materialization; liveness and
    // politeness are a single rank predicate; the deferred remainder is
    // never touched; the budget side broadcasts while bounded).
    dispatchSelectAbs(st.frontier, budget, defaultTotal,
      Some(ctx.policyRows + st.hostRows), cfg.broadcastRowLimit)
  }

  /** The "fetch": the dispatched slice joined against docs, each row
   * typed by its fetch status and error and its spans extracted.
   * Checkpointed, with the round's counters observed on the checkpoint. */
  private def fetch(ctx: RunCtx, st: RoundState,
                    dispatched: DataFrame): (DataFrame, Map[String, Long]) = {
    val cfg = ctx.cfg
    // Inner join finds fetched pages; anti join derives 404s. The
    // join strategy is SIZE-GATED: a broadcast join only while the
    // dispatched count is under cfg.broadcastRowLimit (the per-host
    // budget GROWS with round number, so "dispatched is small" is not an
    // invariant); past the limit, a distributed bloom filter prunes the
    // 100 TB docs scan down to ~dispatched size AT THE SCAN (non-matching
    // rows never shuffle — FPs are re-checked exactly by the equi-join),
    // and a shuffle-hash join finishes, so neither the driver nor any
    // executor ever holds the whole dispatched set.
    // dispatched ⊆ frontier, so when the whole frontier is under the
    // limit the count job is unnecessary (saves one fixed-cost job in
    // the common small-round case)
    val nDisp =
      if (st.frontierSize <= cfg.broadcastRowLimit) st.frontierSize
      else dispatched.count() // cheap: narrow over the checkpointed phase-2 rows
    val (fetched, missing) =
      if (nDisp <= cfg.broadcastRowLimit) {
        val f = ctx.docs.join(broadcast(dispatched), col("doc_id") === col("url"))
        val m = dispatched.join(
          broadcast(f.select(col("url").as("fetched_url"))),
          col("url") === col("fetched_url"), "left_anti")
        (f, m)
      } else {
        val urlBloom = SeenSketch.build(
          dispatched.select("url"), "url", "bloom", math.max(nDisp, 1024L))
        val bcBloom = ctx.spark.sparkContext.broadcast(urlBloom)
        val prunedDocs = ctx.docs.where(
          graft.functions.sketch.sketch_contains(col("doc_id"), bcBloom))
        val f = prunedDocs.join(dispatched.hint("shuffle_hash"),
          col("doc_id") === col("url"))
        val m = dispatched.join(
          f.select(col("url").as("fetched_url")).hint("shuffle_hash"),
          col("url") === col("fetched_url"), "left_anti")
        (f, m)
      }

    // problematic-domain quarantine (F9, gcloud_crawler.py:242-253):
    // fetches to quarantined hosts short-circuit as failures, from the
    // round AFTER the quarantine (BSP boundary normalization of the
    // reference's immediate set-add), still consuming the dispatch slot.
    // The quarantined hosts are few: a broadcast join.
    val quarantined = broadcast(
      st.hosts.where(col("quarantined")).select(col("host"), lit(true).as("quar")))
    val resultsObs = new Observation()
    val results = fetched.select(
      col("url"), col("host"), col("depth"), col("retry"), col("seq"), col("robots_allow"),
      when(col("retry") < col("flaky_fails"), lit("timeout"))
        .when(col("content_type") =!= "text/html", lit("ok_non_html"))
        .otherwise(lit("ok")).as("fetched"),
      col("raw"), col("content_type"))
      .unionByName(missing.select(
        col("url"), col("host"), col("depth"), col("retry"), col("seq"), col("robots_allow"),
        lit("failed").as("fetched"),
        lit(null).cast("string").as("raw"), lit(null).cast("string").as("content_type")))
      .join(quarantined, Seq("host"), "left_outer")
      // the reference's gate order: quarantine, then robots (checked before
      // fetching, so a dangling URL on a disallowed host is
      // skipped_robots, not a 404), then the fetch itself
      .withColumn("status", when(col("quar").isNotNull, lit("quarantined"))
        .when(lit(cfg.respectRobots) && !col("robots_allow"), lit("skipped_robots"))
        .otherwise(col("fetched")))
      // timeouts requeue until retry + 1 passes maxRetries (T2/T3)
      .withColumn("error", when(col("status") === "failed", lit("http_404"))
        .when(col("status") === "timeout",
          when(col("retry") + 1 > cfg.maxRetries, lit("retries_exhausted"))
            .otherwise(lit("fetch_timeout")))
        .when(col("status") === "skipped_robots", lit("robots_disallowed"))
        .when(col("status") === "quarantined", lit("quarantined_host")))
      .drop("robots_allow", "fetched", "quar")
      .withColumn("spans",
        when(col("status") === "ok", gf.extract_spans(col("raw")))
          .otherwise(array().cast(graft.functions.SpanExtract.schema)))
      // the round's counters, observed on this checkpoint (no job of their own)
      .observe(resultsObs, count(lit(1)).as("dispatched"),
        count(when(col("status") === "ok", 1)).as("ok"),
        count(when(col("status").isin("ok", "ok_non_html"), 1)).as("completed"),
        count(when(col("error").isin(TerminalErrors: _*), 1)).as("failed"),
        count(when(col("error") === "fetch_timeout", 1)).as("requeued"),
        count(when(col("error") === "retries_exhausted", 1)).as("exhausted"))
      .localCheckpoint(true) // parse once; reused by links/doc_store/log
    (results, observedCounts(resultsObs, st.round, "results by status"))
  }

  /** Link expansion and admission: the ok pages' ordered anchors,
   * canonicalized, through the admission gate. Checkpointed, with the
   * admitted count. */
  private def expand(ctx: RunCtx, st: RoundState,
                     results: DataFrame): (DataFrame, Long) = {
    val parents = results.where(col("status") === "ok" &&
      col("depth") < ctx.cfg.maxDepth) // depth gate F6 (gcloud_master.py:425-427)
    val candidates = parents
      .select(col("url").as("page_url"), col("depth").as("parent_depth"),
        col("seq").as("ord1"), posexplode(col("spans")).as(Seq("pos", "span")))
      .where(col("span.kind") === "link")
      .select(
        gf.url_canonicalize(col("page_url"), col("span.media_ref")).as("url"),
        (col("parent_depth") + 1).as("depth"), col("ord1"),
        col("span.offset").as("ord2"))
      .where(col("url").isNotNull)
      .withColumn("host", gf.url_policy_host(col("url")))
      .withColumn("retry", lit(0))
    checkpointed(admitTo(ctx, st, candidates), st.round, "admitted")
  }

  /** The round's new frontier entries — timeout requeues, then admitted
   * links — with sequence numbers and absolute per-host ranks.
   * Checkpointed, with their count. */
  private def enqueue(ctx: RunCtx, st: RoundState, results: DataFrame,
                      admitted: DataFrame): (DataFrame, Long) = {
    // ---- timeout requeue (T2/T3): the timeouts [[fetch]] did not mark
    // retries_exhausted re-enter with retry+1.
    // Requeues re-enter the frontier, so they need batch-local per-host
    // ranks for the host_rank invariant. This window runs over the
    // REQUEUE SET ONLY — bounded by the round's politeness budget per
    // host (requeues ⊆ dispatched), never the frontier — so it stays
    // small by construction at any crawl size.
    val reqW = Window.partitionBy(col("host")).orderBy(col("seq"))
    val requeue = results.where(col("error") === "fetch_timeout")
      .withColumn("host_rank", row_number().over(reqW).cast(LongType))
      .select(col("url"), col("host"), col("depth"),
        (col("retry") + 1).as("retry"), col("seq").as("ord1"), lit(0).as("ord2"),
        col("host_rank"))

    // ---- new sequence numbers: timeout requeues go to the back of the
    // queue first (gcloud_master.py:525-531), then children in
    // (parent_seq, link_pos) BFS order (:336).
    // Batch-local per-host ranks follow the same order: requeues rank
    // first, admitted rows offset by the host's requeue count — admit's
    // host_rank is already the admitted-batch rank.
    val reqCnt = requeue.groupBy("host").agg(count(lit(1)).as("rq_"))
    val adds = requeue.withColumn("bucket", lit(0))
      .unionByName(admitted
        .join(broadcast(reqCnt), Seq("host"), "left_outer")
        .withColumn("host_rank", col("host_rank") + coalesce(col("rq_"), lit(0L)))
        .drop("rq_")
        .withColumn("bucket", lit(1)))
    queue(ctx.spark, ctx.cfg, st, adds, Seq(col("bucket"), col("ord1"), col("ord2")),
      "new entries")
  }

  /** One BSP round over `st`: inject → dispatch → fetch → expand+admit →
   * enqueue → commit. Returns its stats and the state the next round
   * reads. */
  private def round(ctx: RunCtx, st0: RoundState,
                    injected: Seq[String]): (RoundStats, RoundState) = {
    // a saturated sketch (reloaded from a saturated blob, or seeds past
    // capacity) is rebuilt before the round's admissions use it
    val st = inject(ctx,
      st0.copy(sketch = healthy(st0.sketch, st0.seen, st0.seenSize, ctx.cfg)), injected)
    val dispatched = dispatch(ctx, st)
    val (results, counts) = fetch(ctx, st, dispatched)
    val (admitted, nAdmitted) = expand(ctx, st, results)
    val (newEntries, nAdds) = enqueue(ctx, st, results, admitted)

    // ---- state updates (the deferred remainder needs NONE: its rows sit
    // untouched in the raw LSM view; next round's larger dispatch totals
    // shift their effective ranks arithmetically). Seen grows by admitted
    // only (requeues are already-seen URLs).
    val seen =
      if (nAdmitted == 0) st.seen
      else st.seen.append(admitted.select("url"), nAdmitted, st.seenSize + nAdmitted)
    // incremental sketch maintenance, DISTRIBUTED: per-partition delta
    // shards over this round's admitted URLs, merged into the running
    // sketch on the driver (SeenSketch.addAll) — O(adds) spread across
    // executors, never a driver-side row loop; rebuilt on saturation.
    if (nAdmitted > 0) SeenSketch.addAll(st.sketch, admitted.select("url"), "url", nAdmitted)
    val sketch = healthy(st.sketch, seen, st.seenSize + nAdmitted, ctx.cfg)
    val stats = commitRound(ctx, st, dispatched, results, counts, admitted, nAdmitted,
      newEntries, nAdds, seen, sketch)
    // the next round reads the committed snapshot, except `seen`: its
    // in-memory LSM form (folded base + folded deltas, all checkpointed ⇒
    // lineage already truncated) is row-for-row the parquet hybrid's
    // content, and reloading would re-pay the fold shuffle every round —
    // the exact cost the LSM exists to avoid. The sketch is the one the
    // commit serialized.
    (stats, load(ctx.spark, ctx.snap, st.round, seen, sketch))
  }

  /** Commit round `st.round`: the state after its dispatch, fetches and
   * new entries, with the round's log tables and its counters (see
   * [[commitState]]). */
  private def commitRound(ctx: RunCtx, st: RoundState, dispatched: DataFrame,
                          results: DataFrame, n: Map[String, Long],
                          admitted: DataFrame, nAdmitted: Long,
                          newEntries: DataFrame, nAdds: Long,
                          seen: SeenLsm, sketch: SeenSketch): RoundStats = {
    val round = st.round
    // per-host state: enqueue totals grow by this round's new entries
    // (requeues included — they re-enter at fresh absolute ranks), and
    // hosts whose URLs exhausted their retries this round join the
    // quarantine (the reference's connection-failure path,
    // gcloud_crawler.py:432,452) — effective from the NEXT round. Only a
    // round with exhausted timeouts rescans the results for them.
    val newHosts = plusHosts(st.hosts, Seq(hostDelta(admitted, "cnt"),
      hostDelta(dispatched, "dispatched"), hostDelta(newEntries, "enq")) ++
      Option.when(n("exhausted") > 0)(
        hostDelta(results.where(col("error") === "retries_exhausted"),
          "quarantined", lit(true))): _*)

    // ---- lineage + docs-for-indexing (S7/S9: fetch_log + doc_store).
    // fetch_log is the one record of each fetch's outcome (worker stats,
    // reset's failures). part_id records which executor partition
    // fetched/extracted the row (lineage only — never ordering).
    val fetchLog = results.select(
      lit(round).as("round"), col("url"), col("host"), col("depth"),
      col("seq"), col("status"), spark_partition_id().as("part_id"), col("error"),
      when(col("status") === "ok",
        size(filter(col("spans"), s => s("kind") === "link")))
        .otherwise(lit(0)).as("links_found"))

    val docStore = results.where(col("status") === "ok").select(
      lit(round).as("round"), col("url"),
      coalesce(element_at(
        transform(filter(col("spans"), s => s("kind") === "title"), s => s("text")), 1),
        lit("")).as("title"),
      concat_ws(" ", transform(
        filter(col("spans"), s => s("text") =!= ""), s => s("text"))).as("text"))

    // ---- raw-page store (S6, gcloud_crawler.py:555-590): every
    // successfully fetched page keeps its raw body. Written UNBUCKETED,
    // straight from the checkpointed results — raw bodies are the round's
    // biggest payload and a bucketing repartition would shuffle all of
    // them every round; the point lookup (J6) still prunes via parquet
    // min/max footer stats on the url column.
    val pages = results.where(col("status").isin("ok", "ok_non_html")).select(
      lit(round).as("round"), col("url"), col("host"),
      col("raw"), col("content_type"))

    // ---- incremental inverted index (T8/S9, gcloud_indexer.py:43-62,
    // 356-366): postings for THIS round's docs only — idempotent on
    // (term, url) globally because seen-dedup admits each url once ever.
    val postingsRows = SearchIndex.postings(
      docStore.select("url", "title", "text")).withColumn("round", lit(round))

    // ---- round counters (CrawlState sizes, gcloud_master.py:686-688),
    // stamped in the SAME atomic manifest, so /status projections (§3.3)
    // read committed state, never driver state. They are OBSERVED on the
    // results checkpoint: no job of their own, since per-round fixed job
    // cost bounds the crawl round at this scale.
    val (nDispatched, nCompleted) = (n("dispatched"), n("completed"))
    val next = st.copy(nextSeq = st.nextSeq + nAdds,
      // no count job: dispatch consumes a per-host prefix of the live set,
      // so the new live size is pure arithmetic
      frontierSize = st.frontierSize - nDispatched + nAdds, seenSize = st.seenSize + nAdmitted,
      frontier = st.frontier.unionByName(newEntries), hosts = newHosts,
      // a new host brings a new entry, and injected ones are already in
      // st.hostRows: a safe over-bound until the commit observes the count
      hostRows = st.hostRows + nAdds, frontierDeadRows = st.frontierDeadRows + nDispatched,
      seen = seen, sketch = sketch,
      pending = st.pending.unionByName(newEntries), pendingRows = st.pendingRows + nAdds)
    val rs = RoundStats(round, nDispatched, nCompleted, n("failed"),
      n("requeued"), nAdds, next.frontierSize, next.seenSize)

    val appended = scala.collection.mutable.Map.empty[String, DataFrame]
    if (nAdmitted > 0 || st.pendingRows > 0)
      appended += "seen" -> st.pending.select("url").unionByName(admitted.select("url"))
    if (nDispatched > 0) appended += "fetch_log" -> fetchLog
    if (nCompleted > 0) appended += "pages" -> pages
    // index-size stats (A4, gcloud_indexer.py:566-573): approx distinct
    // terms/docs of this round's postings DELTA, observed during the
    // postings write itself (zero extra pass) and recorded in the same
    // atomic manifest; Crawler.indexStats gives the exact cumulative
    // numbers on demand.
    val idxObs = if (n("ok") > 0) Some(new Observation()) else None
    idxObs.foreach { o =>
      appended += "doc_store" -> docStore
      appended += "postings" -> postingsRows.observe(o,
        approx_count_distinct(col("term")).as("terms"),
        approx_count_distinct(col("url")).as("docs"),
        count(lit(1)).as("postings"))
    }
    // every per-host delta comes from dispatched or injected rows, so
    // without either `hosts` is unchanged; round 0 writes it
    commitState(ctx.spark, ctx.snap, next,
      hostsChanged = round == 0 || nDispatched > 0 || st.pendingRows > 0,
      counters = Some(rs), appended = appended.toMap,
      // index stats from the observed postings write (see awaitObs): any
      // failure degrades to stats-less meta — metrics must never abort a
      // commit whose table writes succeeded
      metaLate = () => idxObs.flatMap(o => awaitObs(o, 60)).map(m =>
        Map("idx_new_terms_approx" -> m("terms").toString,
          "idx_new_docs_approx" -> m("docs").toString,
          "idx_new_postings" -> m("postings").toString))
        .getOrElse(Map.empty[String, String]))
    rs
  }

  /** Commit state `st` as round `st.round` (T6), in one atomic manifest:
   * the one write path of a crawl state, for crawl rounds and resets alike.
   * Per-round write cost tracks what CHANGED, not accumulated table sizes:
   *  - `hosts` is replaced, or CARRIED when `hostsChanged` is false: the
   *    manifest points at the round that last wrote it, no data moves.
   *    Its row count is observed during the write and stamped for the
   *    next round's broadcast gates (`st.hostRows` is the fallback
   *    over-bound, so the gates never under-estimate their build sides).
   *  - the FRONTIER is an LSM hybrid, physically host-hash bucketed (the
   *    rule's `bucket(N, host_hash)` partitioned priority frontier):
   *    `st.pending` appends as one delta tier, and the base is rewritten
   *    (compacted to live rows) only at round 0, when dead rows outgrow
   *    live rows or when the tier chain gets long. Frontier bytes written
   *    are therefore ∝ entries queued, never ∝ frontier size — the
   *    write-amplification bound that makes a 10^10-row frontier
   *    commit-able every round. `st.frontierDeadRows`/`st.frontierTiers`
   *    count what the stored frontier holds before this commit.
   *  - `replaced` and `appended` are the other tables written: `seen`
   *    appends its new urls, is replaced, or is left as it is, and a
   *    crawl round appends its log tables.
   *  - the meta stamps every [[StampKeys]] value of the committed state,
   *    the `counters` when present, and `metaLate`'s values; the blob is
   *    `st.sketch`.
   */
  private def commitState(spark: SparkSession, snap: SnapshotTable, st: RoundState,
                          hostsChanged: Boolean, counters: Option[RoundStats] = None,
                          replaced: Map[String, DataFrame] = Map.empty,
                          appended: Map[String, DataFrame] = Map.empty,
                          metaLate: () => Map[String, String] = () => Map.empty): Unit = {
    val r = st.round
    val (hostsWrite, hostsObs) = countObs(st.hosts)
    val compact = r == 0 || st.frontierDeadRows > st.frontierSize || st.frontierTiers >= 64
    val added = st.pendingRows > 0
    val (withFrontier, appendedAll) =
      // base rewrite: live rows only (dead prefixes drop out), absolute
      // ranks preserved — O(live), amortized against the dead rows shed
      if (compact) (replaced + ("frontier" -> liveRows(st.frontier, st.hosts)), appended)
      else (replaced, appended ++ Option.when(added)("frontier" -> st.pending))
    val stamps = Map("nextSeq" -> st.nextSeq, "frontierSize" -> st.frontierSize,
      "seenSize" -> st.seenSize, "frontierDeadRows" -> (if (compact) 0L else st.frontierDeadRows),
      "frontierTiers" -> (if (compact) 0 else st.frontierTiers + (if (added) 1 else 0)))
    snap.commit(spark, r,
      replaced = withFrontier ++ Option.when(hostsChanged)("hosts" -> hostsWrite),
      appended = appendedAll,
      meta = stamps.map { case (k, v) => k -> v.toString } ++
        counters.map(counterStamps).getOrElse(Map.empty) + ("snapshotFormat" -> SnapshotFormat),
      blobs = Map("seen_sketch" -> SeenSketch.serialize(st.sketch)),
      bucketed = Map("frontier" -> pmod(xxhash64(col("host")), lit(SnapshotTable.Buckets))),
      carried = if (hostsChanged) Map.empty else Map("hosts" -> (r - 1)),
      metaLate = () => Map("hostRows" -> (
        if (hostsChanged) rowsOr(hostsObs, st.hostRows) else st.hostRows).toString) ++ metaLate())
  }

  /** Run the crawl to completion (or maxRounds), committing one snapshot
   * per round under `root`. Resumes from the latest committed round when
   * one exists (restore semantics gcloud_master.py:274-318).
   *
   * INVARIANT — `docs.doc_id` must be unique. The fetch join dispatches
   * one result row per (frontier url, matching doc); a duplicated doc_id
   * would duplicate result rows, inflating the arithmetic round counters
   * (nDispatched, frontierSize — potentially driving the loop guard
   * negative) and double-indexing the page. Validate untrusted corpora
   * with [[duplicateDocIds]] before crawling; the engine does not pay a
   * per-round distinct over the (100 TB) docs table to re-check it.
   *
   * `sketchThreshold`: seen-set size at which the broadcast sketch
   * prefilter engages in the admission anti-join (it is MAINTAINED from
   * round 0 — incrementally, O(admitted) per round — and checkpointed with
   * every snapshot, so engaging it is free; below the threshold the plain
   * anti-join is cheaper than a broadcast + filter pass).
   *
   * `stopRequested`: cooperative graceful-stop probe (the reference's
   * POST /stop_crawl → later start resumes, templates/app.py:753-805),
   * polled once per round at the loop boundary. When it turns true the
   * call returns after the last committed round with the frontier intact
   * — statusSummary still reports is_running while work remains — and a
   * subsequent run() resumes to the exact uninterrupted schedule. */
  def run(spark: SparkSession, docs: Dataset[Doc], seedUrls: Seq[String],
          policies: Dataset[HostPolicy], cfg: CrawlConfig, root: String,
          maxRounds: Int = 10000, sketchThreshold: Long = 100000L,
          seedFeed: Int => Seq[String] = _ => Nil,
          stopRequested: () => Boolean = () => false): CrawlSummary = {
    val snap = new SnapshotTable(root)
    val ctx = RunCtx(spark, snap, docs.toDF(), policies.toDF(), cfg, sketchThreshold)
    // restore (gcloud_master.py:274-318) or seed (:533-540). `seen` is a
    // HYBRID table: O(admitted) appended per round (a 10^10 seen set must
    // never be rewritten per round), with replace commits only at
    // compactions/resets (SnapshotTable.loadHybrid); in memory it is the
    // folded LSM.
    var state = snap.latestRound match {
      case Some(r) =>
        val seen = snap.loadHybrid(spark, "seen", r)
        load(spark, snap, r, SeenLsm(foldSeen(seen)), loadSketch(snap, r, seen, cfg))
      case None => inject(ctx, emptyState(spark, cfg), seedUrls)
    }
    val stats = scala.collection.mutable.ArrayBuffer.empty[RoundStats]
    // `seedFeed` must be a pure function of the round number (it is called
    // once in the loop guard and once in the body) — the config-hot-reload
    // contract: "what new seeds appeared by round r" (T5).
    // graceful stop (POST /stop_crawl, templates/app.py:753-805): the flag
    // is checked at the ROUND BOUNDARY only — a BSP round either commits
    // whole or not at all, so any stop leaves exactly the state a crash
    // would, and a later run() resumes from it (resume-equivalence spec).
    // statusSummary keeps reporting is_running=true while work remains,
    // mirroring the reference's stopped-but-resumable crawl.
    while (!stopRequested() && state.round < maxRounds &&
           (state.frontierSize > 0 || seedFeed(state.round).nonEmpty)) {
      val (rs, next) = round(ctx, state, seedFeed(state.round))
      stats += rs
      state = next
    }
    CrawlSummary(state.round, stats.toSeq)
  }

  /** doc_id-uniqueness validation for untrusted corpora (see run()'s
   * invariant note): number of doc_ids appearing more than once. One
   * hash-aggregation pass; run it once at ingestion, not per round. */
  def duplicateDocIds(docs: Dataset[Doc]): Long =
    docs.toDF().groupBy("doc_id").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).count()

  /** The snapshot store at `root`, its latest committed round and that
   * round's meta, format-checked ([[roundMeta]]): every read of a
   * committed crawl starts here or at [[load]], so a snapshot of another
   * format fails loudly. A root with no committed round is an error, not
   * an empty crawl. */
  private[operators] def committed(root: String): (SnapshotTable, Int, Map[String, String]) = {
    val snap = new SnapshotTable(root)
    val r = snap.latestRound.getOrElse(throw new IllegalStateException(s"no crawl state at $root"))
    (snap, r, roundMeta(snap, r))
  }

  /** Manifest meta of every committed round at `root`, in order; only the
   * latest is format-checked, as the engine extends only what it accepts. */
  private def roundMetas(root: String): Seq[(Int, Map[String, String])] = {
    val (snap, r, m) = committed(root)
    (0 until r).map(i => i -> snap.meta(i)) :+ (r -> m)
  }

  /** Status projection (§3.3, cli.py:98-124 / GET /status): one counter
   * row per crawl round, read from the round manifests — queue/completed/
   * failed/seen sizes per round, no driver state involved. Reset commits
   * carry no counters and add no row. */
  def status(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    roundMetas(root).flatMap { case (r, m) => roundStats(r, m) }.toDF()
  }

  /** Exact index-size stats on demand (A4 remainder; the reference's
   * indexer heartbeat reports len(url_index)/len(content_index),
   * gcloud_indexer.py:566-573): distinct terms, indexed docs, and posting
   * rows of the PERSISTED cumulative index. Exact countDistinct at call
   * time — the on-demand analog of the reference's O(1) dict-size reads;
   * the per-round manifests additionally carry approx per-round deltas
   * ([[indexStatsHistory]]) observed for free during each postings write. */
  def indexStats(spark: SparkSession, root: String): DataFrame = {
    val (snap, r, _) = committed(root)
    snap.loadAppendedOr(spark, "postings", r, PostingsDdl).agg(
      countDistinct(col("term")).as("distinct_terms"),
      countDistinct(col("url")).as("indexed_docs"),
      count(lit(1)).as("postings_rows"))
  }

  /** Per-round index growth (round, new_terms_approx, new_docs_approx,
   * new_postings) read from the round manifests — the persisted form of
   * the reference's heartbeat log lines. Rounds that indexed nothing
   * carry no stats and are omitted. */
  def indexStatsHistory(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    roundMetas(root).flatMap { case (round, m) =>
      for {
        t <- m.get("idx_new_terms_approx")
        d <- m.get("idx_new_docs_approx")
        p <- m.get("idx_new_postings")
      } yield (round, t.toLong, d.toLong, p.toLong)
    }.toDF("round", "new_terms_approx", "new_docs_approx", "new_postings")
  }

  /** Full /status projection (templates/app.py:557-601, gcloud_master.py:
   * 197-207): one row with is_running plus the latest counters.
   * is_running = the committed frontier is non-empty (a BSP crawl is
   * "running" iff work remains; the manifest's frontierSize meta is
   * stamped at commit, so this reads no table). */
  def statusSummary(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val (_, r, m) = committed(root)
    // every commit flow stamps frontierSize and seenSize (crawl rounds and
    // resets alike), so is_running and both sizes come from ONE consistent
    // source: a just-reset crawl never reports running=true with size 0,
    // and a forget-reset that shrinks the seen set shows immediately
    val fSize = m("frontierSize").toLong
    Seq((fSize > 0, r, fSize, m("seenSize").toLong))
      .toDF("is_running", "round", "frontier_size", "seen_size")
  }

  /** The reference's `in_progress` list (gcloud_master.py:197-207): URLs
   * dispatched but not yet resolved. At a committed BSP round boundary
   * this is empty BY CONSTRUCTION — every dispatched URL resolves within
   * its round before the commit — so the projection exists for API parity
   * and always returns zero rows (with the reference's schema). */
  def inProgress(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    // same root validation as every sibling projection: a nonexistent or
    // uncommitted crawl is an error, not an empty success
    committed(root)
    Seq.empty[(String, String, Long)].toDF("url", "host", "seq")
  }

  /** The reference's `recently_added` tail (templates/app.py:572-601):
   * the n most recently admitted still-queued URLs — the frontier's top
   * seq values (seq is the global admission order). */
  def recentlyAdded(spark: SparkSession, root: String, n: Int = 5): DataFrame = {
    val (snap, r, _) = committed(root)
    liveFrontier(spark, snap, r, snap.loadReplaced(spark, "hosts", r))
      .orderBy(desc("seq")).limit(n)
      .select("url", "host", "depth", "seq")
  }

  /** The LIVE frontier at committed round `r`, whose `hosts` table is
   * given: the raw hybrid view filtered by the dispatch-prefix liveness
   * predicate. */
  private def liveFrontier(spark: SparkSession, snap: SnapshotTable, r: Int,
                           hosts: DataFrame): DataFrame =
    liveRows(snap.loadHybrid(spark, "frontier", r), hosts)

  /** Raw-page point lookup (J6, /get_html — templates/app.py:807-904):
   * exact url key against the pages store; the equality predicate reaches
   * the parquet scan (footer min/max pruning). */
  def getPage(spark: SparkSession, root: String, url: String): DataFrame = {
    val (snap, r, _) = committed(root)
    snap.loadAppendedOr(spark, "pages", r, PagesDdl)
      .where(col("url") === url)
      .select("round", "url", "content_type", "raw")
  }

  /** /check_url (templates/app.py:906-1015): exact match plus fuzzy
   * contains-matches on a scheme-/slash-normalized needle, tagged by kind. */
  def checkUrl(spark: SparkSession, root: String, url: String): DataFrame = {
    val (snap, r, _) = committed(root)
    val needle = url.replaceFirst("^https?://", "").stripSuffix("/")
    val pages = snap.loadAppendedOr(spark, "pages", r, PagesDdl)
      .select("round", "url", "content_type")
    pages.where(col("url") === url).withColumn("match_kind", lit("exact"))
      .unionByName(
        pages.where(col("url") =!= url && col("url").contains(needle))
          .withColumn("match_kind", lit("fuzzy")))
      .orderBy(col("match_kind"), col("url"))
  }

  /** Search the PERSISTED postings table (T8/S9 — no index recompute:
   * gcloud_indexer.py:271-327 snapshots, :356-366 appends) and attach a
   * leading-text snippet (C8, :340) by joining doc_store for the k result
   * rows only. */
  def searchStore(spark: SparkSession, root: String, query: String,
                  field: String = "content", k: Int = 10): DataFrame = {
    val (snap, r, _) = committed(root)
    val postings = snap.loadAppendedOr(spark, "postings", r, PostingsDdl)
      .select("term", "url", "weight", "title")
    val top = SearchIndex.search(postings, query, field, k)
    val docs = snap.loadAppendedOr(spark, "doc_store", r, DocStoreDdl)
      .select("url", "text")
    top.join(docs, Seq("url"), "left_outer")
      .withColumn("snippet",
        concat(substring(coalesce(col("text"), lit("")), 1, 200), lit("...")))
      .select("url", "score", "title", "snippet")
      .orderBy(desc("score"), asc("url"))
  }

  /** Per-worker (executor partition) processed/completed counters with the
   * round as heartbeat clock (A4/T7, gcloud_master.py:702-725): a
   * group-by of `fetch_log` (wall-clock-free liveness: a worker partition
   * that appears in round r was alive in round r). */
  def workerStats(spark: SparkSession, root: String): DataFrame = {
    val (snap, r, _) = committed(root)
    snap.loadAppendedOr(spark, "fetch_log", r, FetchLogDdl)
      .groupBy("part_id")
      .agg(count(lit(1)).as("processed"),
        count(when(col("status").isin("ok", "ok_non_html"), 1)).as("completed"),
        sum("links_found").as("links_found"), max("round").as("last_heartbeat_round"))
      .orderBy("part_id")
  }

  /** Recent-activity tail (O3, templates/app.py:572-576): last n completed
   * fetches in dispatch order. */
  def recentActivity(spark: SparkSession, root: String, n: Int = 5): DataFrame = {
    val (snap, r, _) = committed(root)
    snap.loadAppendedOr(spark, "fetch_log", r, FetchLogDdl)
      .where(col("status").isin("ok", "ok_non_html"))
      .orderBy(desc("round"), desc("seq")).limit(n)
      .select("round", "url", "status")
  }

  /**
   * reset-failures (D4, cli.py:194-231 / templates/app.py:1207-1292):
   * re-open terminally-failed URLs, committed as a new round boundary so a
   * subsequent run() resumes from the reset state. Like the reference's
   * edit of the master's `CrawlState`, a reset is load → edit → commit of
   * the crawl's [[RoundState]]: read through [[load]], edited, and written
   * through [[commitState]] as a commit without counters.
   *
   * The failed URLs are the `fetch_log` rows with a terminal error
   * committed after the latest reset (the latest commit without counters).
   * Both modes clear the quarantine.
   *
   *  - `forget = false` (reference-faithful): failed URLs re-enter the
   *    frontier at the back of the queue (membership-checked against the
   *    current frontier, retry counter reset), `seen` is untouched —
   *    exactly the reference's move-failed-to-queue loop.
   *  - `forget = true` (the deletable-seen flow the north rule's cuckoo
   *    filter exists for): failed URLs are REMOVED from the seen set, the
   *    seen sketch (cuckoo: exact per-entry deletes; bloom: forced 4x-
   *    amortized rebuild from the shrunken seen table) and the per-host
   *    enqueue counts — so the crawl re-admits them organically the next
   *    time any page links to them.
   *
   * Returns the number of URLs re-opened.
   */
  def resetFailures(spark: SparkSession, root: String, cfg: CrawlConfig,
                    forget: Boolean = false): Long = {
    val (snap, r, _) = committed(root)
    val seen = snap.loadHybrid(spark, "seen", r)
    val st = load(spark, snap, r, SeenLsm(seen), loadSketch(snap, r, seen, cfg))
    // each fetch_log directory holds one round, so the parquet reader
    // skips the rounds up to the latest reset (-1: none) by footer stats
    val lastReset = (r to 0 by -1).find(i => roundStats(i, snap.meta(i)).isEmpty).getOrElse(-1)
    val (failed, n) = checkpointed(
      snap.loadAppendedOr(spark, "fetch_log", r, FetchLogDdl)
        .where(col("round") > lastReset && col("error").isin(TerminalErrors: _*))
        .groupBy("url")
        .agg(min(struct(col("seq"), col("host"), col("depth"))).as("m"))
        .select(col("url"), col("m.host").as("host"), col("m.depth").as("depth"),
          col("m.seq").as("seq")), st.round, "failed urls")
    if (n == 0) return 0L
    // the reference's clear_problematic_domains flag rides the same reset
    // flow (gcloud_crawler.py:770-790)
    val cleared = st.hosts.withColumn("quarantined", lit(false))

    val (next, reopened) =
      if (!forget) {
        // queue-membership-checked append at the back (cli.py:217-219):
        // membership is against the LIVE frontier (a failed URL's dead raw
        // row is its past dispatch, not queue membership); batch-local
        // ranks follow the failed rows' old seq order
        val toRetry = failed.join(liveRows(st.frontier, st.hosts), Seq("url"), "left_anti")
          .select(col("url"), col("host"), col("depth"),
            lit(0).as("retry"), col("seq").as("ord1"), lit(0).as("ord2"))
          .withColumn("host_rank", row_number()
            .over(Window.partitionBy(col("host")).orderBy(col("ord1"))).cast(LongType))
        val (entries, k) = queue(spark, cfg, st, toRetry, Seq(col("ord1"), col("ord2")),
          "reopened entries")
        (st.copy(nextSeq = st.nextSeq + k, frontierSize = st.frontierSize + k,
          frontier = st.frontier.unionByName(entries),
          hosts = plusHosts(cleared, hostDelta(entries, "enq")),
          pending = entries, pendingRows = k), k)
      } else {
        val shrunk = st.seen.base.join(failed.select("url"), Seq("url"), "left_anti")
          .localCheckpoint(true)
        // cuckoo: exact distributed deletes — executor-built shards of the
        // failed URLs subtracted from the filter driver-side, O(failed)
        // spread across the cluster (the delete mirror of the addAll
        // maintenance path; no per-row driver loop). Bloom (not deletable)
        // or an inconsistent delete (entry missing — the sketch was not in
        // sync with `seen`) falls back to the 4x-amortized rebuild from the
        // shrunken seen table.
        val sketch =
          if (SeenSketch.deleteAll(st.sketch, failed.select("url"), "url")) st.sketch
          else rebuildSketch(shrunk, st.sketch.kind,
            math.max(st.sketch.capacity, cfg.sketchCapacity))
        // seen shrinks by exactly the failed set (every failed URL was
        // admitted, hence in seen); the hosts get their cap budget back.
        // `enq` is NOT decremented — it is a rank high-water mark, not a
        // budget; shrinking it would collide future absolute ranks.
        (st.copy(seenSize = st.seenSize - n, seen = SeenLsm(shrunk), sketch = sketch,
          hosts = plusHosts(cleared, hostDelta(failed, "cnt", lit(-1L)))), n)
      }
    // forget mode REPLACES `seen`, which doubles as a compaction point for
    // its hybrid append chain; requeue mode leaves it untouched
    commitState(spark, snap, next, hostsChanged = true,
      replaced = if (forget) Map("seen" -> next.seen.base) else Map.empty)
    reopened
  }
}
