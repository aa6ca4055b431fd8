package graft.crawl

import graft.core.{ScopeFilter, UrlCanonicalizer}
import graft.extract.{DocAnalysis, HtmlParser, HtmlToSpans, PdfToSpans}
import org.apache.spark.{HashPartitioner, Partitioner, RangePartitioner, TaskContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Fetch abstraction: HTTP is compute inside `mapPartitions`, never a Spark
  * source (SURVEY.md §2.1 S1). Implementations must be Serializable — they
  * run on executors.
  */
trait Fetcher extends Serializable {
  /** `attempt` = retries already spent on this url (0 = first try) — lets
    * deterministic test fetchers simulate transient failures without shared
    * state; real fetchers ignore it.
    */
  def fetch(url: String, attempt: Int = 0): FetchResponse
  def fetchRobots(host: String): String // robots.txt content, "" when absent
}

final case class FetchResponse(status: Int, contentType: String,
    redirectTo: String, body: String, retryAfterSec: Int = 0,
    // exception detail for transport-level failures (status < 0): surfaced
    // into the per-wave `errors` table (S9 — the reference's exceptions/
    // messages logs, WebsiteTextExtractor.cs:298-311)
    errorClass: String = null, errorMessage: String = null,
    errorStack: String = null)

/** Deterministic in-memory fetcher over the synthetic web fixture, with an
  * optional fixed simulated per-page cost so benchmarks exercise the engine
  * rather than the (absent) network.
  */
final class SyntheticFetcher(
    pages: Map[String, SyntheticPage],
    robots: Map[String, String],
    simulatedCostNanos: Long = 0L) extends Fetcher {

  override def fetch(url: String, attempt: Int = 0): FetchResponse = {
    CrawlEngine.busyWait(System.nanoTime(), simulatedCostNanos)
    pages.get(url) match {
      case None => FetchResponse(404, "text/html", null, "")
      case Some(p) if p.fail_first > attempt => // transient outage window
        FetchResponse(503, "text/html", null, "", retryAfterSec = 1)
      case Some(p) => FetchResponse(p.status, p.content_type, p.redirect_to, p.html)
    }
  }

  override def fetchRobots(host: String): String = robots.getOrElse(host, "")
}

object SyntheticFetcher {
  /** Broadcast-backed variant: the page corpus ships to executors once via
    * torrent broadcast instead of riding in every task closure — the right
    * shape when the synthetic corpus is large (bench) or executors are
    * remote.
    */
  def broadcast(spark: org.apache.spark.sql.SparkSession,
      site: SyntheticWeb.Site, simulatedCostNanos: Long = 0L): Fetcher = {
    val bc = spark.sparkContext.broadcast((site.pages, site.robots))
    new BroadcastSyntheticFetcher(bc, simulatedCostNanos)
  }
}

private final class BroadcastSyntheticFetcher(
    bc: org.apache.spark.broadcast.Broadcast[(Map[String, SyntheticPage], Map[String, String])],
    simulatedCostNanos: Long) extends Fetcher {
  @transient private lazy val inner =
    new SyntheticFetcher(bc.value._1, bc.value._2, simulatedCostNanos)
  override def fetch(url: String, attempt: Int = 0): FetchResponse = inner.fetch(url, attempt)
  override def fetchRobots(host: String): String = inner.fetchRobots(host)
}

/** The Spark-native crawl engine: a driver loop over BFS "waves", each wave
  * one declarative DataFrame DAG (frontier → politeness schedule → fetch →
  * extract → analyze/dedup → schedule links → atomic commit), per SURVEY.md
  * §2.10/§3. State lives exclusively in TableIO tables, which is what makes
  * a killed run resume exactly (north rule). Semantics are byte-identical to
  * graft.crawl.SequentialOracle (asserted by CrawlParitySpec).
  *
  * Scale notes (designed for 10^10-URL frontiers, tested on local[32]):
  *  - fetch waves are repartitioned by hashed host so one host's URLs land
  *    in one partition (politeness is partition-local, J3); the per-host
  *    per-wave cap (waveBudget / crawlDelay) bounds skew at the SCHEDULING
  *    level — a hot host can never dominate a wave (SURVEY.md §4);
  *  - the seen set — the exact `seen` table behind per-bucket Bloom/Cuckoo
  *    filters — lives in [[SeenSet]], shared with forget: the filters are
  *    partition-local (zipped with candidates laid out by bucket), and the
  *    exact check is probe-side ([[SeenSet.probe]]): the wave's maybe-seen
  *    candidate hashes are broadcast and `seen` is streamed past them, so
  *    only the hits (at most one per key) reach the driver and `seen` is
  *    never broadcast or collected; when the candidates outgrow
  *    spark.sql.autoBroadcastJoinThreshold it falls back to a sort-merge
  *    join of candidates and `seen`. Block ownership probes `unique_blocks`
  *    the same way;
  *  - the next frontier's seqs ride one range shuffle on parent_seq: each
  *    partition is sorted by (parent_seq, link_index), the per-page link
  *    cap is a running count in that order, and zipWithIndex numbers the
  *    survivors (one count job, then the numbering pass) — no window and
  *    no single-partition bottleneck (W3);
  *  - codegen budget: a wave compiles 70 or fewer distinct classes (Spark
  *    keys its codegen cache by class loader too, so a whole-stage class
  *    counts twice: driver and executor) and carries no per-wave literal in
  *    generated code (the next wave is a data column), so steady waves fit
  *    Spark's default 100-entry codegen cache and compile almost nothing.
  *    The candidate, block-ownership and Bloom passes are plain RDD passes
  *    over the cached extract rows (read by ordinal), the politeness split
  *    runs inside the fetch pass, and the extract totals and metrics rows
  *    come from one partition fold — none of them generates code;
  *  - per-host state NEVER lives on the driver: crawl delays, per-domain
  *    allowances AND robots rules are all columns joined in from the
  *    `hosts` / `host_counts` tables. Each wave's new hosts fetch their
  *    robots on executors and are staged as the wave's `hosts` partition
  *    before the wave reads the table, so no host name reaches the
  *    driver at any wave width.
  */
final class CrawlEngine(
    spark: SparkSession,
    io: TableIO,
    config: CrawlConfig,
    fetcher: Fetcher,
    numPartitions: Int,
    nowMs: () => Long = () => System.currentTimeMillis()) {

  import spark.implicits._

  private val rootCanon = UrlCanonicalizer.canonicalize(config.rootUrl)
    .getOrElse(throw new IllegalArgumentException(s"bad root url: ${config.rootUrl}"))

  /** Whether the last wave ran the partition-local Bloom filter path
    * (test hook: the seeded-seen scale tests assert the negative cache
    * genuinely engaged past bloomMinSeenRows).
    */
  private[graft] var lastWaveBloomEngaged: Boolean = false

  // --- stop-condition / budget state (wave-synchronous contract shared
  // with SequentialOracle). The manifest is the only copy of the stats and
  // the stop reason: each wave reads them once at its start, so a
  // maintenance commit between waves (SeenMaintenance.forget*) is seen by
  // this instance too. Only the auto-exclude state is kept here: the
  // engine alone writes the excludes/window10 tables, so they are read once,
  // at the first wave this instance runs.
  private final class ExcludeState(var prefixes: Vector[String],
      var window10: Vector[(String, Double)]) // (url, pct), seq order
  private lazy val excludes: ExcludeState = {
    val cw = io.committedWave
    if (config.minUniquePct > 0 && cw >= 0) new ExcludeState(
      io.readWave("excludes", cw, TableIO.ExcludesSchema)
        .collect().map(_.getString(0)).toVector,
      io.readWave("window10", cw, TableIO.Window10Schema)
        .collect().sortBy(_.getInt(2)).map(r => (r.getString(0), r.getDouble(1))).toVector)
    else new ExcludeState(Vector.empty, Vector.empty)
  }

  /** The terminal stop reason of the last commit, if any. */
  def stopReason: Option[String] = io.manifest.stopReason

  /** Run (or resume) the crawl to completion or a stop condition; returns
    * waves processed. A crawl stopped by the cascade stays stopped across
    * resumes (stop_reason persists in the manifest).
    */
  def run(maxWavesThisRun: Int = Int.MaxValue): Int = {
    if (io.committedWave == -2) bootstrap()
    var wave = io.committedWave + 1
    var processed = 0
    var continue = stopReason.isEmpty &&
      wave < config.maxWaves && processed < maxWavesThisRun
    while (continue) {
      val hadWork = runWave(wave)
      if (hadWork) processed += 1
      // periodic compaction (compactEveryWaves > 0) of the grow-only
      // tables: a W-wave crawl otherwise accumulates W partition
      // directories in each — O(W) listings per read. Runs strictly AFTER the wave
      // committed, through the same atomic generation flip as manual
      // maintenance; a kill inside it leaves the committed snapshot intact.
      if (hadWork && config.compactEveryWaves > 0 &&
          (wave + 1) % config.compactEveryWaves == 0) {
        timed(wave, "compact") {
          SeenMaintenance.compactWith(spark, io, "seen")
          SeenMaintenance.compactWith(spark, io, "unique_blocks")
          SeenMaintenance.compactWith(spark, io, "hosts")
        }
      }
      wave += 1
      continue = hadWork && stopReason.isEmpty &&
        wave < config.maxWaves && processed < maxWavesThisRun
    }
    // the maxWaves cap with work still pending is a terminal stop like any
    // other (SequentialOracle.scala:193): record it so CrawlResult callers
    // can tell it from natural completion, and persist it so resumes respect
    // it. (maxWavesThisRun is a per-call slice, NOT a stop condition.)
    val m = io.manifest
    if (m.stopReason.isEmpty && wave >= config.maxWaves &&
        m.stats.get("next_frontier").exists(_ > 0))
      io.setStopReason("max_waves")
    processed
  }

  /** Commit "-1": root frontier entry + root hash in the seen set, plus
    * the persisted config (WebsiteExtractorParams round-trip) and the
    * crawl start time (max-duration stop). Delegates to the shared
    * [[CrawlEngine.seedWarehouse]] so external seeders (scale benches,
    * specs) can never drift from this commit contract.
    */
  private def bootstrap(): Unit =
    CrawlEngine.seedWarehouse(spark, io, config, nowMs = nowMs())

  private def stageEc = CrawlEngine.stageEc

  private val trace = sys.env.contains("GRAFT_TRACE")
  private def timed[T](wave: Int, step: String)(f: => T): T = {
    if (!trace) f else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println("[trace] w%d %-14s %.2fs".formatLocal(java.util.Locale.ROOT,
        wave, step, (System.nanoTime() - t0) / 1e9))
      r
    }
  }

  /** Janino compiles so far in this JVM (Spark's codegen cache misses). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Process one wave; false = frontier empty, crawl complete. */
  def runWave(wave: Int): Boolean = {
    val compiles0 = compiles
    // the wave's one read of the crawl state; it commits `m` + its deltas
    val m = io.manifest
    def stat(name: String): Long = m.stats.getOrElse(name, 0L)
    if (m.stopReason.nonEmpty) return false
    // fast empty check from the previous commit's lineage stats (the Spark
    // isEmpty job only runs on the resume edge where no stat exists)
    val afterCommit = m.committedWave == wave - 1 && m.stats.contains("next_frontier")
    if (afterCommit && stat("next_frontier") == 0L) return false
    // na.fill: a warehouse written before the retry/redirect columns existed
    // reads nulls for them under the current schema — fill their defaults so
    // legacy-warehouse resume keeps working (as[FrontierEntry] would throw on
    // a null in a non-nullable field otherwise)
    val frontierBase = io.readWave("frontier", wave, TableIO.FrontierSchema, lookahead = 1)
      .na.fill(false, Seq("is_retry"))
      .na.fill(0, Seq("retry_count", "retry_after_sec", "redirect_position"))
    // forget-and-recrawl injection (SeenMaintenance): retracted URLs were
    // re-staged as ordinary frontier rows in the `reseed` table, targeted at
    // the first wave after the maintenance commit (stat reseed_wave). Their
    // seqs were assigned past max_seq at maintenance time, so ordering and
    // the engine's own seq assignment are untouched. Once this wave commits,
    // committedWave passes reseed_wave and the rows are never re-injected.
    val frontier = m.stats.get("reseed_wave") match {
      case Some(rw) if rw == wave.toLong &&
          io.waveExists("reseed", wave, lookahead = 1) =>
        frontierBase.unionByName(
          io.readWave("reseed", wave, TableIO.FrontierSchema, lookahead = 1))
      case _ => frontierBase
    }
    if (!afterCommit && timed(wave, "isEmpty")(frontier.isEmpty)) return false
    val prevMaxSeq = stat("max_seq")

    // ---- 1. robots for hosts newly appearing in the frontier -------------
    // One executor pass: the frontier's hosts that the committed `hosts`
    // table lacks fetch their robots, and their states are staged as this
    // wave's `hosts` partition before anything reads them. The staged
    // parquet (invisible until the wave commits) is the one snapshot of
    // each fetch: a recomputed partition (lost executor, speculative task)
    // cannot give the delay and robots columns different fetches of one
    // host. Every wave stages the partition, empty when no host is new, so
    // a resumed attempt overwrites whatever a killed one staged. The
    // driver holds no host name at any wave width.
    val fetcherL = fetcher
    val cfg = config
    timed(wave, "robots")(io.stage("hosts", wave,
      // hashed by host first: the distinct needs no second shuffle, and the
      // fetch keeps numPartitions tasks
      frontier.select($"host").repartition(numPartitions, $"host").distinct()
        .join(io.readAll("hosts", TableIO.HostsSchema).select($"host"), Seq("host"), "left_anti")
        .as[String].map { h =>
          val content = fetcherL.fetchRobots(h)
          val delay = CompiledRobots.of(content).crawlDelaySec(cfg.userAgent)
          HostState(h, cfg.effectiveDelayMs(delay), content, wave)
        }))
    // every host of the frontier, this wave's new ones included
    val hostsTbl = io.readAll("hosts", TableIO.HostsSchema, lookahead = 1)

    // ---- 2. politeness split: per-host cap in seq order, rest carries;
    //         per-domain budget DROPS entries beyond the allowance (O3).
    // Caps and allowances are COLUMNS computed by joining the frontier
    // against the hosts / host_counts TABLES — the budget filter runs
    // distributed and the driver holds no per-host politeness state at
    // any frontier scale (a wave touching 10^7 hosts costs it nothing).
    val defaultDelay = config.effectiveDelayMs(0)
    val waveBudget = config.waveBudgetMs
    val capped = frontier.join(hostsTbl.select($"host", $"crawl_delay_ms"), Seq("host"), "left")
      .withColumn("__cap", greatest(lit(1L),
        floor(lit(waveBudget) /
          greatest(lit(1L), coalesce($"crawl_delay_ms", lit(defaultDelay))))))
      .drop("crawl_delay_ms")
    // the previous wave's cumulative per-host page counts (per-domain budget)
    lazy val prevCounts = io.readWave("host_counts", wave - 1, TableIO.HostCountsSchema)
    val allowed =
      if (config.maxPagesPerDomain > 0) {
        val maxPerDomain = config.maxPagesPerDomain
        capped.join(prevCounts.select($"host", $"pages".as("__crawled")),
            Seq("host"), "left")
          .withColumn("__allow",
            greatest(lit(0L), lit(maxPerDomain) - coalesce($"__crawled", lit(0L))))
          .drop("__crawled")
      } else capped.withColumn("__allow", lit(Long.MaxValue))

    // ---- 3a. fetch: host-bucketed partitions (politeness is partition-
    //          local state; one host never spans two partitions) -----------
    // repartition hashes the KEY itself — never pre-bucket with pmod, or the
    // partitioner re-hashes the bucket ids and collides them (observed 32→20
    // occupied partitions with 3x skew). hash(host) keeps one host in exactly
    // one partition, which is the politeness requirement. Each partition
    // arrives in (host, seq) order, so the fetch pass ranks every host's
    // entries itself (CrawlEngine.politeness): no window, no second shuffle,
    // and the carried entries come out of the same pass.
    val byHost = allowed.repartition(numPartitions, $"host")
      .sortWithinPartitions($"host", $"seq")
      .select(struct(TableIO.FrontierSchema.fieldNames.toSeq.map(col): _*),
        $"__cap", $"__allow")
      .as[(FrontierEntry, Long, Long)]
    // global page budget truncates the due entries in deterministic seq
    // order (wave-level MaxPagesToCrawl; overflow entries are dropped,
    // matching the oracle): the seq of the last due entry within budget
    val lastDueSeq =
      if (config.maxPagesToCrawl > 0) {
        val budget = math.max(0L, config.maxPagesToCrawl - stat("pages_total"))
        val dueSeqs = byHost.mapPartitions(rows =>
          CrawlEngine.politeness(rows).collect { case (e, true) => e.seq })
        if (budget == 0) -1L
        else CrawlEngine.assignSeq(spark, dueSeqs.toDF("seq"), Seq("seq"), 0L, "gidx")
          .filter($"gidx" === budget - 1).select($"seq").as[Long].collect()
          .headOption.getOrElse(Long.MaxValue)
      } else Long.MaxValue
    val fetched = byHost.mapPartitions { rows =>
      // stylesheet cache: hosts are partition-local, so this caches each
      // host's shared sheets for the whole task
      val cssCache = scala.collection.mutable.Map.empty[String, String]
      CrawlEngine.politeness(rows).collect {
        case (e, true) if e.seq <= lastDueSeq => CrawlEngine.fetchOne(fetcherL, e, cssCache)
        case (e, false) => CrawlEngine.carried(e)
      }
    }

    // materialize the fetch stage before the extract shuffle: measured 5x
    // faster than leaving both exchanges in one AQE plan (the fetch subtree
    // otherwise re-executes during query-stage re-optimization), and the
    // extract fold below counts the pages. A no-op write materializes the
    // cache without an aggregate plan's generated classes
    val fetchedP = fetched.persist()
    timed(wave, "fetch")(fetchedP.write.format("noop").mode("overwrite").save())

    // ---- 3b. extract: salted even repartition — hot-host skew constrains
    //          FETCH PACING only; parsing is embarrassingly parallel -------
    val extractCost = config.simulatedExtractCostNanos
    val results = fetchedP
      .repartition(numPartitions, $"seq")
      .mapPartitions { pages =>
        val pid = TaskContext.getPartitionId()
        pages.filter(!_.carry).map(p => CrawlEngine.extractOne(p, pid, extractCost))
      }
      .persist()
    // ---- 3c. extract totals + per-partition metrics lineage (A1 analog) --
    // One partition-local fold over the cached rows materializes `results`
    // and yields the per-partition `metrics` rows (O(numPartitions), they
    // reach the driver) plus the wave totals: pages, errors, content chars,
    // bot-wall hits, and the out-link and text-block counts — upper bounds
    // on the keys the exact seen and block-ownership checks size their
    // probes by. No shuffle and no generated code: `results` keeps the
    // extract stage's partitioning, whose rows carry their own partition's id.
    val totals = timed(wave, "extract")(CrawlEngine.foldResults(results))
    val pagesFetched = totals.pages

    // ---- 4. text-block analysis + first-wins dedup (D3/W2) ---------------
    // Only UNIQUENESS needs cross-doc work; totals/language and the block
    // refs were folded locally in the extract mapPartitions. First
    // occurrence within the wave by (seq, offset), then not already owned
    // by a previous wave: probed against `unique_blocks` like the seen
    // check, in plain RDD passes.
    val uniqueBlocksTable = io.readAll("unique_blocks", TableIO.UniqueBlocksSchema)
    val newUnique = SeenSet.absent(spark,
        CrawlEngine.firstBlocks(results, numPartitions), uniqueBlocksTable,
        "text_hash", totals.blocks)(_.text_hash, _ => true)
      .persist()

    val uniquePerDoc = newUnique.map(b => (b.seq, b.words.toLong))
      .reduceByKey(_ + _).toDF("u_seq", "unique_words")

    val docs = results.toDF()
      .join(uniquePerDoc, $"seq" === $"u_seq", "inner") // inner: unique_words>0 implied
      .filter($"unique_words" > 0)
      .select($"url".as("doc_id"), $"spans", $"title", $"lang",
        $"total_words", $"unique_words", $"wave", $"seq")
    // ---- 5. candidate links → seen updates + next frontier (D1/J1/W3) ----
    // One fused pipeline of plain RDD passes between the cached extract
    // rows and the staged tables, so it adds no generated code: the
    // candidates are shuffled into their url_hash bucket's partition,
    // sorted by (url_hash, parent_seq, link_index), and zipped with that
    // bucket's filter, so one streaming pass keeps each hash's first
    // occurrence and flags it (definitely new / maybe seen); the exact seen
    // check probes only the maybe-seen hashes; the robots join and filters
    // follow, and the per-page cap rides the seq sort. The filter bits stay
    // on executors; with the Bloom path off every candidate is "maybe seen".
    val cands = CrawlEngine.candidateLinks(results)
    val seenTable = io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
    val nb = numPartitions
    // hybrid engage rule: the exact seen check is cheap while `seen` is
    // small, so the [[SeenSet]] filters only pay once the set passes
    // bloomMinSeenRows (the broadcast-vs-shuffle-join selection analog).
    // Engaging later is safe: SeenSet.read builds the buckets from the
    // authoritative seen table on its first engaged wave. The root hash
    // seeds the set at bootstrap.
    val seenTotal = m.stats.getOrElse("seen_total", 1L)
    val useBloom = config.bloomCapacity > 0 && seenTotal >= config.bloomMinSeenRows
    lastWaveBloomEngaged = useBloom
    // one read of the previous wave's filters serves both the apply-side
    // pass here and the update pass at stage time
    val seenLayout = new SeenSet.Layout(config, nb)
    val prevBlooms =
      if (useBloom) SeenSet.read(spark, io, seenLayout, wave).persist()
      else SeenSet.byBucket(spark.sparkContext.emptyRDD[FilterBucket], nb)(_.bucket)
    val flagged = CrawlEngine.flagFirsts(cands, prevBlooms, useBloom, nb).persist()

    // robots matching is a JOIN of candidates against the hosts TABLE on
    // `host` (this wave's staged states included), with the pure matcher
    // evaluated per row on the robots text riding the join — fully
    // distributed. Hosts never seen before have no table row, read None →
    // Empty → pass (their robots are fetched when they become frontier —
    // reference semantics). Neither the driver nor any broadcast ever
    // holds the robots corpus or even this wave's slice of it; at a
    // 10^7-candidate-host wave this stage costs the driver nothing.
    // RobotsCache amortizes the per-row parse to once per distinct robots
    // body per executor thread (same-host rows are contiguous after the
    // join shuffle, so the memo hit rate is ~100%).
    val robotsCols = hostsTbl.select($"host", $"robots_txt")
    val scope = config.scope
    val root = rootCanon
    val maxDepth = config.maxDepth
    val maxRedirects = config.maxRedirects
    val userAgent = config.userAgent
    val excludesBc = spark.sparkContext.broadcast(excludes.prefixes)

    // the seen probe collects its hits and the seq sort's range
    // partitioner samples its input: the chain's eager work, before staging
    val (notSeen, newFrontier) = timed(wave, "candidates") {
      val notSeen = SeenSet.absent(spark, flagged, seenTable, "url_hash",
        totals.outLinks)(_.url_hash, _.maybe_seen).persist()
      val passing = notSeen.keyBy(_.host)
        .leftOuterJoin(robotsCols.as[(String, String)].rdd, nb)
        .flatMap { case (_, (c, robotsTxt)) =>
          val ok = c.parent_depth + 1 <= maxDepth &&
            c.redirect_position <= maxRedirects && // chain bound
            ScopeFilter.shouldCrawl(scope, c.url, root) &&
            RobotsCache.compiled(robotsTxt.getOrElse(""))
              .allowed(UrlCanonicalizer.pathAndQuery(c.url), userAgent) &&
            !excludesBc.value.exists(c.url.startsWith)
          if (ok) Some(c) else None
        }
      (notSeen, CrawlEngine.capAndNumber(passing, config.maxLinksPerPage,
        prevMaxSeq + 1, nb).toDS())
    }

    // every evaluated candidate becomes known — pass or fail (AddKnownUri).
    // The wave's seen-added total rides the stage:seen write as an
    // observe() metric (obsSeen, read after the staging futures complete)
    // instead of a dedicated count job. The retired design collect()ed
    // per-host candidate counts here to scope a robots broadcast —
    // O(wave candidate hosts) through the driver, the last crawl
    // structure that grew with wave width. Gone: robots rules are a
    // join column now.
    val obsSeen = org.apache.spark.sql.Observation()
    val seenAdds = notSeen.map(_.url_hash).toDF("url_hash")
      .observe(obsSeen, count(lit(1)).as("n"))

    // entries over their host's cap carry to the next wave; the next wave
    // is a data column (every row of this wave's frontier has wave =
    // `wave`), not a literal: generated code stays identical from wave to
    // wave
    val carry = fetchedP.filter($"carry")
      .select($"url", $"url_hash", $"host", $"parent_url", $"depth", $"seq",
        ($"wave" + 1).as("wave"), $"is_retry", $"retry_count",
        $"retry_after_sec", $"redirect_position")

    // transiently-failed fetches (5xx / network error) re-enter the next
    // wave with retry_count+1 (WebCrawler.cs:837-875); they keep their seq
    // (so they sort ahead of newly-discovered links, like the reference's
    // re-add to the front of the host queue) and bypass the seen gate —
    // their url_hash is already in `seen`.
    val retryEntries = Option.when(config.maxRetries > 0) {
      results.toDF()
        .filter($"is_error" && ($"status" >= 500 || $"status" < 0) &&
          $"retry_count" < config.maxRetries)
        .select($"url", $"url_hash", $"host", $"parent_url", $"depth", $"seq",
          ($"wave" + 1).as("wave"), lit(true).as("is_retry"),
          ($"retry_count" + 1).as("retry_count"),
          greatest($"retry_after_sec", lit(0)).as("retry_after_sec"),
          $"redirect_position")
    }

    // ---- 7. wave-boundary stop cascade (WebsiteTextExtractor.cs:638-767) -
    val pagesTotal = stat("pages_total") + pagesFetched
    val errorsTotal = stat("errors_total") + totals.errors
    val contentCharsTotal = stat("content_chars_total") + totals.contentChars
    val startEpochMs = m.stats.getOrElse("start_epoch_ms", nowMs())
    var stop: Option[String] = None
    var newExclude: Option[String] = None
    if (config.minUniquePct > 0) {
      // only the LAST 10 html rows of the wave can survive takeRight(10):
      // top-10 by seq desc collects exactly 10 rows, never the whole wave
      val waveTail = results.toDF()
        .filter($"status" === 200 && $"content_type" === "text/html")
        .select($"seq", $"url", $"total_words")
        .join(uniquePerDoc, $"seq" === $"u_seq", "left")
        .select($"seq", $"url",
          when($"total_words" > 0,
            coalesce($"unique_words", lit(0L)).cast("double") / $"total_words")
            .otherwise(lit(0.0)).as("pct"))
        .orderBy($"seq".desc).limit(10).collect()
        .reverseIterator.map(r => (r.getString(1), r.getDouble(2))).toVector
      excludes.window10 = (excludes.window10 ++ waveTail).takeRight(10)
    }
    // cascade order mirrors the reference (WebsiteTextExtractor.cs:642-766):
    // bot-wall → duration → pages → errors → minUnique → size-on-disk
    if (totals.botBlocked > 0) {
      // the site rejects bots (DataDome): abort the whole crawl to comply
      stop = Some("bot_protection")
    } else if (config.maxDurationMin > 0 &&
        nowMs() - startEpochMs >= config.maxDurationMin * 60000L) {
      stop = Some("max_duration")
    } else if (config.maxPagesToCrawl > 0 && pagesTotal >= config.maxPagesToCrawl) {
      stop = Some("max_pages")
    } else if (config.maxErrors > 0 && errorsTotal >= config.maxErrors) {
      stop = Some("max_errors")
    } else if (config.minUniquePct > 0 && excludes.window10.size >= 10) {
      val avgPct = excludes.window10.map(_._2).sum / 10.0 * 100.0
      if (avgPct < config.minUniquePct) {
        // auto-exclude the longest common URL prefix of the last 10 pages
        // (WebsiteTextExtractor.cs:697-747); stop when no useful prefix
        val urls = excludes.window10.map(_._1)
        val lcp = urls.reduce { (a, b) =>
          a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1).mkString }
        val rootPrefix = rootCanon.take(rootCanon.indexOf('/', 8) + 1)
        if (lcp.length > rootPrefix.length && !excludes.prefixes.contains(lcp)) {
          excludes.prefixes :+= lcp
          newExclude = Some(lcp)
          excludes.window10 = Vector.empty // reference resets its window after excluding
        } else {
          stop = Some("min_unique_text")
        }
      }
    }
    if (stop.isEmpty && config.maxContentChars > 0 &&
        contentCharsTotal >= config.maxContentChars) {
      stop = Some("max_size_on_disk")
    }

    // ---- 8. stage everything, then atomically commit the wave ------------
    // The staged tables are INDEPENDENT outputs of already-materialized
    // persisted datasets, so their write jobs run CONCURRENTLY from a small
    // driver pool (Spark schedules concurrent actions fine; a cache-miss
    // partition computed by two jobs at once is serialized per-block by the
    // BlockManager). The atomic manifest commit — the only ordering that
    // matters for crash consistency — happens strictly after every staging
    // future completes, so a kill mid-stage still resumes at the previous
    // committed wave exactly as before.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val stageJobs = Seq.newBuilder[Future[Unit]]
    def staged(step: String)(f: => Unit): Unit =
      stageJobs += Future(timed(wave, step)(f))(stageEc)

    // Write-side file sizing (guide §6 "aim for right-sized output files"):
    // a wave's staged tables are tiny locally but arbitrarily large at
    // scale, so each write coalesces to a task count derived from an
    // ESTIMATED byte volume (clamped to [1, numPartitions] — at scale the
    // estimate exceeds the cap and the write keeps full width). Replaces
    // numPartitions near-empty shards per table per wave with a few
    // right-sized files — cheaper write jobs now, cheaper O(waves)
    // readAll listings/scans later. Estimates only shape file counts;
    // correctness never depends on them.
    def sized(df: DataFrame, estBytes: Long): DataFrame = {
      val p = math.max(1L, math.min(numPartitions.toLong,
        estBytes / (64L << 20) + 1)).toInt
      if (p < numPartitions) df.coalesce(p) else df
    }

    staged("stage:docs")(io.stage("documents", wave,
      sized(docs, pagesFetched * 4096L)))
    staged("stage:blocks")(io.stage("unique_blocks", wave,
      sized(newUnique.map(b => (b.text_hash, b.words)).toDF("text_hash", "words"),
        pagesFetched * 240L)))
    staged("stage:seen")(io.stage("seen", wave + 1,
      sized(seenAdds, pagesFetched * 1024L)))
    staged("stage:metrics")(io.stage("metrics", wave, totals.metrics.toDS().coalesce(1)))
    if (config.logFetches) {
      // request log (S9): one row per fetch, mirroring the reference's
      // per-request CSV columns that exist in our model
      val fetchLog = results.toDF().select(
        $"wave", $"seq", $"url", $"host", $"depth", $"status",
        $"content_type", $"no_follow", $"is_error", $"retry_count",
        size($"out_links").as("n_links"), size($"spans").as("n_spans"),
        $"total_words", round($"fetch_ms", 3).as("fetch_ms"),
        round($"extract_ms", 3).as("extract_ms"),
        round($"css_ms", 3).as("css_ms"))
      staged("stage:fetchlog")(io.stage("fetch_log", wave,
        sized(fetchLog, pagesFetched * 256L)))
    }
    if (totals.errors > 0) {
      // error-detail log (S9 remainder): the WHY of each error row —
      // exception class + message per failed fetch, persisted per wave
      // like the reference's exceptions/messages logs
      // (WebsiteTextExtractor.cs:298-311); appended per wave, so resume
      // carries the full history
      val errorLog = results.toDF().filter($"is_error").select(
        $"wave", $"seq", $"url", $"host", $"status",
        $"error_class", $"error_message", $"error_stack", $"retry_count")
      staged("stage:errors")(io.stage("errors", wave,
        sized(errorLog, totals.errors * 512L)))
    } else {
      // data-dependent staging: a killed earlier attempt of THIS wave may
      // have staged errors that the re-run no longer produces (transient
      // failure gone) — delete the stale partition or the commit below
      // would make it visible alongside a fetch_log that disagrees
      io.deleteStaged("errors", wave)
    }
    if (config.minUniquePct > 0) {
      val excludesDf = excludes.prefixes.map(p => (p, wave)).toDF("pattern", "wave")
      val windowDf = excludes.window10.zipWithIndex
        .map { case ((u, p), i) => (u, p, i) }.toDF("url", "pct", "ord")
      staged("stage:excludes") {
        io.stage("excludes", wave, excludesDf)
        io.stage("window10", wave, windowDf)
      }
    }
    if (config.maxPagesPerDomain > 0) {
      // cumulative counts, fully distributed: previous committed counts
      // union this wave's per-host page counts, summed — the driver never
      // holds a hosts-ever map (the one remaining crawl-age-proportional
      // driver structure, retired)
      val hostCountsDf = prevCounts
        .union(results.groupBy($"host").agg(count(lit(1)).as("pages")))
        .groupBy($"host").agg(sum($"pages").as("pages"))
      staged("stage:hostcounts")(io.stage("host_counts", wave, hostCountsDf))
    }
    val obsSaturated = org.apache.spark.sql.Observation()
    if (useBloom) {
      // fold this wave's accepted hashes into their buckets' filters and
      // stage the full bucket set for wave N (buckets with no additions
      // carry forward unchanged) — all executor-side. The write also counts
      // saturated buckets, so the next wave's SeenSet.read knows they are
      // all clean without a job of its own
      val newBlooms = SeenSet.update(prevBlooms, spark.sparkContext.emptyRDD[Long],
        notSeen.map(_.url_hash), seenLayout).toDS()
      staged("stage:blooms")(io.stage("blooms", wave,
        newBlooms.observe(obsSaturated, count(when($"saturated", 1)).as("n"))))
    }
    // Both frontier counts (seqs assigned; rows staged) ride the ONE
    // staging write as observe() metrics, not persist() + count() rounds.
    // A new exclude applies retroactively to the whole pending frontier
    // (Scheduler.FilterAllowedUrlsAfterConfig analog, Scheduler.cs:123-139),
    // above the seqs-assigned count: the oracle's seq counter is monotonic
    // over assignments, not survivors, and the optimizer pushes no filter
    // through an observe() (CollectMetrics) node.
    val obsNew = org.apache.spark.sql.Observation()
    val obsNext = org.apache.spark.sql.Observation()
    val pending = Seq(carry, newFrontier.observe(obsNew, count(lit(1)).as("n")).toDF()) ++
      retryEntries
    val nextFrontier = newExclude.foldLeft(pending.reduce(_ unionByName _))(
      (df, lcp) => df.filter(!$"url".startsWith(lcp)))
      .observe(obsNext, count(lit(1)).as("n"))
    staged("stage:frontier")(io.stage("frontier", wave + 1,
      sized(nextFrontier, pagesFetched * 2048L)))
    stageJobs.result().foreach(Await.result(_, Duration.Inf))
    def observed(o: org.apache.spark.sql.Observation) = o.get("n").asInstanceOf[Long]
    val baseStats = Map(
      "pages" -> pagesFetched,
      "pages_total" -> pagesTotal,
      "errors_total" -> errorsTotal,
      "content_chars_total" -> contentCharsTotal,
      "start_epoch_ms" -> startEpochMs,
      "seen_total" -> (seenTotal + observed(obsSeen)),
      "max_seq" -> (prevMaxSeq + observed(obsNew)),
      "next_frontier" -> observed(obsNext))
    val stats =
      if (useBloom) baseStats ++ SeenSet.commitStats(io, nb,
        clean = observed(obsSaturated) == 0L)
      else baseStats
    io.commitWave(wave, stats, stop)

    results.unpersist()
    prevBlooms.unpersist()
    flagged.unpersist()
    fetchedP.unpersist()
    newUnique.unpersist()
    notSeen.unpersist()
    // a steady wave's generated code is the last wave's, so it should
    // compile (almost) nothing: this count is the codegen-budget check
    if (trace) System.err.println("[trace] w%d %-14s %d".formatLocal(java.util.Locale.ROOT,
      wave, "compiles", compiles - compiles0))
    true
  }
}

object CrawlEngine {

  /** `error_class` value for HTTP-level (non-exception) error rows in the
    * errors log — e.g. a plain 404/500 with no transport exception.
    */
  val HttpStatusErrorClass = "HttpStatus"

  /** Bootstrap a fresh warehouse exactly as a new engine would (the
    * commit-"-1" contract: root frontier entry + seen set + persisted
    * config + start time), optionally UNIONING `extraSeen` (a url_hash
    * DataFrame) into the initial seen set — how the seeded-seen scale
    * legs pre-load 10^5..10^6 hashes. The seeded row count is COUNTED
    * here, not caller-supplied: seen_total drives the Bloom-engage
    * threshold on resume, so a caller-passed count that disagreed with
    * the actual rows would silently mis-seed it. The engine's own
    * bootstrap delegates here, so external seeders can never drift from
    * the resume contract.
    */
  def seedWarehouse(spark: SparkSession, io: TableIO, config: CrawlConfig,
      extraSeen: DataFrame = null,
      nowMs: Long = System.currentTimeMillis()): Unit = {
    import spark.implicits._
    val rootCanon = UrlCanonicalizer.canonicalize(config.rootUrl)
      .getOrElse(throw new IllegalArgumentException(s"bad root url: ${config.rootUrl}"))
    val rootEntry = FrontierEntry(rootCanon, UrlCanonicalizer.urlHash(rootCanon),
      UrlCanonicalizer.host(rootCanon), "", 0, 0L, 0)
    io.stage("frontier", 0, Seq(rootEntry).toDS())
    val rootSeen = Seq(rootEntry.url_hash).toDF("url_hash")
    // the seeded rows are counted by the write itself (an observe()
    // metric), not by a second pass over extraSeen
    val obsExtra = org.apache.spark.sql.Observation()
    io.stage("seen", 0,
      if (extraSeen == null) rootSeen
      else extraSeen.select(col("url_hash"))
        .observe(obsExtra, count(lit(1)).as("n")).union(rootSeen))
    val extraSeenCount =
      if (extraSeen == null) 0L else obsExtra.get("n").asInstanceOf[Long]
    io.writeConfig(CrawlConfigCodec.toJson(config))
    val base = Map("max_seq" -> 0L, "next_frontier" -> 1L,
      "start_epoch_ms" -> nowMs)
    val stats =
      if (extraSeenCount > 0) base + ("seen_total" -> (extraSeenCount + 1L))
      else base
    io.commitWave(-1, stats)
  }

  /** JVM-shared driver pool for concurrent per-wave stage writes (step 8).
    * Sized to overlap job-scheduling + parquet-commit latency, not to add
    * compute parallelism (executor cores do the work either way). Shared
    * across engine instances and daemon-threaded, so repeated engine
    * construction (tests, multi-crawl drivers) never accumulates threads
    * and the pool dies with the JVM; the wave loop always awaits all
    * staging futures before committing.
    */
  private lazy val stageEc = scala.concurrent.ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newFixedThreadPool(8,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-stage-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      }))

  /** Fetch one frontier entry (I/O only) — runs in the host-bucketed,
    * politeness-paced fetch stage.
    */
  def fetchOne(fetcher: Fetcher, e: FrontierEntry,
      cssCache: scala.collection.mutable.Map[String, String] = null): FetchedPage = {
    val t0 = System.nanoTime()
    val resp = fetcher.fetch(e.url, e.retry_count)
    val t1 = System.nanoTime()
    // same-host stylesheets fetched in the SAME paced partition (CssFetch:
    // the per-partition cache makes this one request per sheet per task);
    // timed SEPARATELY so fetch_ms stays the page-fetch latency and crawl
    // pages-per-sec remains comparable with pre-CSS rounds (ADVICE r05)
    val css =
      if (cssCache != null && resp.status == 200 &&
          resp.contentType == "text/html" && resp.body.nonEmpty)
        CssFetch.cssFor(resp.body, e.url, e.host, { u =>
          val r = fetcher.fetch(u)
          (r.status, r.contentType, r.body)
        }, cssCache)
      else ""
    val t2 = System.nanoTime()
    FetchedPage(e.url, e.url_hash, e.host, e.parent_url, e.seq, e.depth, e.wave,
      resp.status, resp.contentType, resp.redirectTo, resp.body, (t1 - t0) / 1e6,
      e.retry_count, resp.retryAfterSec, e.redirect_position,
      resp.errorClass, resp.errorMessage, resp.errorStack, css, (t2 - t1) / 1e6)
  }

  /** The politeness split of one fetch partition, which holds whole hosts
    * in (host, seq) order, each entry with its host's wave cap and
    * per-domain allowance: an entry ranked past the allowance is dropped
    * (O3), past the cap it carries to the next wave (false), otherwise it
    * is due this wave (true).
    */
  private[crawl] def politeness(rows: Iterator[(FrontierEntry, Long, Long)])
      : Iterator[(FrontierEntry, Boolean)] = {
    var host: String = null
    var rank = 0L
    rows.flatMap { case (e, cap, allow) =>
      if (rank == 0L || e.host != host) { host = e.host; rank = 0L }
      rank += 1
      if (rank > allow) None else Some((e, rank <= cap))
    }
  }

  /** A frontier entry over its host's cap, carried through the fetch pass. */
  private def carried(e: FrontierEntry): FetchedPage =
    FetchedPage(e.url, e.url_hash, e.host, e.parent_url, e.seq, e.depth, e.wave,
      0, null, null, null, 0.0, e.retry_count, e.retry_after_sec,
      e.redirect_position, carry = true, is_retry = e.is_retry)

  /** Spins until `nanos` have passed since `from` (a System.nanoTime
    * reading): the simulated per-page cost of a benchmark fetch or extract.
    */
  private[crawl] def busyWait(from: Long, nanos: Long): Unit = {
    val end = from + nanos
    while (nanos > 0 && System.nanoTime() < end) ()
  }

  /** The crawl's one per-page extraction, shared by the engine and
    * [[SequentialOracle]]: a 200 HTML page gives its title, spans and
    * out-links ([[HtmlToSpans.outLinks]]: none on a nofollow page); a 200
    * PDF (S6/J5/O4: body is the raw bytes as ISO-8859-1) its title and
    * spans, no links, and noFollow; a 3xx with a target that target,
    * resolved against the page URL; anything else nothing. `css` is the
    * page's fetched same-host stylesheet text ("" or null for none).
    */
  def extractPage(url: String, status: Int, contentType: String, redirectTo: String,
      body: String, css: String): PageContent =
    if (status == 200 && contentType == "text/html") {
      val root = HtmlParser.parse(body)
      val (title, spans) = HtmlToSpans.convert(root,
        if (css != null && css.nonEmpty) Seq(css) else Nil)
      val (links, noFollow) = HtmlToSpans.outLinks(root, url)
      PageContent(title, spans, links, noFollow)
    } else if (status == 200 && contentType == "application/pdf") {
      val d = PdfToSpans.extract(body)
      PageContent(d.title, d.spans, Vector.empty, noFollow = true)
    } else if (status >= 300 && status < 400 && redirectTo != null)
      PageContent("", Vector.empty, UrlCanonicalizer.resolve(url, redirectTo).toVector, noFollow = false)
    else PageContent("", Vector.empty, Vector.empty, noFollow = false)

  /** Extract one fetched page — the CPU-bound unit of work run in the
    * salted extract stage (north rule: extraction as a partition-parallel
    * mapPartitions emitting interleaved text+media span structs).
    */
  def extractOne(p: FetchedPage, partitionId: Int, simulatedCostNanos: Long = 0L): PageResult = {
    val t1 = System.nanoTime()
    busyWait(t1, simulatedCostNanos)
    val page = extractPage(p.url, p.status, p.content_type, p.redirect_to, p.body, p.css)
    val t2 = System.nanoTime()
    // per-doc stats are doc-local facts: fold them here, never shuffle them
    val items = DocAnalysis.analyzableItems(page.spans)
    val totalWords = items.map(_.words.toLong).sum
    val lang = DocAnalysis.docLanguage(items)
    // error classification (F9): any non-200 except a followable redirect
    val isError = p.status != 200 &&
      !(p.status >= 300 && p.status < 400 && p.redirect_to != null)
    // error detail for the S9 errors log: transport exceptions carry their
    // class/message from the fetcher; HTTP-level errors synthesize one
    val (errClass, errMsg, errStack) =
      if (!isError) (null, null, null)
      else if (p.error_class != null) (p.error_class, p.error_message, p.error_stack)
      else (CrawlEngine.HttpStatusErrorClass, s"HTTP ${p.status}", null)
    PageResult(p.url, p.url_hash, p.host, p.seq, p.depth, p.wave,
      p.status, p.content_type, page.title, page.spans, page.links, page.noFollow,
      p.fetch_ms, (t2 - t1) / 1e6, partitionId, totalWords, lang, isError,
      p.parent_url, p.retry_count, p.retry_after_sec, p.redirect_position,
      if (p.body == null) 0 else p.body.length, p.css_ms,
      errClass, errMsg, errStack,
      items.map(i => TextBlockRef(i.offset, i.text_hash, i.words)))
  }

  /** The wave's extract fold over the cached `results` rows: one
    * [[MetricsRow]] per (wave, partition id) of each partition, and the
    * totals of pages, errors, content chars, bot-wall statuses, out-links
    * and text blocks.
    * Reads the internal rows by ordinal, so no generated code is needed.
    */
  private def foldResults(results: Dataset[PageResult]): WaveTotals = {
    val schema = results.schema
    val Seq(iWave, iPid, iErr, iWords, iFetch, iExtract, iChars, iStatus, iLinks, iBlocks) =
      Seq("wave", "partition_id", "is_error", "total_words", "fetch_ms",
        "extract_ms", "content_chars", "status", "out_links", "blocks")
        .map(schema.fieldIndex)
    val bot = HttpFetcher.BotProtectionStatus
    val parts = results.queryExecution.toRdd.mapPartitions { rows =>
      val acc = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), MetricsRow]
      var chars, bots, links, blocks = 0L
      rows.foreach { r =>
        val k = (r.getInt(iWave), r.getInt(iPid))
        val m = acc.getOrElse(k, MetricsRow(k._1, k._2, 0L, 0L, 0L, 0.0, 0.0))
        val err = r.getBoolean(iErr)
        acc(k) = m.copy(pages = m.pages + 1, errors = if (err) m.errors + 1 else m.errors,
          words = m.words + r.getLong(iWords), fetch_ms = m.fetch_ms + r.getDouble(iFetch),
          extract_ms = m.extract_ms + r.getDouble(iExtract))
        chars += r.getInt(iChars)
        if (r.getInt(iStatus) == bot) bots += 1
        links += r.getArray(iLinks).numElements()
        blocks += r.getArray(iBlocks).numElements()
      }
      Iterator((acc.values.toVector, Array(chars, bots, links, blocks)))
    }.collect()
    val rows = parts.toSeq.flatMap(_._1)
    val Seq(chars, bots, links, blocks) = (0 until 4).map(i => parts.map(_._2(i)).sum)
    WaveTotals(rows, rows.map(_.pages).sum, rows.map(_.errors).sum, chars,
      bots, links, blocks)
  }

  /** A wave's extract fold: see foldResults. */
  private final case class WaveTotals(metrics: Seq[MetricsRow], pages: Long,
      errors: Long, contentChars: Long, botBlocked: Long, outLinks: Long,
      blocks: Long)

  /** Bucket of a url_hash for partition-local seen-cache filters. */
  def bloomBucket(urlHash: Long, numBuckets: Int): Int =
    java.lang.Math.floorMod(urlHash, numBuckets.toLong).toInt

  /** The wave's candidate out-links, in document order per page, read
    * from the cached extract rows by ordinal (no generated code). A
    * redirect target continues its parent's 3xx chain; ordinary links
    * reset the chain (PageRequester.cs:86-141 redirect bookkeeping).
    */
  private def candidateLinks(results: Dataset[PageResult]): RDD[CandidateLink] =
    results.select(col("seq"), col("url"), col("depth"), col("status"),
        col("redirect_position"), col("out_links"), col("wave"))
      .queryExecution.toRdd.flatMap { r =>
        val status = r.getInt(3)
        val rp = if (status >= 300 && status < 400) r.getInt(4) + 1 else 0
        val (seq, url, depth, wave) =
          (r.getLong(0), r.getUTF8String(1).toString, r.getInt(2), r.getInt(6) + 1)
        val links = r.getArray(5)
        Array.tabulate(links.numElements()) { idx =>
          val link = links.getUTF8String(idx).toString
          CandidateLink(seq, url, depth, idx, link, UrlCanonicalizer.urlHash(link),
            UrlCanonicalizer.host(link), rp, wave)
        }
      }

  /** Hash-partitions tuple keys by their first field (other keys whole),
    * so a sort on the full key groups each prefix in one partition. On
    * bucket ids in [0, n) it puts bucket b in partition b.
    */
  private final class PrefixPartitioner(n: Int) extends Partitioner {
    private val byHash = new HashPartitioner(n)
    def numPartitions: Int = n
    def getPartition(key: Any): Int = byHash.getPartition(key match {
      case p: Product => p.productElement(0)
      case k => k
    })
  }

  /** The first occurrence of every url_hash among `cands`, in
    * (parent_seq, link_index) order, flagged with the Bloom verdict. The
    * candidates are shuffled into their bucket's partition, sorted by
    * (url_hash, parent_seq, link_index), and zipped with `blooms` (laid
    * out by [[SeenSet.byBucket]]): one streaming pass keeps the first row
    * of each hash — maybe seen when the bucket's filter might hold it (or
    * the filters are not `engaged`), definitely new otherwise. The output
    * keeps the bucket layout.
    */
  private[graft] def flagFirsts(cands: RDD[CandidateLink], blooms: RDD[FilterBucket],
      engaged: Boolean, numBuckets: Int): RDD[CandidateLink] =
    cands.keyBy(c => (bloomBucket(c.url_hash, numBuckets), c.url_hash, c.parent_seq, c.link_index))
      .repartitionAndSortWithinPartitions(new PrefixPartitioner(numBuckets))
      .zipPartitions(blooms) { (cs, bs) =>
        val filter = if (bs.hasNext) bs.next().filter else null
        var first = true
        var last = 0L
        cs.collect { case ((_, h, _, _), c) if first || h != last =>
          first = false
          last = h
          c.copy(maybe_seen = if (filter == null) !engaged else filter.mightContain(h))
        }
      }

  /** The first occurrence of every text hash among the cached pages'
    * block refs, by (seq, offset): the refs are shuffled by hash, sorted by
    * (text_hash, seq, offset), and one streaming pass keeps each hash's
    * first row.
    */
  private def firstBlocks(results: Dataset[PageResult], numPartitions: Int): RDD[BlockRow] =
    results.select(col("seq"), col("blocks")).queryExecution.toRdd
      .flatMap { r =>
        val seq = r.getLong(0)
        val bs = r.getArray(1)
        Array.tabulate(bs.numElements()) { i =>
          val b = bs.getStruct(i, 3)
          ((b.getLong(1), seq, b.getInt(0)), b.getInt(2))
        }
      }
      .repartitionAndSortWithinPartitions(new PrefixPartitioner(numPartitions))
      .mapPartitions { bs =>
        var first = true
        var last = 0L
        bs.collect { case ((h, seq, _), words) if first || h != last =>
          first = false
          last = h
          BlockRow(seq, h, words)
        }
      }

  /** The next frontier's rows, with the per-page cap fused into the seq
    * sort: range-partition on `parent_seq` (so each parent's links share a
    * partition) and sort each partition by (`parent_seq`, `link_index`),
    * keep the first `cap` links of every parent in that order, and number
    * the survivors densely from `start` in the same order (zipWithIndex:
    * one count job, then the numbering pass). One shuffle, no window and
    * no single-partition bottleneck (W3).
    */
  private[graft] def capAndNumber(links: RDD[CandidateLink], cap: Int,
      start: Long, numPartitions: Int): RDD[FrontierEntry] = {
    val parents = new RangePartitioner(numPartitions, links.map(c => (c.parent_seq, ())))
    val byParent = new Partitioner {
      def numPartitions: Int = parents.numPartitions
      def getPartition(key: Any): Int = parents.getPartition(key.asInstanceOf[(Long, Int)]._1)
    }
    links.keyBy(c => (c.parent_seq, c.link_index))
      .repartitionAndSortWithinPartitions(byParent)
      .values
      .mapPartitions { cs =>
        var first = true
        var parent = 0L
        var n = 0
        cs.filter { c =>
          if (first || c.parent_seq != parent) { first = false; parent = c.parent_seq; n = 0 }
          n += 1
          n <= cap
        }
      }
      .zipWithIndex()
      .map { case (c, i) =>
        FrontierEntry(c.url, c.url_hash, c.host, c.parent_url, c.parent_depth + 1,
          start + i, c.wave, redirect_position = c.redirect_position)
      }
  }

  /** Deterministic dense sequence assignment: total sort on `orderCols`
    * then zipWithIndex — two linear passes, no single-partition window, so
    * it scales to arbitrarily large candidate sets (W3).
    */
  def assignSeq(spark: SparkSession, df: DataFrame, orderCols: Seq[String],
      start: Long, outCol: String = "seq"): DataFrame = {
    val sorted = df.orderBy(orderCols.map(col): _*)
    val schema = StructType(sorted.schema.fields :+ StructField(outCol, LongType, nullable = false))
    val indexed = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (start + i))
    }
    spark.createDataFrame(indexed, schema)
  }
}
